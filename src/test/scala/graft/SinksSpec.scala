package graft

import graft.sinks.{JdbcSink, Warehouse}
import graft.sources.{ColumnSpec, LayoutSpec, Sdf}
import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  val sdfDir = sources.SdfQueries.TestSdfDir

  test("warehouse ingest is incremental and idempotent") {
    val wh = tempDir("graft_wh_spec").toString

    val first = Warehouse.ingest(spark, s"$sdfDir/cmps_00_02.sdf", wh)
    assert(first.filesLoaded == Seq("cmps_00_02.sdf") && first.rowsLoaded == 3)
    assert(Warehouse.compounds(spark, wh).count() == 3)

    // widening the glob loads only the two files not yet in the manifest
    val second = Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    assert(second.filesLoaded == Seq("cmps_03_05.sdf", "cmps_06_07.sdf"))
    assert(Warehouse.compounds(spark, wh).count() == 8)

    // re-running the full glob is a no-op
    val third = Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    assert(third.filesLoaded.isEmpty && third.rowsLoaded == 0)
    assert(Warehouse.compounds(spark, wh).count() == 8)

    val m = Warehouse.manifest(spark, wh).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(m == Map(
      "cmps_00_02.sdf" -> ((31038L, 31040L, 3L)),
      "cmps_03_05.sdf" -> ((34516L, 34518L, 3L)),
      "cmps_06_07.sdf" -> ((46773L, 46774L, 2L))))
  }

  test("streaming SDF ingest == batch ingest; fresh-checkpoint re-run and mixed batch/stream are manifest no-ops") {
    import org.apache.spark.sql.functions.col
    def ck() = tempDir("graft_stream_ck").toString
    val whB = tempDir("graft_wh_b").toString
    val whS = tempDir("graft_wh_s").toString
    Warehouse.ingest(spark, s"$sdfDir/*.sdf", whB)
    val loaded = Warehouse.ingestStream(spark, s"$sdfDir/*.sdf", whS, ck())
    assert(loaded.sorted == Seq("cmps_00_02.sdf", "cmps_03_05.sdf", "cmps_06_07.sdf"))
    // same rows, file for file (src_filename partition included)
    def rows(wh: String) = Warehouse.compounds(spark, wh)
      .orderBy(col("cid")).collect().map(_.toString).toSeq
    assert(rows(whS) == rows(whB) && rows(whS).nonEmpty)
    def mani(wh: String) = Warehouse.manifest(spark, wh)
      .select("filename", "lowest_cid", "highest_cid", "n_compounds")
      .orderBy(col("filename")).collect().map(_.toString).toSeq
    assert(mani(whS) == mani(whB))
    // fresh checkpoint: the manifest, not stream state, de-dupes
    assert(Warehouse.ingestStream(spark, s"$sdfDir/*.sdf", whS, ck()).isEmpty)
    assert(rows(whS) == rows(whB))
    // mixed lifecycle: batch-ingest one file, stream the full glob —
    // the stream must load exactly the two files the manifest lacks
    val whM = tempDir("graft_wh_m").toString
    Warehouse.ingest(spark, s"$sdfDir/cmps_00_02.sdf", whM)
    val mixed = Warehouse.ingestStream(spark, s"$sdfDir/*.sdf", whM, ck())
    assert(mixed.sorted == Seq("cmps_03_05.sdf", "cmps_06_07.sdf"))
    assert(rows(whM) == rows(whB))
  }

  test("streaming ingest manifests a file no micro-batch can see (zero parseable CIDs)") {
    // ADVICE r19 (medium): the stream's per-batch file list derives
    // from the record frame, which is post-cid-filter — a file whose
    // records carry no CID contributes no rows to ANY batch, so
    // without the drain-time catch-up sweep it would never get its
    // n_compounds = 0 manifest row and every fresh-checkpoint run
    // would re-read it, breaking stream == batch manifest equality.
    import org.apache.spark.sql.functions.col
    def ck() = tempDir("graft_stream_ck").toString
    val src = tempDir("graft_cidless_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sdfDir/cmps_00_02.sdf"), src.resolve("cmps_00_02.sdf"))
    java.nio.file.Files.write(src.resolve("no_cids.sdf"),
      "mol-without-cid\n\n\nM  END\n$$$$\n".getBytes("UTF-8"))
    val whB = tempDir("graft_wh_cidless_b").toString
    val whS = tempDir("graft_wh_cidless_s").toString
    Warehouse.ingest(spark, s"$src/*.sdf", whB)
    val loaded = Warehouse.ingestStream(spark, s"$src/*.sdf", whS, ck())
    assert(loaded.sorted == Seq("cmps_00_02.sdf", "no_cids.sdf"))
    def mani(wh: String) = Warehouse.manifest(spark, wh)
      .select("filename", "lowest_cid", "highest_cid", "n_compounds")
      .orderBy(col("filename")).collect().map(_.toString).toSeq
    assert(mani(whS) == mani(whB))
    assert(mani(whS).exists(_.contains("no_cids.sdf")), "cid-less file missing from manifest")
    // the contract the manifest row exists for: a fresh checkpoint
    // must re-read NOTHING, including the record-less file
    assert(Warehouse.ingestStream(spark, s"$src/*.sdf", whS, ck()).isEmpty)
  }

  test("retract round-trips an all-digit src_filename byte-identically (no ghost partition)") {
    // ADVICE r19: partition-column type inference narrows '00123' to
    // int 123 on read-back, and a post-hoc cast cannot restore the
    // leading zero — the commit would then write a NEW partition
    // 'src_filename=123' and leave the retracted rows live in
    // 'src_filename=00123'. The explicit-schema stage read (and the
    // pinned compounds() read) must keep the lexical form.
    import org.apache.spark.sql.functions.col
    val src = tempDir("graft_digit_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sdfDir/cmps_00_02.sdf"), src.resolve("00123"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sdfDir/cmps_03_05.sdf"), src.resolve("00999"))
    val wh = tempDir("graft_wh_digit_spec").toString
    Warehouse.ingest(spark, s"$src/*", wh)
    val res = Warehouse.retract(spark, wh, Seq(31038L))
    assert(res.partitionsRewritten == Seq("00123") && res.rowsRetracted == 1L)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDir = new org.apache.hadoop.fs.Path(Warehouse.compoundsDir(wh))
    assert(fs.exists(new org.apache.hadoop.fs.Path(dataDir, "src_filename=00123")),
      "survivors' partition lost its lexical name")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dataDir, "src_filename=123")),
      "ghost partition written under the inference-narrowed name")
    assert(Warehouse.lookup(spark, wh, 31038L).isEmpty, "retracted cid still served")
    val left = Warehouse.compounds(spark, wh)
      .filter(col("src_filename") === "00123")
      .select("cid").collect().map(_.getLong(0)).sorted.toSeq
    assert(left == Seq(31039L, 31040L))
    assert(Warehouse.compounds(spark, wh).count() == 5)
  }

  test("warehouse retract: partition-scoped repair, manifest spans valid, untouched bytes identical") {
    import org.apache.spark.sql.functions.col
    val wh = tempDir("graft_wh_retract_spec").toString
    Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)

    def partFiles(f: String): Seq[(String, Long, Long)] = {
      val dir = new org.apache.hadoop.fs.Path(
        Warehouse.compoundsDir(wh), s"src_filename=$f")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).filter(_.isFile).toSeq
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
        .sortBy(_._1)
    }
    val untouchedBefore = partFiles("cmps_00_02.sdf")
    assert(untouchedBefore.nonEmpty)

    val res = Warehouse.retract(spark, wh, Seq(34516L, 46773L, 46774L))
    assert(res.partitionsRewritten == Seq("cmps_03_05.sdf"))
    assert(res.partitionsDropped == Seq("cmps_06_07.sdf"))
    assert(res.rowsRetracted == 3L)

    // the repaired table is exactly ingest-minus-the-set
    val left = Warehouse.compounds(spark, wh).select("cid")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(left == Seq(31038L, 31039L, 31040L, 34517L, 34518L))

    // untouched partition: byte-identical file set (path, length,
    // mtime) — dynamic overwrite must never have touched it
    assert(partFiles("cmps_00_02.sdf") == untouchedBefore,
      "untouched partition was rewritten")
    // emptied partition directory is gone
    assert(partFiles("cmps_06_07.sdf").isEmpty)

    // manifest spans are valid for the surviving data; the emptied
    // file KEEPS its row at n_compounds = 0 (re-ingest skip)
    val m = Warehouse.manifest(spark, wh).collect().map(r =>
      r.getString(0) -> ((Option(r.get(1)), Option(r.get(2)), r.getLong(4)))).toMap
    assert(m("cmps_00_02.sdf") == ((Some(31038L), Some(31040L), 3L)))
    assert(m("cmps_03_05.sdf") == ((Some(34517L), Some(34518L), 2L)))
    assert(m("cmps_06_07.sdf") == ((None, None, 0L)))

    // point lookups over the repaired warehouse
    assert(Warehouse.lookup(spark, wh, 34516L).isEmpty, "retracted cid still served")
    assert(Warehouse.lookup(spark, wh, 46774L).isEmpty, "retracted cid still served")
    val hit = Warehouse.lookup(spark, wh, 34517L).collect()
    assert(hit.length == 1 && hit(0).getAs[Long]("cid") == 34517L)

    // re-ingest is a no-op: manifest presence (even at n = 0) keeps
    // skipping every file, so retracted rows cannot resurrect
    val re = Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    assert(re.filesLoaded.isEmpty)
    assert(Warehouse.compounds(spark, wh).count() == 5)

    // retract is idempotent: the repaired spans no longer cover the
    // set, so a re-run is a pure manifest-prune no-op
    val again = Warehouse.retract(spark, wh, Seq(34516L, 46773L, 46774L))
    assert(again.rowsRetracted == 0L &&
      again.partitionsRewritten.isEmpty && again.partitionsDropped.isEmpty)
  }

  test("warehouse point lookup: manifest-span prune, partition + pk filters, miss is empty") {
    import org.apache.spark.sql.functions.col
    val wh = tempDir("graft_wh_lookup_spec").toString
    Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    // hit: exactly the reference row
    val hit = Warehouse.lookup(spark, wh, 34517L).collect()
    assert(hit.length == 1)
    assert(hit(0).getAs[Long]("cid") == 34517L)
    assert(hit(0).getAs[String]("src_filename") == "cmps_03_05.sdf")
    // key inside no manifest span: empty without touching data
    assert(Warehouse.lookup(spark, wh, 999999L).isEmpty)
    // key inside a span but absent from the file: empty after the scan
    assert(Warehouse.lookup(spark, wh, 34519L).isEmpty)
    // the scale contract past the driver route's byte bound: the
    // pruned scan reads only the spanning partition and pushes the pk
    // filter
    val plan = Warehouse.lookup(spark, wh, 34517L, graft.sources.LayoutSpec.default, -1L)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") && plan.contains("src_filename"),
      s"no partition pruning in the lookup plan:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(cid")),
      s"pk filter not pushed to the parquet scan:\n$plan")
  }

  test("secondary-index lookup: bucket pruning selects one bucket, hit and miss correct") {
    import org.apache.spark.sql.functions.col
    val wh = tempDir("graft_wh_ik_spec").toString
    Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    Warehouse.publishBucketed(spark, wh, "graft_ik_spec_table", buckets = 4, key = "InChIKey")
    val key = "WATMWPCOBBVOBS-UHFFFAOYSA-N"
    val hit = Warehouse.lookupIndexed(spark, "graft_ik_spec_table", "InChIKey", key)
    val rows = hit.collect()
    assert(rows.length == 1 && rows(0).getAs[Long]("cid") == 34517L)
    assert(Warehouse.lookupIndexed(spark, "graft_ik_spec_table", "InChIKey",
      "NOSUCHKEYAAAAA-UHFFFAOYSA-N").isEmpty)
    // the scale contract past the driver route's byte bound: the
    // scan's bucket set selects ONE of the 4 buckets and reads only
    // that bucket's files, in one task — corpus/N read, not a corpus
    // scan
    LookupSpec.assertOneBucketOneTask(spark,
      Warehouse.lookupIndexed(spark, "graft_ik_spec_table", "InChIKey", key, -1L),
      s"$wh/bucketed_graft_ik_spec_table", buckets = 4)
  }

  test("jdbc sink: Derby round-trip with post-load indexes") {
    val url = "jdbc:derby:memory:graftspec;create=true"
    val compounds = Sdf.compounds(spark, s"$sdfDir/*.sdf")
    JdbcSink.write(compounds, url, "compounds", LayoutSpec.default)

    val back = spark.read.jdbc(url, "compounds", new java.util.Properties)
    assert(back.count() == 8)
    assert(back.columns.toSeq == LayoutSpec.default.columns.map(_.name))

    // the WITH_INDEX columns got their post-load indexes
    val idx = JdbcSink.withConnection(url) { conn =>
      val rs = conn.createStatement().executeQuery(
        "SELECT CONGLOMERATENAME FROM SYS.SYSCONGLOMERATES WHERE ISINDEX")
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1).toLowerCase).toSet
    }
    LayoutSpec.default.indexedColumns.foreach { c =>
      assert(idx.contains(s"idx_$c".toLowerCase), s"missing index idx_$c in $idx")
    }
  }

  test("reset drops compounds, manifest, AND published tables (reference reset=True)") {
    val wh = tempDir("graft_wh_reset").toString
    Warehouse.ingest(spark, s"$sdfDir/cmps_00_02.sdf", wh)
    assert(Warehouse.compounds(spark, wh).count() == 3)
    Warehouse.publishBucketed(spark, wh, "graft_reset_probe", buckets = 2)
    Warehouse.reset(spark, wh, publishedTables = Seq("graft_reset_probe"))
    assert(Warehouse.manifest(spark, wh).columns.isEmpty) // empty frame
    // the published surface must NOT keep serving pre-reset rows
    assert(!spark.catalog.tableExists("graft_reset_probe"))
    val re = Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    assert(re.filesLoaded.length == 3 && Warehouse.compounds(spark, wh).count() == 8)
  }

  test("re-ingest after a crash between data write and manifest append does not duplicate rows") {
    val wh = tempDir("graft_wh_crash").toString
    Warehouse.ingest(spark, s"$sdfDir/cmps_00_02.sdf", wh)
    assert(Warehouse.compounds(spark, wh).count() == 3)
    // simulate the crash window: data landed, manifest append lost
    def rmr(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rmr); p.delete()
    }
    rmr(new java.io.File(Warehouse.manifestDir(wh)))
    // re-run: the file is un-manifested, so it is re-processed — the
    // dynamic partition overwrite must REPLACE its rows, not append
    val again = Warehouse.ingest(spark, s"$sdfDir/cmps_00_02.sdf", wh)
    assert(again.filesLoaded == Seq("cmps_00_02.sdf"))
    assert(Warehouse.compounds(spark, wh).count() == 3,
      "partition overwrite failed: rows duplicated after crash recovery")
    assert(Warehouse.manifest(spark, wh).count() == 1)
  }

  test("bucketed publish: key-equi self-join plans with no shuffle") {
    val wh = tempDir("graft_wh_bucket").toString
    Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    Warehouse.publishBucketed(spark, wh, "graft_compounds_bucketed", buckets = 4)
    val a = spark.table("graft_compounds_bucketed")
    val b = spark.table("graft_compounds_bucketed")
      .select(org.apache.spark.sql.functions.col("cid"),
        org.apache.spark.sql.functions.col("exact_mass").as("mass2"))
    val joined = a.join(b, "cid")
    assert(joined.count() == 8)
    // bucketed-on-key scan feeds the join directly — no Exchange
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
  }

  test("sql view surface answers queries like the reference DB") {
    Tables.registerViews(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      "SELECT COUNT(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey")
      .collect()(0).getLong(0)
    assert(n > 0)
  }

  test("compaction collapses small files, preserves rows, and leaves ingest idempotent") {
    val wh = tempDir("graft_wh_compact").toString
    // three separate ingests → three partitions, each with its own file set
    Warehouse.ingest(spark, s"$sdfDir/cmps_00_02.sdf", wh)
    Warehouse.ingest(spark, s"$sdfDir/cmps_03_05.sdf", wh)
    Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    val before = Warehouse.compounds(spark, wh).collect().map(_.toString).sorted
    def fileCount: Long = {
      val dir = new org.apache.hadoop.fs.Path(Warehouse.compoundsDir(wh))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).filter(_.isDirectory)
        .map(p => fs.listStatus(p.getPath)
          .count(s => s.isFile && s.getPath.getName.endsWith(".parquet")).toLong).sum
    }
    val filesBefore = fileCount
    val filesAfter = Warehouse.compact(spark, wh)
    assert(filesAfter == 3, s"expected one file per partition, got $filesAfter") // tiny partitions → 1 file each
    assert(filesAfter <= filesBefore)
    assert(fileCount == filesAfter)
    val after = Warehouse.compounds(spark, wh).collect().map(_.toString).sorted
    assert(after.sameElements(before), "compaction changed table contents")
    // manifest untouched → re-ingest is still a no-op
    val re = Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    assert(re.filesLoaded.isEmpty && re.rowsLoaded == 0)
  }

  test("compact recovers from a crash between the two swap renames") {
    val wh = tempDir("graft_wh_midswap").toString
    Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    val before = Warehouse.compounds(spark, wh).collect().map(_.toString).sorted
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(Warehouse.compoundsDir(wh))
    val tmp = new org.apache.hadoop.fs.Path(s"${Warehouse.compoundsDir(wh)}.compact_tmp")
    val old = new org.apache.hadoop.fs.Path(s"${Warehouse.compoundsDir(wh)}.compact_old")
    val fs = dir.getFileSystem(conf)
    // simulate the worst crash window: the rewrite (tmp) is complete,
    // the table is staged aside (old), the swap-in never ran — the
    // canonical path is EMPTY
    org.apache.hadoop.fs.FileUtil.copy(fs, dir, fs, tmp, false, conf)
    assert(fs.rename(dir, old))
    assert(!fs.exists(dir))
    Warehouse.compact(spark, wh) // must complete the swap, then compact normally
    val after = Warehouse.compounds(spark, wh).collect().map(_.toString).sorted
    assert(after.sameElements(before), "recovery lost or duplicated rows")
    assert(!fs.exists(tmp) && !fs.exists(old), "recovery left stranded directories")
  }

  test("compact refuses the ambiguous state where an ingest re-created the table mid-crash") {
    val wh = tempDir("graft_wh_ambiguous").toString
    Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(Warehouse.compoundsDir(wh))
    val tmp = new org.apache.hadoop.fs.Path(s"${Warehouse.compoundsDir(wh)}.compact_tmp")
    val old = new org.apache.hadoop.fs.Path(s"${Warehouse.compoundsDir(wh)}.compact_old")
    val fs = dir.getFileSystem(conf)
    // mid-swap crash (old + tmp hold the full table, dir gone)...
    org.apache.hadoop.fs.FileUtil.copy(fs, dir, fs, tmp, false, conf)
    assert(fs.rename(dir, old))
    // ...then an ingest re-creates dir with only new partitions: no
    // mechanical recovery is safe — compact must refuse, not delete
    // the only full copies (old/tmp) or drop the manifested ingest
    fs.mkdirs(dir)
    val err = intercept[IllegalArgumentException] { Warehouse.compact(spark, wh) }
    assert(err.getMessage.contains("Manually merge"), err.getMessage)
    assert(fs.exists(old) && fs.exists(tmp), "refusal must leave all copies intact")
  }

  test("compact discards a stale rewrite when the canonical table is intact") {
    val wh = tempDir("graft_wh_staletmp").toString
    Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    val before = Warehouse.compounds(spark, wh).collect().map(_.toString).sorted
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(Warehouse.compoundsDir(wh))
    val tmp = new org.apache.hadoop.fs.Path(s"${Warehouse.compoundsDir(wh)}.compact_tmp")
    val fs = dir.getFileSystem(conf)
    // a half-written rewrite from a crash before the swap began
    fs.mkdirs(tmp)
    Warehouse.compact(spark, wh)
    val after = Warehouse.compounds(spark, wh).collect().map(_.toString).sorted
    assert(after.sameElements(before))
    assert(!fs.exists(tmp))
  }

  test("a manifest past the collect bound switches to the distributed anti-join path") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val wh = tempDir("graft_wh_bigmanifest").toString
    // seed a manifest larger than ManifestCollectMax with unrelated
    // filenames — the skip set must NOT be collected to the driver,
    // and none of these rows may block the real files
    spark.range(Warehouse.ManifestCollectMax + 1L)
      .select(concat(lit("fake_"), col("id"), lit(".sdf")).as("filename"),
        col("id").as("lowest_cid"), col("id").as("highest_cid"),
        lit("2026-01-01").as("date_added"), lit(1L).as("n_compounds"))
      .write.mode("overwrite").parquet(Warehouse.manifestDir(wh))
    val r1 = Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    assert(r1.filesLoaded.nonEmpty && r1.rowsLoaded > 0)
    // idempotence must hold through the anti-join path too
    val r2 = Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    assert(r2.filesLoaded.isEmpty && r2.rowsLoaded == 0)
  }

  test("jdbc sink: non-indexed text loads unbounded values (CLOB, not capped VARCHAR)") {
    import spark.implicits._
    val layout = LayoutSpec(Seq(
      ColumnSpec("cid", Seq("T"), "integer", primaryKey = true),
      ColumnSpec("InChIKey", Seq("K"), "varchar", withIndex = true),
      ColumnSpec("InChI", Seq("I"), "varchar"))) // not indexed → dialect CLOB
    // a value far beyond any sane VARCHAR default — the round-2 cap
    // of 1024 would abort/truncate a real PubChem macromolecule InChI
    val longInChI = "InChI=1S/" + ("C10H16N5O13P3" * 800)
    val url = "jdbc:derby:memory:graftclob;create=true"
    JdbcSink.write(
      Seq((1L, "XLYOFNOQVPJJNP-UHFFFAOYSA-N", longInChI)).toDF("cid", "InChIKey", "InChI"),
      url, "compounds", layout)
    val back = spark.read.jdbc(url, "compounds", new java.util.Properties).collect()
    assert(back.length == 1 && back(0).getString(2) == longInChI)
    val colType = JdbcSink.withConnection(url) { conn =>
      val rs = conn.createStatement().executeQuery("""SELECT "InChI" FROM compounds""")
      rs.getMetaData.getColumnTypeName(1)
    }
    assert(colType == "CLOB", s"non-indexed text mapped to $colType, not CLOB")
  }

  test("jdbc sink dedups on primary key deterministically") {
    import spark.implicits._
    val layout = LayoutSpec(Seq(
      ColumnSpec("cid", Seq("T"), "integer", primaryKey = true),
      ColumnSpec("name", Seq("N"), "varchar")))
    val df = Seq((1L, "b"), (1L, "a"), (2L, "z")).toDF("cid", "name")
    val out = JdbcSink.dedupByPrimaryKey(df, layout)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "a"), (2L, "z"))) // lexicographically smallest row wins
  }

  test("z-order layout prunes files on BOTH axes where a linear sort prunes one") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sinks.ZOrder
    // deterministic uniform grid: 200k points over [0,10000)²
    val n = 200000
    val df = spark.range(n.toLong)
      .select(col("id"),
        (col("id") * 7919 % 10000).as("x"),   // co-prime stride: uniform, decorrelated
        (col("id") * 104729 % 10000).as("y"))
    val zdir = tempDir("graft_zspec_z").toString
    val ldir = tempDir("graft_zspec_l").toString
    ZOrder.publishZOrdered(df, "x", "y", zdir, files = 64)
    df.repartitionByRange(64, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(ldir)

    // per-file min/max stats (what parquet footers carry), one job per layout
    def fileStats(dir: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("x"), max("x"), min("y"), max("y"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val zStats = fileStats(zdir)
    val lStats = fileStats(ldir)
    assert(zStats.length == 64 && lStats.length == 64)

    def touched(stats: Array[(Long, Long, Long, Long)],
                xr: Option[(Long, Long)], yr: Option[(Long, Long)]): Int =
      stats.count { case (xlo, xhi, ylo, yhi) =>
        xr.forall { case (a, b) => xhi >= a && xlo <= b } &&
          yr.forall { case (a, b) => yhi >= a && ylo <= b }
      }

    val yBand = Some((2000L, 2999L)) // 10% of the y domain
    val xBand = Some((2000L, 2999L))
    // the linear-x layout cannot prune a y-only predicate at all
    assert(touched(lStats, None, yBand) == 64,
      "x-sorted layout unexpectedly pruned a y predicate — test premise broken")
    // The z-order layout must prune most files on the SAME predicate.
    // Bounds are deliberately loose: repartitionByRange draws SAMPLE-
    // based boundaries, so file rectangles vary run to run (a ≤24
    // bound measured 25 once). ≤32 still discriminates hard against
    // the broken layout's 64 while never flaking on sampling jitter.
    val zY = touched(zStats, None, yBand)
    assert(zY <= 32, s"z-order touched $zY/64 files for a 10% y band")
    // and the 1% box must touch only a corner of the curve
    val zBox = touched(zStats, xBand, yBand)
    assert(zBox <= 20, s"z-order touched $zBox/64 files for a 1% box")
    // x predicates keep pruning too (both layouts cluster x)
    val zX = touched(zStats, xBand, None)
    assert(zX <= 32, s"z-order touched $zX/64 files for a 10% x band")
  }

  test("z-order append maintenance: slice-sized appends keep pruning; recluster restores the layout") {
    import org.apache.spark.sql.functions._
    import graft.sinks.ZOrder
    val n = 200000
    val df = spark.range(n.toLong)
      .select(col("id"),
        (col("id") * 7919 % 10000).as("x"),
        (col("id") * 104729 % 10000).as("y"))
    val base = df.filter(col("id") < (n * 9 / 10))
    val slice = df.filter(col("id") >= (n * 9 / 10))
    val dir = tempDir("graft_zspec_app").toString
    try {
      ZOrder.publishZOrdered(base, "x", "y", dir, files = 58)
      ZOrder.appendZOrdered(slice, "x", "y", dir, files = 6)

      def rowsOf = spark.read.parquet(dir).select("id", "x", "y")
        .collect().map(_.toString).toSet
      val want = df.collect().map(_.toString).toSet
      // query equivalence: the unioned layout IS the table
      assert(rowsOf == want, "base+append layout lost or duplicated rows")

      def stats(): Array[(Long, Long, Long, Long)] =
        spark.read.parquet(dir)
          .groupBy(input_file_name())
          .agg(min("x"), max("x"), min("y"), max("y"))
          .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      def touched(st: Array[(Long, Long, Long, Long)],
                  xr: Option[(Long, Long)], yr: Option[(Long, Long)]): Int =
        st.count { case (xlo, xhi, ylo, yhi) =>
          xr.forall { case (a, b) => xhi >= a && xlo <= b } &&
            yr.forall { case (a, b) => yhi >= a && ylo <= b }
        }
      val yBand = Some((2000L, 2999L))
      val xBand = Some((2000L, 2999L))
      val appended = stats()
      assert(appended.length == 64, s"expected 58+6 files, found ${appended.length}")
      // every file — base or appended batch — still carries a bounded
      // rectangle: the 10% band and 1% box must keep pruning (bounds =
      // the full-publish spec's, widened by the append's 6 own files)
      assert(touched(appended, None, yBand) <= 38,
        s"appended layout touched ${touched(appended, None, yBand)}/64 for a 10% y band")
      assert(touched(appended, xBand, yBand) <= 26,
        s"appended layout touched ${touched(appended, xBand, yBand)}/64 for the 1% box")

      // empty nightly slice (a plausible steady-state event): the
      // append must no-op, not NPE on the all-null bounds row
      ZOrder.appendZOrdered(slice.filter(col("id") < 0), "x", "y", dir, files = 6)
      assert(rowsOf == want, "empty append changed the table")

      ZOrder.reclusterZOrdered(spark, dir, "x", "y", files = 64)
      assert(rowsOf == want, "recluster lost or duplicated rows")
      val reclustered = stats()
      assert(reclustered.length == 64)
      // back to the full-publish pruning contract
      assert(touched(reclustered, None, yBand) <= 32,
        s"reclustered layout touched ${touched(reclustered, None, yBand)}/64 for a 10% y band")
      assert(touched(reclustered, xBand, yBand) <= 20,
        s"reclustered layout touched ${touched(reclustered, xBand, yBand)}/64 for the 1% box")
    } finally {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir)
      Seq(root, java.nio.file.Paths.get(dir + ".zcluster_tmp"),
          java.nio.file.Paths.get(dir + ".zcluster_old"))
        .filter(java.nio.file.Files.exists(_))
        .foreach(p => java.nio.file.Files.walk(p).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(q => java.nio.file.Files.deleteIfExists(q)))
    }
  }

  test("warehouseZOrder entry runs end-to-end and matches querying the source directly") {
    import org.apache.spark.sql.functions._
    import graft.sinks.ZOrder
    // Calls the REGISTERED entry itself (publish + read-back +
    // filter + agg) — the publishZOrdered-only spec is how a
    // TIMESTAMP_NTZ analysis error in the entry shipped unseen.
    val dir = "/root/testdata/sf0.001"
    val got = ZOrder.warehouseZOrder(spark, dir).collect()
    assert(got.nonEmpty, "warehouse_zorder returned no rows at sf0.001")
    val want = graft.Tables.orders(spark, dir)
      .filter(col("o_totalprice").between(ZOrder.BoxPriceLo, ZOrder.BoxPriceHi) &&
        col("o_orderdate").between(
          lit(ZOrder.BoxDateLo).cast("timestamp_ntz"),
          lit(ZOrder.BoxDateHi).cast("timestamp_ntz")))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), graft.Exact.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
      .collect()
    assert(got.map(_.toString).toSeq == want.map(_.toString).toSeq,
      "z-ordered read-back disagrees with querying the source directly")
  }

  // ---- footer bookkeeping, on generated inputs ----

  /** A generated source dir of `n` files of 40 records (cids 1..40n). */
  private def generated(n: Int): java.nio.file.Path = {
    val root = tempDir("graft_wh_gen")
    SdfScaleBench.generate(root.toString, nFiles = n, molsPerFile = 40)
    root.resolve("sdf")
  }

  private def manifestRows(wh: String): Seq[org.apache.spark.sql.Row] =
    Warehouse.manifest(spark, wh).orderBy("filename").collect().toSeq

  private def compoundRows(wh: String): Seq[String] =
    Warehouse.compounds(spark, wh).orderBy("cid").collect().map(_.toString).toSeq

  test("ingest's footer-read manifest rows and row count equal the aggregate route's, in at most 2 jobs") {
    import java.nio.file.Files
    val src = generated(3)
    // every record loses its NOT_NULL InChI: n_compounds 0, a null span
    Files.writeString(src.resolve("all_dropped.sdf"), Files.readString(src.resolve("Compound_00000.sdf"))
      .replaceAll("> <PUBCHEM_IUPAC_INCHI>\n[^\n]*\n\n", ""))
    // a name Spark escapes in the partition path, and an all-digit name
    Files.move(src.resolve("Compound_00001.sdf"), src.resolve("cmp=1.sdf"))
    Files.move(src.resolve("Compound_00002.sdf"), src.resolve("00123"))
    val wh = tempDir("graft_wh_footer").toString
    val todo = Warehouse.listSdfFiles(spark, s"$src/*")
    val (want, wantRows) = WarehouseReference.aggregateManifest(spark, Sdf.read(spark, todo), todo)
    assert(want.length == 4 && wantRows == 120L)
    val (r, jobs) = LookupSpec.jobsOf(spark)(Warehouse.ingest(spark, s"$src/*", wh))
    assert(jobs <= 2, s"an ingest of ${todo.length} files ran $jobs jobs")
    assert(r.rowsLoaded == wantRows)
    assert(r.filesLoaded.sorted == Seq("00123", "Compound_00000.sdf", "all_dropped.sdf", "cmp=1.sdf"))
    assert(manifestRows(wh) == want)
    assert(new java.io.File(Warehouse.manifestDir(wh)).listFiles.count(_.getName.endsWith(".parquet")) == 1,
      "the manifest append is one single-part write")
    val dropped = want.find(_.getString(0) == "all_dropped.sdf").get
    assert(dropped.isNullAt(1) && dropped.isNullAt(2) && dropped.getLong(4) == 0L, dropped)
    assert(new java.io.File(s"${Warehouse.compoundsDir(wh)}/src_filename=cmp%3D1.sdf").isDirectory)
    // the no-op re-ingest and the manifest read-back run no job, and
    // the read-back has the scan's schema
    val (again, againJobs) = LookupSpec.jobsOf(spark)(Warehouse.ingest(spark, s"$src/*", wh))
    assert(again == Warehouse.IngestResult(Nil, 0L) && againJobs == 0, s"$againJobs jobs")
    val (m, mJobs) = LookupSpec.jobsOf(spark)(Warehouse.manifest(spark, wh).collect())
    assert(mJobs == 0 && m.toSeq.sortBy(_.getString(0)) == want, s"$mJobs jobs")
    assert(Warehouse.manifest(spark, wh).schema ==
      Tables.parquetCached(spark, Warehouse.manifestDir(wh)).schema)
    assert(Warehouse.lookup(spark, wh, 50L).collect().map(_.getAs[String]("src_filename")).toSeq == Seq("cmp=1.sdf"))
    assert(Warehouse.lookup(spark, wh, 100L).collect().map(_.getAs[String]("src_filename")).toSeq == Seq("00123"))
  }

  test("ingestStream's footer-read manifest rows equal the aggregate route's") {
    val src = generated(3)
    val wh = tempDir("graft_wh_footer_stream").toString
    val loaded = Warehouse.ingestStream(spark, s"$src/*.sdf", wh, tempDir("graft_stream_ck").toString)
    val todo = Warehouse.listSdfFiles(spark, s"$src/*.sdf")
    val (want, wantRows) = WarehouseReference.aggregateManifest(spark, Sdf.read(spark, todo), todo)
    assert(loaded.sorted == Seq("Compound_00000.sdf", "Compound_00001.sdf", "Compound_00002.sdf"))
    assert(manifestRows(wh) == want && Warehouse.compounds(spark, wh).count() == wantRows)
  }

  test("a re-run after a crash between the data write and the manifest append overwrites the partition") {
    import org.apache.spark.sql.functions.col
    val src = generated(2)
    val wh = tempDir("graft_wh_footer_crash").toString
    Warehouse.ingest(spark, s"$src/*.sdf", wh)
    val (rows, manifest) = (compoundRows(wh), manifestRows(wh))
    // the crash window for Compound_00001.sdf: its data landed, its
    // manifest row did not
    Warehouse.manifest(spark, wh).filter(col("filename") === "Compound_00000.sdf")
      .write.mode("overwrite").parquet(Warehouse.manifestDir(wh))
    val again = Warehouse.ingest(spark, s"$src/*.sdf", wh)
    assert(again == Warehouse.IngestResult(Seq("Compound_00001.sdf"), 40L))
    assert(compoundRows(wh) == rows, "rows duplicated after crash recovery")
    assert(manifestRows(wh) == manifest)
  }

  test("compact keeps every row in its partition, in at most 5 jobs") {
    val src = generated(3)
    val wh = tempDir("graft_wh_footer_compact").toString
    (0 until 3).foreach(i => Warehouse.ingest(spark, f"$src/Compound_$i%05d.sdf", wh))
    Warehouse.ingest(spark, s"$src/*.sdf", wh)
    val rows = compoundRows(wh)
    val (files, jobs) = LookupSpec.jobsOf(spark)(Warehouse.compact(spark, wh))
    assert(jobs <= 5, s"compact ran $jobs jobs")
    assert(files == 3L && compoundRows(wh) == rows)
    assert(Warehouse.ingest(spark, s"$src/*.sdf", wh).filesLoaded.isEmpty)
  }

  test("past the manifest collect bound, ingest stays idempotent and the manifest stays a scan") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val wh = tempDir("graft_wh_footer_big").toString
    spark.range(Warehouse.ManifestCollectMax + 1L)
      .select(concat(lit("fake_"), col("id"), lit(".sdf")).as("filename"),
        col("id").as("lowest_cid"), col("id").as("highest_cid"),
        lit("2026-01-01").as("date_added"), lit(1L).as("n_compounds"))
      .write.mode("overwrite").parquet(Warehouse.manifestDir(wh))
    val src = generated(2)
    assert(Warehouse.ingest(spark, s"$src/*.sdf", wh) ==
      Warehouse.IngestResult(Seq("Compound_00000.sdf", "Compound_00001.sdf"), 80L))
    assert(Warehouse.ingest(spark, s"$src/*.sdf", wh) == Warehouse.IngestResult(Nil, 0L))
    val m = Warehouse.manifest(spark, wh)
    assert(!LookupSpec.isLocal(m) && m.count() == Warehouse.ManifestCollectMax + 3L)
    assert(Warehouse.lookup(spark, wh, 60L).collect().map(_.getAs[Long]("cid")).toSeq == Seq(60L))
  }

  test("ingest over a glob that matches no file: loud on a fresh warehouse, a no-op on an existing one") {
    val root = tempDir("graft_wh_nomatch").toString
    val glob = s"$root/dump/*.sdf.gz"
    val wh = s"$root/wh"
    val e = intercept[IllegalArgumentException](Warehouse.ingest(spark, glob, wh))
    assert(e.getMessage.contains(glob) && e.getMessage.contains(wh), e.getMessage)
    assert(!new java.io.File(wh).exists(), "the failed ingest wrote a warehouse")
    Warehouse.ingest(spark, s"${generated(1)}/*.sdf", wh)
    val m = manifestRows(wh)
    // an empty nightly dump against a built warehouse
    assert(Warehouse.ingest(spark, glob, wh) == Warehouse.IngestResult(Nil, 0L))
    assert(manifestRows(wh) == m)
  }
}
