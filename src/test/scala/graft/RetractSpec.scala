package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Retraction correctness: the repaired persisted state tables must
  * equal what a from-scratch rebuild on the REDUCED corpus produces
  * (the takedown contract), the cluster repair must handle the one
  * graph case the incremental merge path cannot (component SPLIT),
  * and split sides must stay sticky (delete-only) without ever
  * creating a cross-side near-dup pair. */
class RetractSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  val dir = "/root/testdata/sf0.001"
  import operators.{Curation, Dedup, Pack, Retract, TextOps}

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("touchedRelabel: removing a cut vertex splits the component; untouched components never emit") {
    import spark.implicits._
    val full = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_root")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val ret = Seq(2L).toDF("doc_id")
    val parts = Retract.touchedRelabel(full, pairs, ret)
    assert(parts.touchedRoots.collect().map(_.getLong(0)).toSet == Set(1L))
    assert(parts.members.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // surviving pairs within the touched component: none (both pairs
    // had endpoint 2) — docs 1 and 3 fall out of the label relation
    assert(parts.newLabels.collect().isEmpty)
    // and a genuine split: component {1,2,3,4} with chain 1-2-3-4,
    // retract 2 → fragments {1} (singleton) and {3,4}
    val full2 = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)).toDF("doc_id", "cluster_root")
    val pairs2 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val parts2 = Retract.touchedRelabel(full2, pairs2, ret)
    val lab2 = parts2.newLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab2 == Map(3L -> 3L, 4L -> 3L))
  }

  // ---- shared fixture: repair on the real corpus, then rebuild on a
  // reduced copy, comparing table by table. The repaired snapshots
  // are COLLECTED before any tempDir builder runs, because builders
  // write to the same global stage paths. ----
  private lazy val fixture: (Map[String, Set[String]], Array[Byte], String) = {
    Retract.Repair.ensure(spark, dir)
    val repaired = Map(
      "tfidf"   -> rows(spark.read.parquet(Retract.RetTfidfPath)),
      "ngram"   -> rows(spark.read.parquet(Retract.RetNgramFreqPath)),
      "windows" -> rows(spark.read.parquet(Retract.RetWindowPath)),
      "sketch"  -> rows(spark.read.parquet(Retract.RetSketchPath)),
      "simhash" -> rows(spark.read.parquet(Retract.RetSimhashPath)),
      "hashes"  -> rows(spark.read.parquet(Retract.RetHashPath)),
      "labels"  -> rows(spark.read.parquet(Retract.RetLabelPath)),
      "sides"   -> rows(spark.read.parquet(Retract.RetSplitSidesPath)),
      "measure" -> rows(spark.read.parquet(Retract.RetMeasurePath)))
    val cms = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Retract.RetCmsPath))
    val docs = Tables.documents(spark, dir)
    // the reduced-corpus rebuild only has the same old/fresh split if
    // the max doc_id survives the takedown — guard it loudly
    val maxRetracted = docs.filter(Retract.takedownPred)
      .agg(max(col("doc_id"))).head.getLong(0)
    val maxAll = docs.agg(max(col("doc_id"))).head.getLong(0)
    assert(maxRetracted != maxAll,
      "fixture invalid: the max doc_id is in the takedown set, the reduced corpus would shift the split")
    val tmp = tempDir("graft_retract").toString
    docs.filter(!Retract.takedownPred)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    (repaired, cms, tmp)
  }

  test("repaired per-doc state tables equal a from-scratch rebuild on the reduced corpus") {
    val (repaired, repairedCms, tmp) = fixture
    assert(rows(Curation.TfidfState.table(spark, tmp)) == repaired("tfidf"))
    assert(rows(Dedup.SimhashSigs.table(spark, tmp)) == repaired("simhash"))
    assert(rows(Pack.ShardMeasure.table(spark, tmp)) == repaired("measure"))
    assert(rows(Dedup.MinhashSketch.table(spark, tmp)) == repaired("sketch"))
    // the sketch rebuild also rewrites the CMS at its global path —
    // byte-compare against the repaired CMS
    val rebuiltCms = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Dedup.ShingleCmsPath))
    assert(java.util.Arrays.equals(rebuiltCms, repairedCms),
      "repaired CMS must equal the reduced-corpus rebuild byte-for-byte")
  }

  test("repaired additive-count tables subtract exactly (bigrams, window totals, hash refcounts)") {
    val (repaired, _, tmp) = fixture
    assert(rows(TextOps.NgramFreqState.table(spark, tmp)) == repaired("ngram"))
    assert(rows(Dedup.SubstringWindows.table(spark, tmp)) == repaired("windows"))
    assert(rows(Dedup.CorpusHashes.table(spark, tmp)) == repaired("hashes"))
  }

  test("repaired cluster labels equal the closure over the reduced corpus's own pairs") {
    val (repaired, _, tmp) = fixture
    val rebuilt = Curation.connectedComponents(
        Dedup.NgramPairs.table(spark, tmp)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("v").as("doc_id"), col("lab").as("cluster_root"))
    assert(rows(rebuilt) == repaired("labels"))
  }

  test("split sides are sticky: delete-only, and deletion creates no cross-side pair") {
    val (repaired, _, _) = fixture
    // delete-only: repaired == persisted minus the takedown rows
    val expected = rows(Curation.SplitSides.table(spark, dir)
      .join(broadcast(Tables.documents(spark, dir)
        .filter(Retract.takedownPred).select(col("doc_id"))),
        Seq("doc_id"), "left_anti"))
    assert(expected == repaired("sides"))
    // property: no surviving old-old pair straddles sides under the
    // repaired table (deletion only splits components; fragments
    // inherit the one side the whole component had)
    val sides = spark.read.parquet(Retract.RetSplitSidesPath)
    val ret = Tables.documents(spark, dir).filter(Retract.takedownPred)
      .select(col("doc_id"))
    val surv = Dedup.NgramPairs.table(spark, dir)
      .join(broadcast(ret.withColumnRenamed("doc_id", "doc_a")), Seq("doc_a"), "left_anti")
      .join(broadcast(ret.withColumnRenamed("doc_id", "doc_b")), Seq("doc_b"), "left_anti")
    val crossers = surv
      .join(sides.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("side", "sa"), Seq("doc_a"))
      .join(sides.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("side", "sb"), Seq("doc_b"))
      .filter(col("sa") =!= col("sb"))
    assert(crossers.count() == 0, "a surviving near-dup pair crosses train/val after retraction")
  }

  test("retract_docs equals the full tf-idf operator run on the reduced corpus") {
    val (_, _, tmp) = fixture
    val viaRepair = Retract.retractDocs(spark, dir).collect().map(_.toString).toSeq
    val fromScratch = Curation.tfidfTopTerms(spark, tmp).collect().map(_.toString).toSeq
    assert(viaRepair.nonEmpty && viaRepair == fromScratch)
  }

  test("retract_substring_profile equals the incremental profile run on the reduced corpus") {
    val (_, _, tmp) = fixture
    val viaRepair = Retract.retractSubstringProfile(spark, dir).collect().map(_.toString).toSeq
    val fromScratch = Dedup.dedupSubstringIncremental(spark, tmp).collect().map(_.toString).toSeq
    assert(viaRepair.nonEmpty && viaRepair == fromScratch)
  }

  test("retract_vectors: delete-only rows, PARTITION-scoped rewrite, retracted vecs unservable") {
    import operators.{Retract, Similarity}
    val served = Similarity.retractVectors(spark, dir).collect()
    assert(served.nonEmpty)
    val retv = Tables.embeddings(spark, dir)
      .filter(Retract.takedownPredOn(col("vec_id")))
      .collect().map(_.getLong(0)).toSet
    assert(retv.nonEmpty, "sf0.001 takedown retracts no vector — widen TakedownMod")
    // the repaired warehouse can never serve a retracted vector
    assert(served.map(_.getLong(1)).toSet.intersect(retv).isEmpty,
      "a retracted vector appeared in probe results")
    val (listsPath, codesPath) = Similarity.retractRepairedPaths(spark, dir)

    def sortedRows(p: String): Set[String] = {
      val df = spark.read.parquet(p)
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSet
    }
    def minusRet(p: String): Set[String] = {
      val df = spark.read.parquet(p).filter(!col("vec_id").isin(retv.toSeq: _*))
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSet
    }
    // delete-only semantics on BOTH vec-keyed tables (assignment and
    // encoding are per-row deterministic, so this IS the from-scratch
    // rebuild under the same index version)
    assert(sortedRows(Similarity.RetractedListsPath) == minusRet(listsPath))
    assert(sortedRows(Similarity.RetractedCodesPath) == minusRet(codesPath))

    // partition-scoped rewrite: unaffected partition dirs keep the
    // COPIED files byte-names; affected ones carry fresh write names
    def partFiles(root: String, partCol: String): Map[String, Set[String]] = {
      val d = new java.io.File(root)
      d.listFiles().filter(f => f.isDirectory && f.getName.startsWith(partCol + "="))
        .map(f => f.getName -> f.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    }
    def affectedVals(p: String, partCol: String): Set[String] =
      spark.read.parquet(p).filter(col("vec_id").isin(retv.toSeq: _*))
        .select(col(partCol).cast("string")).distinct()
        .collect().map(r => s"$partCol=${r.getString(0)}").toSet
    for ((src, rep, pc) <- Seq(
        (listsPath, Similarity.RetractedListsPath, "cid"),
        (codesPath, Similarity.RetractedCodesPath, "pg"))) {
      val srcParts = partFiles(src, pc)
      val repParts = partFiles(rep, pc)
      val affected = affectedVals(src, pc)
      assert(affected.nonEmpty)
      val unaffected = srcParts.keySet -- affected
      assert(unaffected.nonEmpty,
        s"every $pc partition was affected — the partition-scoped claim is untestable here")
      unaffected.foreach { part =>
        assert(repParts.get(part).contains(srcParts(part)),
          s"unaffected $part was rewritten (file names changed) — repair is not partition-scoped")
      }
      affected.foreach { part =>
        // rewritten with survivors -> fresh file names; fully
        // retracted -> directory gone
        assert(!repParts.get(part).contains(srcParts(part)),
          s"affected $part still carries the original files — retracted rows not rewritten")
      }
    }
  }

  test("retract_clusters emits only touched survivors, rooted consistently with the repaired table") {
    val out = Retract.retractClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty, "sf0.001 takedown touches no cluster — widen TakedownMod")
    val ret = Tables.documents(spark, dir).filter(Retract.takedownPred)
      .collect().map(_.getLong(0)).toSet
    assert(out.keySet.intersect(ret).isEmpty, "a retracted doc appears in the output")
    // every non-singleton output row must agree with the repaired
    // label table; singleton rows must be absent from it
    val repairedLabels = spark.read.parquet(Retract.RetLabelPath).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (d, r) =>
      repairedLabels.get(d) match {
        case Some(rr) => assert(rr == r, s"doc $d: entry says $r, repaired table says $rr")
        case None     => assert(r == d, s"doc $d absent from repaired labels must be its own root")
      }
    }
  }

  /** The local file system's metadata calls, (call, path), made while
    * `body` runs. */
  private def fsCalls(body: => Unit): Seq[(String, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    // uncached, so every FileSystem.get during the call is a counting
    // instance and none of them outlives it in the shared FS cache
    conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    CountingLocalFs.calls.clear()
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    import scala.jdk.CollectionConverters._
    val calls = CountingLocalFs.calls.asScala.toSeq
    assert(calls.nonEmpty, "the counting file system was not installed")
    calls
  }

  test("a warm repair lists documents.parquet at most once") {
    Retract.Repair.ensure(spark, dir)
    val docs = new org.apache.hadoop.fs.Path(Tables.path(dir, "documents")).toUri.getPath
    val listings = fsCalls(Retract.Repair.ensure(spark, dir)).count(_ == ("listStatus" -> docs))
    assert(listings <= 1, s"a warm repair listed $docs $listings times")
  }

  test("the staged component labels are one file each, so a warm scan stats one part file per table") {
    val tables = Seq(Curation.ClusterLabels, Retract.FullClusterLabels)
    tables.foreach(_.ensure(spark, dir))
    tables.foreach { t =>
      val parts = new java.io.File(t.path).list().filter(_.startsWith("part-")).toSeq
      assert(parts.size == 1, s"${t.path} holds ${parts.size} part files")
    }
    def warm(): Unit = {
      Retract.retractClusters(spark, dir).collect()
      Curation.dedupClustersIncremental(spark, dir).collect()
    }
    warm()
    val statted = fsCalls(warm()).collect {
      case ("getFileStatus", p) if tables.exists(t => p.startsWith(s"${t.path}/part-")) => p
    }
    assert(statted.distinct.size <= tables.size, s"label part files statted: ${statted.distinct}")
  }
}

/** The local file system, counting its metadata calls by (call, path). */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  private def hit(call: String, p: Path): Unit = CountingLocalFs.calls.add(call -> p.toUri.getPath)
  override def globStatus(p: Path): Array[FileStatus] = { hit("globStatus", p); super.globStatus(p) }
  override def listStatus(p: Path): Array[FileStatus] = { hit("listStatus", p); super.listStatus(p) }
  override def getFileStatus(p: Path): FileStatus = { hit("getFileStatus", p); super.getFileStatus(p) }
}

object CountingLocalFs {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
}
