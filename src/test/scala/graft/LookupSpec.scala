package graft

import graft.sinks.Warehouse
import graft.sources.LayoutSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.scalatest.funsuite.AnyFunSuite

/** Point lookups on a generated, layout-faithful corpus
  * ([[SdfScaleBench.generate]]): the zero-job driver reads of the
  * candidate files (cid candidates from the manifest span snapshot,
  * InChIKey candidates from the key's bucket), their equivalence with
  * the scan route past the byte bound, the scan route's plan, and
  * freshness through every warehouse write. */
class LookupSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  /** 4 files x 200 records (cids 1..800) under a fresh root. In file 1
    * (cids 201..400) cid 250 is removed and cid 260 loses its NOT_NULL
    * InChI, so both sit inside that file's manifest span but hold no
    * row; cid 270 loses its (nullable) XLOGP3. Returns (root, glob,
    * warehouse). */
  private def corpus(): (String, String, String) = {
    val root = tempDir("graft_lookup_spec").toString
    val glob = SdfScaleBench.generate(root, nFiles = 4, molsPerFile = 200)
    val f1 = java.nio.file.Paths.get(root, "sdf", "Compound_00001.sdf")
    val recs = java.nio.file.Files.readString(f1).split("\\$\\$\\$\\$\n", -1).toSeq.init
    val edited = recs.filterNot(_.startsWith("mol-250\n")).map(r =>
      if (r.startsWith("mol-260\n")) r.replaceAll("> <PUBCHEM_IUPAC_INCHI>\n[^\n]*\n\n", "")
      else if (r.startsWith("mol-270\n")) r.replaceAll("> <PUBCHEM_XLOGP3(_AA)?>\n[^\n]*\n\n", "")
      else r)
    java.nio.file.Files.writeString(f1, edited.map(_ + "$$$$\n").mkString)
    (root, glob, s"$root/wh")
  }

  private def cids(df: DataFrame): Seq[Long] = df.select("cid").collect().map(_.getLong(0)).toSeq

  test("cid lookups: a hit, and the absent-in-span, NOT_NULL-dropped and past-last misses") {
    val (_, glob, wh) = corpus()
    assert(Warehouse.ingest(spark, glob, wh).rowsLoaded == 798)
    val span = Warehouse.manifest(spark, wh).filter("filename = 'Compound_00001.sdf'")
      .select("lowest_cid", "highest_cid").head()
    assert(span.getLong(0) == 201L && span.getLong(1) == 400L, s"span $span")

    val hit = Warehouse.lookup(spark, wh, 300L).collect()
    assert(hit.length == 1 && hit(0).getAs[Long]("cid") == 300L)
    assert(hit(0).getAs[String]("src_filename") == "Compound_00001.sdf")
    assert(hit(0).getAs[String]("InChIKey") != null && hit(0).getAs[Double]("molecular_weight") > 0)
    assert(Warehouse.lookup(spark, wh, 250L).collect().isEmpty, "absent-in-span cid served")
    assert(Warehouse.lookup(spark, wh, 260L).collect().isEmpty, "NOT_NULL-dropped cid served")
    assert(Warehouse.lookup(spark, wh, 5000L).collect().isEmpty, "past-last cid served")

    // the driver route: no job for a hit or a miss once the snapshot
    // is warm, and it opens only the spanning partition's files (every
    // other partition's files hold garbage in a copy)
    assert(LookupSpec.jobsOf(spark)(Warehouse.lookup(spark, wh, 301L).collect())._2 == 0)
    assert(LookupSpec.jobsOf(spark)(Warehouse.lookup(spark, wh, 250L).collect())._2 == 0)
    assert(LookupSpec.jobsOf(spark)(Warehouse.lookup(spark, wh, 5000L).collect())._2 == 0)
    val onlySpan = LookupSpec.garbledCopy(wh, _ == "Compound_00001.sdf", tempDir("graft_lookup_garbled"))
    assert(cids(Warehouse.lookup(spark, onlySpan, 300L)) == Seq(300L))
    assert(Warehouse.lookup(spark, onlySpan, 250L).collect().isEmpty)
    // the scan route past the byte bound reads only the spanning
    // partition and keeps both the partition filter and the pushed pk
    // filter
    val df = Warehouse.lookup(spark, wh, 300L, LayoutSpec.default, -1L)
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("/src_filename=Compound_00001.sdf/")), df.inputFiles.toSeq)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") && plan.contains("src_filename"), plan)
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("EqualTo(cid")), plan)

    // past ManifestCollectMax rows the candidates come from the
    // distributed manifest filter; answers are unchanged
    import org.apache.spark.sql.functions.{col, concat, lit}
    spark.range(Warehouse.ManifestCollectMax + 1L)
      .select(concat(lit("fake_"), col("id"), lit(".sdf")).as("filename"),
        (col("id") + 1000000L).as("lowest_cid"), (col("id") + 1000000L).as("highest_cid"),
        lit("2026-01-01").as("date_added"), lit(1L).as("n_compounds"))
      .write.mode("append").parquet(Warehouse.manifestDir(wh))
    assert(cids(Warehouse.lookup(spark, wh, 300L)) == Seq(300L))
    assert(Warehouse.lookup(spark, wh, 250L).collect().isEmpty)
    assert(Warehouse.lookup(spark, wh, 1000005L).collect().isEmpty, "fake span has no partition")
  }

  test("the span snapshot stays fresh through ingest, retract, re-ingest and compact") {
    val (root, glob, wh) = corpus()
    Warehouse.ingest(spark, glob, wh)
    assert(cids(Warehouse.lookup(spark, wh, 700L)) == Seq(700L))
    assert(Warehouse.lookup(spark, wh, 900L).collect().isEmpty)

    // a new file lands (cids 801..1000): its span must be served at once
    SdfScaleBench.generate(root, nFiles = 5, molsPerFile = 200)
    assert(Warehouse.ingest(spark, glob, wh).filesLoaded == Seq("Compound_00004.sdf"))
    assert(cids(Warehouse.lookup(spark, wh, 900L)) == Seq(900L))

    // retract shrinks the file's span to [801, 999]: the retracted
    // rows are gone and the top cid no longer names any candidate
    Warehouse.retract(spark, wh, Seq(900L, 1000L))
    assert(Warehouse.lookup(spark, wh, 900L).collect().isEmpty, "retracted cid served")
    val top = Warehouse.lookup(spark, wh, 1000L)
    val noData = LookupSpec.garbledCopy(wh, _ => false, tempDir("graft_lookup_garbled"))
    assert(Warehouse.lookup(spark, noData, 1000L).collect().isEmpty, "stale span read a file")
    assert(top.collect().isEmpty)
    assert(cids(Warehouse.lookup(spark, wh, 999L)) == Seq(999L))

    assert(Warehouse.ingest(spark, glob, wh).filesLoaded.isEmpty, "re-ingest must be a no-op")
    assert(Warehouse.lookup(spark, wh, 900L).collect().isEmpty, "re-ingest resurrected a row")

    Warehouse.compact(spark, wh)
    assert(Warehouse.compounds(spark, wh).count() == 996L)
    assert(cids(Warehouse.lookup(spark, wh, 999L)) == Seq(999L))
    assert(cids(Warehouse.lookup(spark, wh, 300L)) == Seq(300L))
    assert(Warehouse.lookup(spark, wh, 900L).collect().isEmpty, "compaction resurrected a row")
    assert(Warehouse.lookup(spark, wh, 1000L).collect().isEmpty)
  }

  test("a span naming a deleted partition directory returns empty, not an error") {
    val (_, glob, wh) = corpus()
    Warehouse.ingest(spark, glob, wh)
    assert(cids(Warehouse.lookup(spark, wh, 700L)) == Seq(700L))
    // the retract crash window: the partition is gone, its manifest
    // row still claims [601, 800]
    val dir = new Path(Warehouse.compoundsDir(wh), "src_filename=Compound_00003.sdf")
    assert(dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true))
    assert(Warehouse.lookup(spark, wh, 700L).collect().isEmpty)
    assert(cids(Warehouse.lookup(spark, wh, 100L)) == Seq(100L))
  }

  test("an all-digit source filename comes back as the string '00123'") {
    val wh = LookupSpec.digitWarehouse(tempDir("graft_lookup_digit").toString)
    def assertDigits(df: DataFrame): Unit = {
      assert(df.schema("src_filename").dataType == org.apache.spark.sql.types.StringType)
      val rows = df.collect()
      assert(rows.length == 1 && rows(0).getAs[String]("src_filename") == "00123")
    }
    assertDigits(Warehouse.lookup(spark, wh, 10L))
    assertDigits(Warehouse.lookup(spark, wh, 10L, LayoutSpec.default, -1L))
    // past MaxLookupPruneFiles candidates the fallback scans the whole
    // table, and still through the string pin
    import org.apache.spark.sql.functions.{col, concat, lit}
    spark.range(Warehouse.MaxLookupPruneFiles + 1L)
      .select(concat(lit("fake_"), col("id"), lit(".sdf")).as("filename"),
        lit(0L).as("lowest_cid"), lit(1000L).as("highest_cid"),
        lit("2026-01-01").as("date_added"), lit(1L).as("n_compounds"))
      .write.mode("append").parquet(Warehouse.manifestDir(wh))
    val fallback = Warehouse.lookup(spark, wh, 10L)
    assert(!LookupSpec.isLocal(fallback) && fallback.inputFiles.length > 0)
    assertDigits(fallback)
  }

  test("manifest reads after an ingest log no hidden-path WARN") {
    val (_, glob, wh) = corpus()
    Warehouse.ingest(spark, glob, wh)
    val ds = "org.apache.spark.sql.execution.datasources.DataSource"
    val reads = LookupSpec.logged(ds) {
      Warehouse.manifest(spark, wh).collect()
      Warehouse.lookup(spark, wh, 300L).collect()
      Warehouse.ingest(spark, glob, wh) // the no-op re-ingest reads the skip set
    }
    assert(!reads.exists(_.contains("All paths were ignored")), reads)
    // the capture is live: a bare read of the directory still logs it
    val bare = LookupSpec.logged(ds)(spark.read.parquet(Warehouse.manifestDir(wh)).collect())
    assert(bare.exists(_.contains("All paths were ignored")), bare)
  }

  test("InChIKey lookup: one of N buckets, exactly that bucket's files, one task") {
    val (_, glob, wh) = corpus()
    Warehouse.ingest(spark, glob, wh)
    Warehouse.publishBucketed(spark, wh, "graft_lookup_spec_ik", buckets = 4, key = "InChIKey")
    val key = Warehouse.compounds(spark, wh).filter("cid = 300").select("InChIKey").head().getString(0)
    // one file per bucket: the publish shuffles by the bucket key, so
    // no bucket is split over the input's partitions
    val tableDir = new Path(s"$wh/bucketed_graft_lookup_spec_ik")
    val perBucket = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(tableDir).map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .groupBy(BucketingUtils.getBucketId).view.mapValues(_.length).toMap
    assert(perBucket == (0 until 4).map(b => Some(b) -> 1).toMap, perBucket)
    // the scan route past the byte bound
    val scan = Warehouse.lookupIndexed(spark, "graft_lookup_spec_ik", "InChIKey", key, -1L)
    LookupSpec.assertOneBucketOneTask(spark, scan, tableDir.toString, buckets = 4)
    assert(cids(scan) == Seq(300L))
    // the driver route: no job for a hit or a miss, and it opens only
    // the key's bucket file (every other bucket's file holds garbage)
    val miss = "NOSUCHKEYAAAAA-UHFFFAOYSA-N"
    val (hit, hitJobs) = LookupSpec.jobsOf(spark)(
      Warehouse.lookupIndexed(spark, "graft_lookup_spec_ik", "InChIKey", key).collect())
    assert(hit.map(_.getAs[Long]("cid")).toSeq == Seq(300L) && hitJobs == 0, s"$hitJobs jobs")
    val (none, missJobs) = LookupSpec.jobsOf(spark)(
      Warehouse.lookupIndexed(spark, "graft_lookup_spec_ik", "InChIKey", miss).collect())
    assert(none.isEmpty && missJobs == 0, s"$missJobs jobs")
    val attr = spark.table("graft_lookup_spec_ik").queryExecution.analyzed.output
      .find(_.name == "InChIKey").get
    val bucket = BucketingUtils.getBucketIdFromValue(attr, 4,
      org.apache.spark.unsafe.types.UTF8String.fromString(key))
    LookupSpec.garble(LookupSpec.dataFiles(tableDir.toString)
      .filterNot(f => BucketingUtils.getBucketId(f.getFileName.toString).contains(bucket)))
    assert(cids(Warehouse.lookupIndexed(spark, "graft_lookup_spec_ik", "InChIKey", key)) == Seq(300L))
  }

  test("the driver route answers as the scan route past the byte bound") {
    import org.apache.spark.sql.functions.col
    def same(driver: DataFrame, scan: DataFrame, local: Boolean = true): Unit = {
      assert(LookupSpec.isLocal(driver) == local && !LookupSpec.isLocal(scan))
      LookupSpec.assertSameAnswer(driver, scan)
    }
    val (root, glob, wh) = corpus()
    Warehouse.ingest(spark, glob, wh)
    // a hit, a null xlogp3, and the absent-in-span and NOT_NULL-dropped
    // misses; a past-last miss has no candidate on either route
    for (cid <- Seq(300L, 270L, 250L, 260L))
      same(Warehouse.lookup(spark, wh, cid), Warehouse.lookup(spark, wh, cid, LayoutSpec.default, -1L))
    LookupSpec.assertSameAnswer(Warehouse.lookup(spark, wh, 5000L),
      Warehouse.lookup(spark, wh, 5000L, LayoutSpec.default, -1L))
    val nullLogp = Warehouse.lookup(spark, wh, 270L).collect()
    assert(nullLogp.length == 1 && nullLogp(0).isNullAt(nullLogp(0).fieldIndex("xlogp3")))

    // an all-digit src_filename stays the string '00123'
    val digits = LookupSpec.digitWarehouse(tempDir("graft_lookup_digit").toString)
    same(Warehouse.lookup(spark, digits, 10L), Warehouse.lookup(spark, digits, 10L, LayoutSpec.default, -1L))

    // a layout column missing from an older file reads null
    val mixed = s"$root/wh_mixed"
    val older = LayoutSpec(LayoutSpec.default.columns.filterNot(_.name == "xlogp3"))
    Warehouse.ingest(spark, s"$root/sdf/Compound_00000.sdf", mixed, older)
    Warehouse.ingest(spark, glob, mixed)
    for (cid <- Seq(10L, 300L)) {
      val driver = Warehouse.lookup(spark, mixed, cid)
      same(driver, Warehouse.lookup(spark, mixed, cid, LayoutSpec.default, -1L))
      val row = driver.collect().head
      assert(row.isNullAt(row.fieldIndex("xlogp3")) == (cid == 10L), row)
    }

    // InChIKey: a re-ingest then a re-publish serves the new files,
    // never the dropped ones
    val t = "graft_lookup_route_ik"
    def keyOf(cid: Long) = Warehouse.compounds(spark, wh).filter(s"cid = $cid")
      .select("InChIKey").head().getString(0)
    // the generator repeats keys across files: the answer is every
    // live row with the key, once
    def byKey(cid: Long): Unit = {
      val key = keyOf(cid)
      val driver = Warehouse.lookupIndexed(spark, t, "InChIKey", key)
      same(driver, Warehouse.lookupIndexed(spark, t, "InChIKey", key, -1L))
      assert(cids(driver).sorted == cids(Warehouse.compounds(spark, wh).filter(col("InChIKey") === key)).sorted)
      assert(cids(driver).contains(cid))
    }
    Warehouse.publishBucketed(spark, wh, t, buckets = 4, key = "InChIKey")
    byKey(300L)
    SdfScaleBench.generate(root, nFiles = 5, molsPerFile = 200)
    assert(Warehouse.ingest(spark, glob, wh).filesLoaded == Seq("Compound_00004.sdf"))
    Warehouse.publishBucketed(spark, wh, t, buckets = 4, key = "InChIKey")
    byKey(300L)
    byKey(900L)

    // a table bucketed on another column takes the scan
    val byCid = "graft_lookup_route_cid"
    Warehouse.publishBucketed(spark, wh, byCid, buckets = 4, key = "cid")
    val other = Warehouse.lookupIndexed(spark, byCid, "InChIKey", keyOf(300L))
    same(other, Warehouse.lookupIndexed(spark, byCid, "InChIKey", keyOf(300L), -1L), local = false)
    assert(cids(other) == Seq(300L))
  }
}

object LookupSpec {
  import org.scalatest.Assertions._

  /** A one-file warehouse under `root` whose source file is named
    * `00123` (cids 0..49). */
  def digitWarehouse(root: String): String = {
    SdfScaleBench.generate(root, nFiles = 1, molsPerFile = 50)
    val src = java.nio.file.Paths.get(root, "sdf")
    java.nio.file.Files.move(src.resolve("Compound_00000.sdf"), src.resolve("00123"))
    Warehouse.ingest(SparkTestSession.spark, s"$src/00123", s"$root/wh")
    s"$root/wh"
  }

  /** True when `df` plans no file scan. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }.isEmpty

  /** `a` and `b` have the same schema, nullability included, and the
    * same rows in any order. */
  def assertSameAnswer(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema, s"${a.schema.treeString} vs ${b.schema.treeString}")
    val (ra, rb) = (a.collect().toSeq.map(_.toSeq), b.collect().toSeq.map(_.toSeq))
    assert(ra.sortBy(_.toString) == rb.sortBy(_.toString))
  }

  /** The visible data files under `dir`, at any depth. */
  def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .filterNot(p => Tables.hidden(p.getFileName.toString)).toSeq
    finally walk.close()
  }

  /** Overwrites each file with bytes no parquet reader accepts, and
    * drops its checksum, so that any later open of it fails. */
  def garble(files: Seq[java.nio.file.Path]): Unit = files.foreach { f =>
    java.nio.file.Files.write(f, "not a parquet file".getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
  }

  /** A copy of warehouse `wh` under `root` in which the data files of
    * every `src_filename=` partition that `keep` rejects are garbled. */
  def garbledCopy(wh: String, keep: String => Boolean, root: java.nio.file.Path): String = {
    val to = root.resolve("wh")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(wh), to.toFile)
    garble(dataFiles(Warehouse.compoundsDir(to.toString)).filterNot(f =>
      keep(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(
        f.getParent.getFileName.toString.stripPrefix("src_filename=")))))
    to.toString
  }

  /** (result, jobs started while computing it). */
  def jobsOf[A](spark: org.apache.spark.sql.SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.graftbridge.ListenerBusDrain.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** The messages `logger` emitted while `f` ran. */
  def logged(logger: String)(f: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    val target = org.apache.logging.log4j.LogManager.getLogger(logger).asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-spec-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    target.addAppender(capture)
    try f finally { target.removeAppender(capture); capture.stop() }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** The secondary-index scale contract, pinned on the physical scan
    * rather than on explain strings: the bucket set of `df`'s file scan
    * has exactly 1 of the table's `buckets` bits set, and collecting
    * `df` reads exactly the files of that bucket under `tableDir`, in
    * one task. The files are taken from the scan's read partitions: on
    * Spark 4.1 a non-bucketed scan's `numFiles` metric counts the
    * files before the bucket prune (every file of the table), while
    * its read partitions hold only the selected bucket's files. */
  def assertOneBucketOneTask(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                             tableDir: String, buckets: Int): Unit = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val scan = df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail(s"no file scan:\n${df.queryExecution.executedPlan}"))
    assert(scan.relation.bucketSpec.map(_.numBuckets).contains(buckets))
    val set = scan.optionalBucketSet.getOrElse(fail(s"no bucket set in the scan:\n$scan"))
    assert(set.cardinality() == 1, s"${set.cardinality()} of $buckets buckets selected")
    val bucket = set.nextSetBit(0)
    val p = new Path(tableDir)
    val bucketFiles = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && BucketingUtils.getBucketId(n).contains(bucket))
      .toSet
    assert(bucketFiles.nonEmpty)
    df.collect()
    val tasks = scan.inputRDD.partitions.toSeq
    assert(tasks.length == 1, s"bucket read in ${tasks.length} tasks")
    val read = tasks.flatMap { case fp: FilePartition => fp.files.map(_.toPath.getName).toSeq }
    assert(read.sorted == bucketFiles.toSeq.sorted,
      s"read ${read.sorted}, bucket $bucket holds ${bucketFiles.toSeq.sorted}")
  }
}
