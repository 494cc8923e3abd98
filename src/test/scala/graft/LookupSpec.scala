package graft

import graft.sinks.Warehouse
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.scalatest.funsuite.AnyFunSuite

/** Point lookups on a generated, layout-faithful corpus
  * ([[SdfScaleBench.generate]]): the one-job cid route over the
  * driver-side manifest span snapshot, its freshness through every
  * warehouse write, and the one-task InChIKey route. */
class LookupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** 4 files x 200 records (cids 1..800) under a fresh root. In file 1
    * (cids 201..400) cid 250 is removed and cid 260 loses its NOT_NULL
    * InChI, so both sit inside that file's manifest span but hold no
    * row. Returns (root, glob, warehouse). */
  private def corpus(): (String, String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_lookup_spec").toString
    val glob = SdfScaleBench.generate(root, nFiles = 4, molsPerFile = 200)
    val f1 = java.nio.file.Paths.get(root, "sdf", "Compound_00001.sdf")
    val recs = java.nio.file.Files.readString(f1).split("\\$\\$\\$\\$\n", -1).toSeq.init
    val edited = recs.filterNot(_.startsWith("mol-250\n")).map(r =>
      if (r.startsWith("mol-260\n")) r.replaceAll("> <PUBCHEM_IUPAC_INCHI>\n[^\n]*\n\n", "") else r)
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

    // the route: one job for a hit (the snapshot is warm), none for a
    // cid no span covers; the scan reads only the spanning partition
    // and keeps both the partition filter and the pushed pk filter
    assert(LookupSpec.jobsOf(spark)(Warehouse.lookup(spark, wh, 301L).collect())._2 == 1)
    assert(LookupSpec.jobsOf(spark)(Warehouse.lookup(spark, wh, 5000L).collect())._2 == 0)
    val df = Warehouse.lookup(spark, wh, 300L)
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
    assert(top.inputFiles.isEmpty, s"stale span: ${top.inputFiles.toSeq}")
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
    val root = java.nio.file.Files.createTempDirectory("graft_lookup_digit").toString
    SdfScaleBench.generate(root, nFiles = 1, molsPerFile = 50)
    val src = java.nio.file.Paths.get(root, "sdf")
    java.nio.file.Files.move(src.resolve("Compound_00000.sdf"), src.resolve("00123"))
    val wh = s"$root/wh"
    Warehouse.ingest(spark, s"$src/00123", wh)
    val df = Warehouse.lookup(spark, wh, 10L)
    assert(df.schema("src_filename").dataType == org.apache.spark.sql.types.StringType)
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getAs[String]("src_filename") == "00123")
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
    val hit = Warehouse.lookupIndexed(spark, "graft_lookup_spec_ik", "InChIKey", key)
    LookupSpec.assertOneBucketOneTask(spark, hit, tableDir.toString, buckets = 4)
    assert(cids(hit) == Seq(300L))
    assert(Warehouse.lookupIndexed(spark, "graft_lookup_spec_ik", "InChIKey",
      "NOSUCHKEYAAAAA-UHFFFAOYSA-N").collect().isEmpty)
  }
}

object LookupSpec {
  import org.scalatest.Assertions._

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
