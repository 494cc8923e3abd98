package perfbench

import graft.Catalog
import graft.sinks.Warehouse
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One generated record, with the values the default layout extracts. */
final case class Compound(cid: Long, file: String, kept: Boolean, inchi: String,
                          inchiKey: String, smilesCan: String, smilesIso: String,
                          xlogp3: Option[Double], exactMass: Double, formula: String,
                          weight: Double)

/** The generator's truth for one compound input set (see gen_sdf.py). */
final class CompoundTruth(dir: String) {
  val records: Vector[Compound] = {
    val lines = Files.readAllLines(Paths.get(dir, "truth.tsv")).asScala.toVector
    val header = lines.head.split("\t", -1).zipWithIndex.toMap
    lines.tail.map { l =>
      val f = l.split("\t", -1)
      def g(k: String) = f(header(k))
      Compound(g("cid").toLong, g("src_filename"), g("kept") == "1", g("InChI"),
        g("InChIKey"), g("SMILES_CAN"), g("SMILES_ISO"),
        Option(g("xlogp3")).filter(_.nonEmpty).map(_.toDouble), g("exact_mass").toDouble,
        g("molecular_formula"), g("molecular_weight").toDouble)
    }
  }
  val byCid: Map[Long, Compound] = records.map(c => c.cid -> c).toMap
  val byKey: Map[String, Compound] = records.filter(_.kept).map(c => c.inchiKey -> c).toMap
  /** name -> (gz bytes, sdf bytes), in name (= CID) order. */
  val files: Vector[(String, Long, Long)] =
    Files.readAllLines(Paths.get(dir, "files.tsv")).asScala.toVector.tail.map { l =>
      val f = l.split("\t")
      (f(0), f(1).toLong, f(2).toLong)
    }.sortBy(_._1)
  def sdfPath(name: String): Path = Paths.get(dir, "sdf", name)
  def inFiles(names: Set[String]): Vector[Compound] = records.filter(c => names(c.file))

  /** A CID inside the span of `names`' files that no record carries. */
  def absentIn(names: Seq[String], rnd: scala.util.Random): Long = {
    val spans = names.map { n =>
      val p = n.stripPrefix("Compound_").stripSuffix(".sdf.gz").split("_")
      (p(0).toLong, p(1).toLong)
    }
    Iterator.continually {
      val (lo, hi) = spans(rnd.nextInt(spans.length))
      lo + (rnd.nextDouble() * (hi - lo + 1)).toLong
    }.find(c => !byCid.contains(c)).get
  }

  /** Error message if `rows` is not exactly the lookup answer for `cid`. */
  def checkLookup(cid: Long, rows: Array[Row]): Option[String] =
    byCid.get(cid).filter(_.kept) match {
      case None => if (rows.isEmpty) None else Some(s"cid $cid: expected no row, got ${rows.length}")
      case Some(c) => if (rows.length != 1) Some(s"cid $cid: expected 1 row, got ${rows.length}")
        else checkRow(c, rows(0))
    }

  def checkRow(c: Compound, r: Row): Option[String] = {
    def v(name: String): Any = r.get(r.fieldIndex(name))
    val expected = Seq[(String, Any)]("cid" -> c.cid, "InChI" -> c.inchi,
      "InChIKey" -> c.inchiKey, "InChIKey_1" -> c.inchiKey.split("-")(0),
      "SMILES_CAN" -> c.smilesCan, "SMILES_ISO" -> c.smilesIso,
      "xlogp3" -> c.xlogp3.orNull, "exact_mass" -> c.exactMass,
      "molecular_formula" -> c.formula, "molecular_weight" -> c.weight,
      "src_filename" -> c.file)
    expected.collectFirst { case (k, e) if v(k) != e => s"cid ${c.cid} $k: ${v(k)} != $e" }
  }

  /** Expected manifest rows (filename -> (lowest, highest, n)) for `names`. */
  def manifestOf(names: Seq[String]): Map[String, (Option[Long], Option[Long], Long)] = {
    val kept = records.filter(_.kept).groupBy(_.file)
    names.map { n =>
      val cs = kept.getOrElse(n, Vector.empty).map(_.cid)
      n -> (cs.minOption, cs.maxOption, cs.length.toLong)
    }.toMap
  }

  def checkManifest(names: Seq[String], rows: Array[Row]): Option[String] = {
    val want = manifestOf(names)
    val got = rows.map { r =>
      def opt(k: String) = Option(r.get(r.fieldIndex(k))).map(_.asInstanceOf[Long])
      r.getAs[String]("filename") ->
        ((opt("lowest_cid"), opt("highest_cid"), r.getAs[Long]("n_compounds")))
    }
    if (got.length != want.size) Some(s"manifest has ${got.length} rows, expected ${want.size}")
    else if (got.toMap != want) Some(s"manifest rows differ from truth")
    else None
  }
}

/** Shared driving code of the two compound workloads. */
final class CompoundDriver(ctx: Ctx, truth: CompoundTruth) {
  import ctx.{spark, tracer}

  /** Hard-link `names` into `dump` — the incremental dump directory the
    * ingest glob watches, as new PubChem files would land in it. */
  def land(dump: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dump))
    names.foreach(n => Files.createLink(Paths.get(dump, n), truth.sdfPath(n)))
  }

  def gzBytes(names: Seq[String]): Long = names.map(n => truth.files.find(_._1 == n).get._2).sum

  /** Ingest the dump glob; `landed` are the files new since the last
    * ingest (their bytes are the batch's input). */
  def ingest(glob: String, wh: String, op: Int, span: String,
             landed: Seq[String] = Nil): Warehouse.IngestResult =
    tracer.spanWith(span, op)(Warehouse.ingest(spark, glob, wh))(r =>
      Map("files" -> r.filesLoaded.length.toDouble, "rows" -> r.rowsLoaded.toDouble,
        "input_bytes" -> gzBytes(landed).toDouble))

  def manifest(wh: String, op: Int): Array[Row] =
    tracer.spanWith("warehouse.manifest", op)(Warehouse.manifest(spark, wh).collect())(r =>
      Map("rows" -> r.length.toDouble))

  /** Warehouse.lookup (the manifest-span prune, a driver-side job), then
    * collecting its frame (the pruned scan). */
  def lookup(wh: String, cid: Long, op: Int): Array[Row] =
    tracer.span("lookup", op) {
      val df = tracer.span("lookup.prune", op)(Warehouse.lookup(spark, wh, cid))
      tracer.spanWith("lookup.exec", op)(df.collect())(r =>
        Map("rows" -> r.length.toDouble, "files_read" -> CompoundDriver.filesRead(df)))
    }

  def lookupIndexed(table: String, key: String, op: Int): Array[Row] =
    tracer.span("lookup_indexed", op) {
      val df = tracer.span("lookup_indexed.plan", op)(
        Warehouse.lookupIndexed(spark, table, "InChIKey", key))
      tracer.spanWith("lookup_indexed.exec", op)(df.collect())(r => Map("rows" -> r.length.toDouble))
    }

  def sql(text: String, op: Int): Array[Row] =
    tracer.span("sql", op) {
      val df = tracer.span("sql.analyze", op)(spark.sql(text))
      tracer.span("sql.plan", op)(df.queryExecution.executedPlan)
      tracer.spanWith("sql.exec", op)(df.collect())(r => Map("rows" -> r.length.toDouble))
    }

  def compact(wh: String, op: Int): Long =
    tracer.spanWith("warehouse.compact", op)(Warehouse.compact(spark, wh))(n =>
      Map("files_after" -> n.toDouble))

  def rowCount(wh: String): Long = spark.read.parquet(Warehouse.compoundsDir(wh)).count()

  def checkIngest(r: Warehouse.IngestResult, names: Seq[String]): Option[String] = {
    val want = truth.inFiles(names.toSet).count(_.kept).toLong
    if (r.filesLoaded.sorted != names.sorted) Some(s"loaded ${r.filesLoaded.length} files, expected ${names.length}")
    else if (r.rowsLoaded != want) Some(s"loaded ${r.rowsLoaded} rows, expected $want")
    else None
  }
}

object CompoundDriver {
  /** Files the frame's parquet scans read (after partition pruning). */
  def filesRead(df: DataFrame): Double = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum.toDouble
  }
}

/** `compound_build`: the reference's incremental DB build, from an empty
  * warehouse. Batch b lands its files in the dump directory, ingests the
  * dump glob, re-runs the ingest (the manifest skip set must load 0
  * files), reads the manifest back, and looks up cids it just ingested,
  * cids the NOT_NULL filter dropped and cids that do not exist;
  * compaction runs after fixed batches. A batch's latency is all of that. */
object BuildWorkload {
  def run(ctx: Ctx): Unit = {
    import ctx._
    val truth = new CompoundTruth(inputs)
    val d = new CompoundDriver(ctx, truth)
    val warmFiles = truth.files.take(plan("warm_files")).map(_._1)
    val perBatch = plan("files_per_batch")
    val batches = truth.files.drop(warmFiles.length).map(_._1).grouped(perBatch).toVector
      .take(plan("batches"))
    val compactAfter = Set(batches.length / 2 - 1, batches.length - 1)
    val rnd = new scala.util.Random(seed)

    // Fixed untimed prefix: the timed part's op kinds against a throwaway
    // warehouse.
    val whWarm = s"$work/wh_warm"
    val warmGlob = s"$work/dump_warm/*.sdf.gz"
    d.land(s"$work/dump_warm", warmFiles)
    d.ingest(warmGlob, whWarm, -1, "warmup")
    d.ingest(warmGlob, whWarm, -1, "warmup")
    d.manifest(whWarm, -1)
    val warmRecs = truth.inFiles(warmFiles.toSet)
    (warmRecs.filter(_.kept).take(2) ++ warmRecs.filterNot(_.kept).take(1)).foreach(c => d.lookup(whWarm, c.cid, -1))
    d.lookup(whWarm, truth.absentIn(warmFiles, rnd), -1)
    d.compact(whWarm, -1)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(whWarm))

    val wh = s"$work/wh"
    val dump = s"$work/dump"
    val glob = s"$dump/*.sdf.gz"
    var landed = Vector.empty[String]
    var inputGz = 0L
    var rowsIn = 0L
    var keptSoFar = 0L
    begin()
    batches.zipWithIndex.foreach { case (names, b) =>
      d.land(dump, names)
      landed ++= names
      inputGz += d.gzBytes(names)
      val recs = truth.inFiles(names.toSet)
      keptSoFar += recs.count(_.kept)
      def files = if (tracer.enabled) Host.parquetFiles(spark, Warehouse.compoundsDir(wh)) else 0
      val filesBefore = files
      ops.timed("ingest", b)(d.ingest(glob, wh, b, "warehouse.ingest", names))(r => d.checkIngest(r, names))
        .foreach(r => rowsIn += r.rowsLoaded)
      tracer.note("warehouse.files_written", b, files - filesBefore)
      ops.timed("skip", b)(d.ingest(glob, wh, b, "warehouse.skip"))(r =>
        if (r.filesLoaded.isEmpty && r.rowsLoaded == 0) None
        else Some(s"re-ingest loaded ${r.filesLoaded.length} files"))
      ops.timed("manifest", b)(d.manifest(wh, b))(rows => truth.checkManifest(landed, rows))
      // Two cids just ingested, one the NOT_NULL filter dropped, one that
      // does not exist (alternately inside a file's CID span and past the
      // last file).
      val kept = rnd.shuffle(recs.filter(_.kept)).take(2)
      val dropped = rnd.shuffle(recs.filterNot(_.kept)).take(1)
      val absent = Seq(if (b % 2 == 0) truth.absentIn(names, rnd)
        else truth.records.last.cid + 1 + rnd.nextInt(1000))
      (kept.map(_.cid) ++ dropped.map(_.cid) ++ absent).foreach { cid =>
        ops.timed("lookup", b)(d.lookup(wh, cid, b))(rows => truth.checkLookup(cid, rows))
      }
      if (compactAfter(b))
        ops.timed("compact", b)(d.compact(wh, b))(_ => {
          val n = d.rowCount(wh)
          if (n == keptSoFar) None else Some(s"compaction left $n rows, expected $keptSoFar")
        })
    }
    end()
    // Traced runs only, after the timed part: the sources layer alone,
    // Sdf.compounds over each batch's files.
    if (tracer.enabled) batches.zipWithIndex.foreach { case (names, b) =>
      val recs = truth.inFiles(names.toSet)
      tracer.spanWith("sources.compounds", b)(graft.sources.Sdf.compounds(spark,
        s"$inputs/sdf/{${names.mkString(",")}}").queryExecution.toRdd.count())(n =>
        Map("rows" -> n.toDouble, "records" -> recs.length.toDouble,
          "sdf_mb" -> names.map(n => truth.files.find(_._1 == n).get._3).sum / 1e6))
    }
    val stored = Host.bytesUnder(spark, Warehouse.compoundsDir(wh)) +
      Host.bytesUnder(spark, Warehouse.manifestDir(wh))
    e2e("throughput_per_s") = rowsIn / (ops.totalMs / 1000.0)
    e2e("latency_p50_ms") = Stats.median(ops.groupMs)
    tailOf(ops.groupMs)
    e2e("cid_lookup_p50_ms") = Stats.median(ops.ok("lookup"))
    e2e("bytes_stored_per_input_byte") = stored.toDouble / inputGz
    extra("input_gz_bytes") = inputGz
    extra("compounds_ingested") = rowsIn
  }
}

/** `compound_serve`: the reference's read-only query surface. Set-up
  * builds the warehouse in several ingest batches, publishes the
  * InChIKey-bucketed table and registers the catalog views; the timed
  * part is a fixed seeded sequence of rounds, each the same mix of cid
  * lookups (Zipf-hot, uniform, misses), InChIKey lookups and SQL; a
  * round is one op group. */
object ServeWorkload {
  val Table = "perfbench_compounds"

  def run(ctx: Ctx): Unit = {
    import ctx._
    val truth = new CompoundTruth(inputs)
    val d = new CompoundDriver(ctx, truth)
    val wh = s"$work/wh"
    val names = truth.files.map(_._1)
    names.grouped(math.max(1, names.length / plan("setup_batches"))).foreach { batch =>
      d.land(s"$work/dump", batch)
      d.ingest(s"$work/dump/*.sdf.gz", wh, -1, "warehouse.ingest", batch)
    }
    tracer.span("warehouse.publish")(Warehouse.publishBucketed(spark, wh, Table, buckets = 16, key = "InChIKey"))
    val empty = s"$work/no_corpus"
    Files.createDirectories(Paths.get(empty))
    tracer.span("catalog.register")(Catalog.registerAll(spark, empty, Some(wh)))

    val rnd = new scala.util.Random(seed)
    val kept = rnd.shuffle(truth.records.filter(_.kept))
    val dropped = truth.records.filterNot(_.kept)
    // Zipf(1.1) over a seeded ranking of the kept compounds.
    val zipfCdf = {
      val w = (1 to kept.length).map(r => 1.0 / math.pow(r, 1.1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def hot(): Long = kept(math.min(kept.length - 1,
      java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble()) match { case i if i < 0 => -i - 1; case i => i })).cid
    def uniform(): Compound = kept(rnd.nextInt(kept.length))
    val masses = truth.records.filter(_.kept).map(_.exactMass).sorted

    sealed trait Q
    case class Cid(cid: Long) extends Q
    case class Key(key: String) extends Q
    case class Sql(kind: String, text: String, check: Array[Row] => Option[String]) extends Q

    // SQL parameters sit at fixed quantiles of the data, by round, so every
    // seed asks for the same amount of work.
    def rangeSql(i: Int): Sql = {
      val at = ((i + 2) * 0.17 % 0.9 * masses.length).toInt
      val lo = masses(at)
      val hi = masses(math.min(masses.length - 1, at + masses.length / 20))
      val want = truth.records.filter(c => c.kept && c.exactMass >= lo && c.exactMass <= hi)
      Sql("range", s"SELECT count(*) AS n, min(cid) AS lo, max(cid) AS hi FROM ${Catalog.CompoundsView} " +
        s"WHERE exact_mass BETWEEN $lo AND $hi", rows => {
        val got = (rows(0).getLong(0), rows(0).getLong(1), rows(0).getLong(2))
        val exp = (want.length.toLong, want.map(_.cid).min, want.map(_.cid).max)
        if (got == exp) None else Some(s"range: $got != $exp")
      })
    }
    def topkSql(i: Int): Sql = {
      val floor = masses(((i + 2) % 4 * 0.15 * masses.length).toInt)
      val want = truth.records.filter(c => c.kept && c.exactMass >= floor).groupBy(_.formula)
        .map { case (f, cs) => (f, cs.length.toLong) }.toSeq
        .sortBy { case (f, n) => (-n, f) }.take(10)
      Sql("topk", s"SELECT molecular_formula, count(*) AS n FROM ${Catalog.CompoundsView} " +
        s"WHERE exact_mass >= $floor GROUP BY molecular_formula ORDER BY n DESC, molecular_formula LIMIT 10",
        rows => {
          val got = rows.map(r => (r.getString(0), r.getLong(1))).toSeq
          if (got == want) None else Some(s"topk: $got != $want")
        })
    }
    def joinSql(i: Int): Sql = {
      val w = masses(((i + 2) % 5 * 0.2 * masses.length).toInt)
      val want = truth.records.filter(_.kept).groupBy(_.file).toSeq.sortBy(_._1)
        .map { case (f, cs) => (f, cs.length.toLong, cs.count(_.weight > w).toLong) }
      Sql("join", s"SELECT m.filename, m.n_compounds, count(c.cid) AS heavy FROM ${Catalog.ManifestView} m " +
        s"LEFT JOIN (SELECT cid, src_filename FROM ${Catalog.CompoundsView} WHERE molecular_weight > $w) c " +
        "ON c.src_filename = m.filename GROUP BY m.filename, m.n_compounds ORDER BY m.filename",
        rows => {
          val got = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
          if (got == want) None else Some("manifest join differs from truth")
        })
    }
    /** One round, in a seeded order: 3 cid lookups (1 Zipf-hot, 2
      * uniform; in every other round one uniform lookup is a miss,
      * alternately a cid absent from its file's span and a NOT_NULL-dropped
      * one), 7 InChIKey lookups and the three SQL shapes. The mix is chosen,
      * not taken from a recorded workload: the counts give each query kind
      * about a third of a round's time, so a slowdown of any one kind moves
      * the round latency by a third of it. */
    def round(i: Int): Seq[Q] = {
      val miss = Math.floorMod(i, 4) match {
        case 1 => Some(truth.absentIn(names, rnd))
        case 3 => Some(dropped(rnd.nextInt(dropped.length)).cid)
        case _ => None
      }
      val uniformCids = Seq.fill(2)(uniform().cid)
      rnd.shuffle(Seq(Cid(hot())) ++ (miss.toSeq ++ uniformCids).take(2).map(Cid(_)) ++
        Seq.fill(7)(Key(uniform().inchiKey)) ++ Seq(rangeSql(i), topkSql(i), joinSql(i)))
    }
    def exec(q: Q, group: Int, timed: Boolean): Unit = {
      def go[A](kind: String)(body: => A)(check: A => Option[String]): Unit =
        if (timed) ops.timed(kind, group)(body)(check) else body
      q match {
        case Cid(cid) => go("cid")(d.lookup(wh, cid, group))(rows => truth.checkLookup(cid, rows))
        case Key(k) => go("inchikey")(d.lookupIndexed(Table, k, group))(rows =>
          if (rows.length == 1) truth.checkRow(truth.byKey(k), rows(0))
          else Some(s"InChIKey $k: ${rows.length} rows"))
        case s: Sql => go("sql")(d.sql(s.text, group))(s.check)
      }
    }
    // The untimed prefix: one round.
    val warm = round(-1)
    val timed = (0 until plan("rounds")).map(round)
    warm.foreach(exec(_, -1, timed = false))
    begin()
    timed.zipWithIndex.foreach { case (qs, g) => qs.foreach(exec(_, g, timed = true)) }
    end()
    // The p50 is per round (a fixed composition, like a build batch); the
    // tail is per query, since every query kind takes 0.1-0.5 s.
    e2e("throughput_per_s") = ops.attempted / (ops.totalMs / 1000.0)
    e2e("latency_p50_ms") = Stats.median(ops.groupMs)
    tailOf(ops.recs.filter(_.ok).map(_.ms).toSeq)
    e2e("cid_lookup_p50_ms") = Stats.median(ops.ok("cid"))
    e2e("inchikey_lookup_p50_ms") = Stats.median(ops.ok("inchikey"))
    e2e("sql_p50_ms") = Stats.median(ops.ok("sql"))
    val inputGz = truth.files.map(_._2).sum
    e2e("bytes_stored_per_input_byte") = (Host.bytesUnder(spark, Warehouse.compoundsDir(wh)) +
      Host.bytesUnder(spark, Warehouse.manifestDir(wh))).toDouble / inputGz
  }
}
