package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

class RelationalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and returns rows at sf0.001") {
    Registry.all.foreach { q =>
      val df = q.run(spark, dir)
      assert(df.count() > 0, s"${q.name} returned 0 rows")
    }
  }

  test("oracle keys are a subset of query keys with matching names") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle-only keys: ${os.diff(qs)}")
  }

  test("registry names are unique (Map would silently clobber duplicates)") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.length == names.length,
      s"duplicates: ${names.diff(names.distinct)}")
  }

  test("funnel stages require strictly-later events in sequence order") {
    val rows = operators.Relational.qEventsFunnel(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // monotone: each stage is a subset of the previous
    assert(rows("1_view") >= rows("2_click") && rows("2_click") >= rows("3_purchase"))
    assert(rows("1_view") > 0 && rows("3_purchase") >= 0)
    // strictness pinned on synthetic data: same-timestamp click does
    // NOT advance; purchase BEFORE the click does not count
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    val ev = Seq(
      (1L, "view", ts(0)), (1L, "click", ts(0)), (1L, "purchase", ts(5)),   // click ties view → stuck at stage 1
      (2L, "view", ts(0)), (2L, "purchase", ts(1)), (2L, "click", ts(2)),   // purchase precedes click → stage 2
      (3L, "view", ts(0)), (3L, "click", ts(1)), (3L, "purchase", ts(2)))   // full conversion
      .toDF("user_id", "event_type", "ts")
    // the PRODUCTION stage pipeline, not a test-local copy — a
    // strictness regression in qEventsFunnel must fail here
    val Seq(u1, u2, u3) = operators.Relational.funnelStages(ev)
    assert(u1.count() == 3 && u2.count() == 2 && u3.count() == 1)
    assert(u3.collect()(0).getLong(0) == 3L)
  }

  test("retention: week-0 count is the cohort size and bounds every later offset") {
    val rows = operators.Relational.qEventsRetention(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val week0 = rows.filter(_._2 == 0L).map(t => t._1 -> t._3).toMap
    rows.foreach { case (cohort, offset, n) =>
      assert(offset >= 0, s"negative offset in $rows")
      assert(n <= week0(cohort), s"cohort $cohort offset $offset retains $n > size ${week0(cohort)}")
    }
  }

  test("q1 aggregates are exact and deterministic across input partitionings") {
    val a = operators.Relational.q1Agg(spark, dir).collect()
    // Repartition the INPUT so the aggregation itself runs over a
    // different partition order — the decimal sums must not drift.
    val b = operators.Relational
      .q1AggFrom(Tables.lineitem(spark, dir).repartition(7)).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
  }

  test("approx distinct variant tracks exact countDistinct within 5%") {
    import org.apache.spark.sql.functions._
    val ord = Tables.orders(spark, dir)
    val row = ord.agg(
      countDistinct(col("o_custkey")).as("exact"),
      approx_count_distinct(col("o_custkey"), 0.01).as("approx")).collect()(0)
    val (exact, approx) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact <= 0.05, s"approx $approx vs exact $exact")
  }

  test("q_topk returns exactly 25 ordered rows") {
    val rows = operators.Relational.qTopk(spark, dir).collect()
    assert(rows.length == 25)
    val prices = rows.map(_.getDouble(2))
    assert(prices.zip(prices.tail).forall { case (x, y) => x >= y })
  }

  test("sessionize: session bounds are consistent") {
    val rows = operators.Relational.qEventsSessionize(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.getTimestamp(3).after(r.getTimestamp(4)),
        s"session_start after session_end: $r")
    }
  }

  test("q_band_join equals the naive all-pairs band join") {
    val eps = operators.Relational.BandEps
    val got = operators.Relational.qBandJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val naive = ord.flatMap { case (ka, pa) =>
      // the BETWEEN form, not abs(a-b)<=eps — the contract predicate
      // (the two differ at IEEE band edges; see qBandJoin's doc)
      val gaps = ord.collect {
        case (kb, pb) if kb != ka && pb >= pa - eps && pb <= pa + eps =>
          math.abs(pa - pb)
      }
      if (gaps.isEmpty) None else Some((ka, gaps.length.toLong, gaps.min))
    }.sortBy(_._1).toSeq
    assert(naive.nonEmpty && got == naive)
  }

  test("q_band_join finds IEEE band-edge pairs (sf1 regression)") {
    // real witness from the sf1 oracle compare: b equals the rounded
    // a + eps, so BETWEEN matches while b - a rounds to eps + 1 ulp
    // (5.000000000000114). The old abs()<=eps predicate dropped it.
    val a = 1023.13; val b = 1028.13
    assert(b - a > operators.Relational.BandEps) // the trap is real
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_band")
    try {
      val tmp = tmpDir.toString
      spark.createDataFrame(Seq((1L, a), (2L, b), (3L, 500.0)))
        .toDF("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      val got = operators.Relational.qBandJoin(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // asymmetric by IEEE design, and DuckDB-on-DOUBLE agrees: b sits
      // in a's band (b == rounded a+eps) but a is NOT in b's band
      // (b - eps rounds UP past a), so only key 1 emits a row
      assert(got == Map(1L -> 1L), s"got $got")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** The band kernel route's plan carries its `MapPartitions`; the
    * join route's does not. */
  private def bandRoute(df: org.apache.spark.sql.DataFrame): String =
    if (df.queryExecution.analyzed.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MapPartitions])) "kernel"
    else "join"

  test("band kernel equals the bin-join form row for row, and dense data falls back") {
    // the candidate-free two-pointer kernel must reproduce the
    // 3-bin equi-join composition exactly — same IEEE BETWEEN
    // membership, same counts, same nearest-neighbor gaps
    val big = "/root/testdata/sf0.01"
    val kernDf = operators.Relational.qBandJoin(spark, big)
    assert(bandRoute(kernDf) == "kernel")
    val kern = kernDf.collect().map(_.toString).toSeq
    val join = operators.Relational.qBandJoinJoinForm(spark, big)
      .orderBy(col("o_orderkey")).collect().map(_.toString).toSeq
    assert(kern.nonEmpty && kern == join)
    // sizing fallback: a one-row-per-bucket ceiling routes to the
    // join form (the kernel is a fast path, never a dependency)
    val fbDf = operators.Relational.qBandJoin(spark, big, 1L)
    assert(bandRoute(fbDf) == "join")
    val fb = fbDf.collect().map(_.toString).toSeq
    assert(fb == kern)
  }

  test("band route gates on MAX bucket occupancy, not the mean (skew hole, r18 ADVICE)") {
    // equal-width buckets + a hot value: nearly every row lands in
    // ONE bucket while the mean rows/bucket stays far under the
    // ceiling — the r18 mean gate would take the kernel route and
    // buffer the whole corpus in one task. The max gate must route
    // to the join form; with the ceiling lifted, the kernel must
    // still equal the join form on the same skewed data.
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_band_skew")
    try {
      val tmp = tmpDir.toString
      val hot = (1L to 900L).map(k => (k, 100.0 + (k % 7) * 0.5))
      val spread = (901L to 1000L).map(k => (k, (k - 900L) * 1000.0))
      spark.createDataFrame(hot ++ spread)
        .toDF("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      val join = operators.Relational.qBandJoinJoinForm(spark, tmp)
        .orderBy(col("o_orderkey")).collect().map(_.toString).toSeq
      // mean = 1000/nb << 100, but the hot bucket holds 900+ rows
      val gatedDf = operators.Relational.qBandJoin(spark, tmp, 100L)
      assert(bandRoute(gatedDf) == "join",
        "skewed corpus must fall back to the join form under a max-bucket ceiling")
      val gated = gatedDf.collect().map(_.toString).toSeq
      assert(gated == join)
      val kernDf = operators.Relational.qBandJoin(spark, tmp)
      assert(bandRoute(kernDf) == "kernel")
      val kern = kernDf.collect().map(_.toString).toSeq
      assert(kern.nonEmpty && kern == join)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("q_skew_join equals the unsalted plain join") {
    val got = operators.Relational.qSkewJoin(spark, dir).collect().map(_.toString).toSeq
    val li = Tables.lineitem(spark, dir)
    val flags = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("flag_rows"))
    val plain = li.select(col("l_returnflag"), col("l_linestatus"))
      .join(flags, Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), max(col("flag_rows")).as("flag_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
      .collect().map(_.toString).toSeq
    assert(plain.nonEmpty && got == plain)
  }

  test("sketch_distinct: gate passes and the exact column is exact") {
    val rows = operators.Relational.sketchDistinct(spark, dir).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, dir)
    rows.foreach { r =>
      val exact = ev.filter(col("event_type") === r.getString(0))
        .select(col("user_id")).distinct().count()
      assert(r.getLong(1) == exact, s"${r.getString(0)}: ${r.getLong(1)} vs $exact")
    }
  }

  test("events trio: bounded presentation sort is globally ordered in one partition") {
    // Present.orderedBounded replaced the trio's global orderBy
    // (range exchange + bound-sampling pass) — pin that the output
    // is ONE partition and totally ordered on the presentation keys,
    // i.e. exactly what the orderBy produced.
    Seq(
      ("q_events_tumbling", Seq("bucket_us", "event_type")),
      ("q_events_retention", Seq("cohort_week", "week_offset")),
      ("q_events_funnel", Seq("stage"))
    ).foreach { case (name, keys) =>
      val df = SparkEntry.queries(name)(spark, dir)
      assert(df.rdd.getNumPartitions == 1, s"$name not single-partition")
      val got = df.collect().toSeq
      val sorted = df.orderBy(keys.map(col): _*).collect().toSeq
      assert(got == sorted, s"$name output not globally ordered on ${keys.mkString(",")}")
      assert(got.nonEmpty, s"$name empty")
    }
  }

  test("sketch_quantile: gate passes and the exact columns are exact percentiles") {
    val rows = operators.Relational.sketchQuantile(spark, dir).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, dir)
    rows.foreach { r =>
      // re-derive the exact percentiles independently of the entry's
      // own aggregation (the gate already proved the sketch columns
      // sit inside the exact p±5 bracket; this pins the RETURNED
      // exact columns)
      val want = ev.filter(col("event_type") === r.getString(0))
        .agg(expr("percentile(value, 0.5)"), expr("percentile(value, 0.9)"))
        .head()
      assert(r.getDouble(1) == want.getDouble(0),
        s"${r.getString(0)} p50: ${r.getDouble(1)} vs ${want.getDouble(0)}")
      assert(r.getDouble(2) == want.getDouble(1),
        s"${r.getString(0)} p90: ${r.getDouble(2)} vs ${want.getDouble(1)}")
    }
  }
}
