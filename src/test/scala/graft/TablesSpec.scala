package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Data-contract spec for the events loader. The driver has shipped
  * `events.ts` in two parquet encodings across testdata regenerations
  * (TIMESTAMP(NANOS), then plain µs TIMESTAMP read as TIMESTAMP_NTZ);
  * `Tables.normalizeEventsTs` must accept every known encoding and
  * yield the SAME TimestampType instants, and fail with one clear
  * contract error on anything else.
  */
class TablesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 2024-05-01T12:34:56.789012Z in epoch-µs
  private val us = 1714567896789012L

  test("long-nanos encoding converts via div-1000 to µs timestamps") {
    val df = Seq((1L, us * 1000L)).toDF("event_id", "ts")
    val out = Tables.normalizeEventsTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    val got = out.select(unix_micros(col("ts"))).as[Long].head()
    assert(got == us)
  }

  test("µs TIMESTAMP_NTZ encoding casts to the same instants (UTC session)") {
    val ntz = Seq((1L, us)).toDF("event_id", "u")
      .select(col("event_id"),
        timestamp_micros(col("u")).cast(TimestampNTZType).as("ts"))
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    val out = Tables.normalizeEventsTs(ntz)
    assert(out.schema("ts").dataType == TimestampType)
    val got = out.select(unix_micros(col("ts"))).as[Long].head()
    assert(got == us, "NTZ cast must be wall-clock preserving under UTC session tz")
  }

  test("TimestampType passes through untouched") {
    val df = Seq((1L, new Timestamp(us / 1000L))).toDF("event_id", "ts")
    val out = Tables.normalizeEventsTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.collect() sameElements df.collect())
  }

  test("unknown encoding fails with one loud contract error naming the type") {
    val df = Seq((1L, "2024-05-01")).toDF("event_id", "ts")
    val e = intercept[IllegalStateException](Tables.normalizeEventsTs(df))
    assert(e.getMessage.contains("data contract violated"))
    assert(e.getMessage.contains("StringType"))
  }

  test("both batch fixtures (nanos-long parquet, µs parquet) load identically") {
    // Write the two encodings to parquet and run them through the real
    // loader path. Spark can't WRITE TIMESTAMP(NANOS), so the nanos leg
    // writes the long column the nanosAsLong conf would deliver.
    val tmp = tempDir("tables-spec").toString
    val rows = Seq((1L, us), (2L, us + 1500000L))
    rows.toDF("event_id", "u")
      .select(col("event_id"), (col("u") * 1000L).as("ts"))
      .write.mode("overwrite").parquet(s"$tmp/nanos/events.parquet")
    rows.toDF("event_id", "u")
      .select(col("event_id"),
        timestamp_micros(col("u")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$tmp/micros/events.parquet")
    val a = Tables.events(spark, s"$tmp/nanos")
      .select(col("event_id"), unix_micros(col("ts")).as("u")).as[(Long, Long)]
      .collect().sortBy(_._1)
    val b = Tables.events(spark, s"$tmp/micros")
      .select(col("event_id"), unix_micros(col("ts")).as("u")).as[(Long, Long)]
      .collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq && a.map(_._2).toSeq == rows.map(_._2))
  }

  test("documents data contract: n_chars == length(text) in the generated corpus") {
    // Two metadata-derived capacity bounds depend on this invariant
    // (ADVICE r20): Dedup.shingleVolumeBytes (verify-grid sizing) and
    // decontaminateBloom's filter capacity — both compute
    // Σ max(n_chars - N + 1, 0) INSTEAD of re-running the shingle
    // kernel, which is only a valid upper bound on window counts if
    // the stored column equals the length of the text the kernel
    // actually shingles. Output would stay correct if they diverged
    // (exact confirm joins remove bloom false positives; the grid
    // ceiling is a safety margin), but the prefilter's selectivity
    // and the sizing margin would silently degrade — so pin the
    // invariant against the generated corpus itself.
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val bad = Tables.documents(spark, d)
        .filter(col("n_chars") =!= length(col("text")).cast(LongType)).count()
      assert(bad == 0L, s"$d: $bad documents violate n_chars == length(text)")
    }
  }

  test("collectCached reads once per listing key, re-reads after a write; a vanished file has 1 row group") {
    val dir = tempDir("graft_collect_cached").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(dir)
    val first = Tables.collectCached(spark, dir, 10).get
    assert(first.rows.map(_.getLong(0)).sorted == Seq(1L, 2L))
    assert(Tables.collectCached(spark, dir, 10).get eq first, "a memo hit must not re-read")
    Seq((3L, "c")).toDF("k", "v").write.mode("append").parquet(dir)
    assert(Tables.collectCached(spark, dir, 10).get.rows.map(_.getLong(0)).sorted == Seq(1L, 2L, 3L))
    assert(Tables.collectCached(spark, dir, 2).isEmpty, "a table past the bound is not held")
    assert(Tables.rowGroupCount(spark, s"$dir/no-such-file.parquet") == 1)
  }

  test("collectCached reads on the driver with the scan's schema and rows, and runs no job") {
    val dir = tempDir("graft_collect_driver").toString + "/t"
    Seq((1L, "a", 0.5), (2L, null, 1.5)).toDF("k", "v", "d").write.parquet(dir)
    Seq((3L, "c", Double.NaN)).toDF("k", "v", "d").write.mode("append").parquet(dir)
    val (snap, jobs) = LookupSpec.jobsOf(spark)(Tables.collectCached(spark, dir, 10).get)
    assert(jobs == 0, s"$jobs jobs")
    val scan = spark.read.parquet(dir)
    assert(snap.schema == scan.schema, s"${snap.schema} != ${scan.schema}")
    assert(snap.rows.map(_.toString).sorted == scan.collect().map(_.toString).toSeq.sorted)
    // a column the driver reader does not decode keeps the scan route
    val dated = tempDir("graft_collect_dated").toString + "/t"
    Seq((1L, java.sql.Date.valueOf("2026-01-01"))).toDF("k", "day").write.parquet(dated)
    assert(Tables.collectCached(spark, dated, 10).isEmpty)
  }

  test("footers hold each file's row count and column statistics, and follow a rewrite") {
    val dir = tempDir("graft_footers").toString + "/t"
    Seq((5L, "m", Some(1.0)), (9L, "b", None)).toDF("k", "s", "d").coalesce(1).write.parquet(dir)
    Seq((2L, "z", Option.empty[Double])).toDF("k", "s", "d").coalesce(1).write.mode("append").parquet(dir)
    val (files, jobs) = LookupSpec.jobsOf(spark)(Tables.footers(spark, dir))
    assert(jobs == 0 && files.map(_.rows).sorted == Seq(1L, 2L))
    assert(Tables.footers(spark, dir) eq files, "a memo hit must not re-read")
    assert(Tables.columnStats(files, "k") == ((Some(2L), Some(9L), 0L)))
    assert(Tables.columnStats(files, "s") == ((Some("b"), Some("z"), 0L)))
    assert(Tables.columnStats(files, "d") == ((Some(1.0), Some(1.0), 2L)))
    assert(Tables.columnStats(files.filter(_.rows == 1), "d") == ((None, None, 1L)), "an all-null column has no span")
    assert(Tables.columnStats(Nil, "k") == ((None, None, 0L)))
    val missing = intercept[IllegalStateException](Tables.columnStats(files, "nope"))
    assert(missing.getMessage.contains("no parquet statistics for column nope"), missing.getMessage)
    Seq((7L, "q", Some(3.0))).toDF("k", "s", "d").coalesce(1).write.mode("overwrite").parquet(dir)
    assert(Tables.columnStats(Tables.footers(spark, dir), "k") == ((Some(7L), Some(7L), 0L)))
    intercept[java.io.FileNotFoundException](Tables.footers(spark, s"$dir-gone"))
  }
}
