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
class TablesSpec extends AnyFunSuite {
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
    val tmp = java.nio.file.Files.createTempDirectory("tables-spec").toString
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
    val dir = java.nio.file.Files.createTempDirectory("graft_collect_cached").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(dir)
    val first = Tables.collectCached(spark, dir, Seq("k"), 10).get
    assert(first.map(_.getLong(0)).sorted == Seq(1L, 2L))
    assert(Tables.collectCached(spark, dir, Seq("k"), 10).get eq first, "a memo hit must not re-read")
    Seq((3L, "c")).toDF("k", "v").write.mode("append").parquet(dir)
    assert(Tables.collectCached(spark, dir, Seq("k"), 10).get.map(_.getLong(0)).sorted == Seq(1L, 2L, 3L))
    assert(Tables.collectCached(spark, dir, Seq("k"), 2).isEmpty, "a table past the bound is not held")
    assert(Tables.rowGroupCount(spark, s"$dir/no-such-file.parquet") == 1)
  }
}
