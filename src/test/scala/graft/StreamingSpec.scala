package graft

import graft.streaming.Streams
import graft.streaming.Streams.{Ev, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("streaming takedown: gate and queue equal the batch retraction restricted to the tombstone slice") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    // the gate serves EXACTLY the batch anti join of reads against
    // the tombstone registry — the serving half of the retraction
    val served = Streams.streamTakedownGate(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = docs.filter(!operators.Retract.takedownPred)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id")).collect().map(_.toString).toSeq
    assert(served.nonEmpty && served == batch)
    // the queue feeds the repair with EXACTLY the tombstone slice —
    // the id set the batch retraction removes, nothing else
    val queued = Streams.streamTakedownQueue(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val slice = docs.filter(operators.Retract.takedownPred)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(queued == slice && queued.nonEmpty)
    // queued repair: the batch consumer of the same registry leaves
    // NO per-doc state for any queued id (tf term counts — the most
    // consumer-visible table; RetractSpec pins the other eleven)
    operators.Retract.Repair.ensure(spark, dir)
    val retained = spark.read.parquet(operators.Retract.RetTfidfPath)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(retained.intersect(queued).isEmpty,
      "repaired term counts still hold a queued (tombstoned) doc")
  }

  test("stream tumbling aggregation equals the batch operator") {
    val stream = Streams.streamTumbling(spark, dir).collect().map(_.toString).toSeq
    val batch = operators.Relational.qEventsTumbling(spark, dir).collect().map(_.toString).toSeq
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("stream-static enrichment join equals the batch equivalent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val stream = Streams.streamEnrich(spark, dir).collect().map(_.toString).toSeq
    val dim = Streams.EnrichDim.toDF("event_type", "category", "weight")
    val batch = Tables.events(spark, dir)
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(window(col("ts"), "5 minutes"), col("category"))
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum(col("value") * col("weight")).as("sum_weighted"))
      .select(unix_micros(col("window.start")).as("bucket_us"),
        col("category"), col("n_events"), col("sum_weighted"))
      .orderBy(col("bucket_us"), col("category")).collect().map(_.toString).toSeq
    assert(stream.nonEmpty)
    assert(stream == batch)
    // every input category appears (the dim covers all 5 types)
    val cats = Streams.streamEnrich(spark, dir).select("category").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cats == Set("engagement", "conversion", "reliability"))
  }

  test("stream-stream interval join equals the batch self-join") {
    import org.apache.spark.sql.functions._
    val stream = Streams.streamJoin(spark, dir).collect().map(_.toString).toSeq
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batch = views.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL ${Streams.AttributionMin} MINUTES"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
      .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
      .collect().map(_.toString).toSeq
    assert(stream.nonEmpty)
    assert(stream == batch)
    // every emitted pair respects the attribution window
    Streams.streamJoin(spark, dir).collect().foreach { r =>
      val d = r.getLong(4) - r.getLong(3)
      assert(d >= 0 && d <= Streams.AttributionMin * 60L * 1000000,
        s"pair outside the attribution window: $r")
    }
  }

  test("stream-stream join state is evicted once the watermark passes the window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    val base = 1700000000L * 1000000
    val vs = MemoryStream[(Long, Long, Long)] // (user_id, view_id, tsUs)
    val ps = MemoryStream[(Long, Long, Long)]
    val views = vs.toDS().toDF("user_id", "view_id", "vUs")
      .withColumn("view_ts", timestamp_micros(col("vUs")))
      .withWatermark("view_ts", "10 minutes")
    val purchases = ps.toDS().toDF("p_user_id", "purchase_id", "pUs")
      .withColumn("purchase_ts", timestamp_micros(col("pUs")))
      .withWatermark("purchase_ts", "10 minutes")
    val joined = views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("view_id"), col("purchase_id"))
    val q = joined.writeStream.format("memory").queryName("graft_join_evict_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      vs.addData((1L, 10L, base)); ps.addData((1L, 100L, base + 60L * 1000000))
      q.processAllAvailable() // in-window match emitted
      // advance both watermarks far past base + 30min + delay
      vs.addData((2L, 11L, base + 7200L * 1000000)); ps.addData((2L, 101L, base + 7200L * 1000000))
      q.processAllAvailable()
      // a late purchase matching the long-evicted view must NOT join
      ps.addData((1L, 102L, base + 120L * 1000000)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("graft_join_evict_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.contains((1L, 10L, 100L)), s"in-window match missing: $got")
    assert(!got.contains((1L, 10L, 102L)), s"evicted-state match leaked through: $got")
  }

  test("per-row minhash signature equals the batch aggregate signature") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val hashed = operators.Dedup.sharedShingleArrays(docs)
    val batch = operators.Dedup.minhashSignatures(docs)
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val perRow = hashed.filter(size(col("ghs")) > 0)
      .select(col("doc_id"), operators.Dedup.rowMinhashSig(col("ghs")).as("sig"))
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(batch.nonEmpty)
    assert(perRow.toSeq == batch.toSeq)
  }

  test("streaming document near-dup gate equals the batch incremental operator") {
    val stream = Streams.streamDedupDocs(spark, dir).collect().map(_.toString).toSeq
    val batch = operators.Dedup.dedupMinhashLshIncremental(spark, dir)
      .collect().map(_.toString).toSeq
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming curation gate equals the batch composition over the fresh slice") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Curation, Dedup}
    graft.functions.GraftFunctions.register(spark)
    val stream = Streams.streamCurateGate(spark, dir).collect().map(_.toString).toSeq
    val docs = Tables.documents(spark, dir)
    val split = Dedup.incrementalSplit(docs).get
    val st = expr("graft_text_stats(text)")
    val nChars = length(col("text")).cast("long")
    val q = docs.filter(col("doc_id") >= lit(split)).filter(
      nChars >= lit(Curation.CurateMinChars) && nChars <= lit(Curation.CurateMaxChars) &&
        element_at(st, 3) / nChars < lit(Curation.CurateMaxPunctRatio) &&
        element_at(st, 5) / element_at(st, 1) < lit(Curation.CurateMaxMeanWordLen))
    val e = q.join(Dedup.CorpusHashes.table(spark, dir),
      md5(col("text")) === col("h"), "left_anti")
    val flagged = Dedup.dedupMinhashLshIncremental(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    val batch = e.join(flagged, Seq("doc_id"), "left_anti")
      .select(col("lang"), col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.toString).toSeq
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("bounded curate gate: admit/deny verdicts, in-window collapse, eviction re-admit, late drop") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    // a corpus near-duplicate (must be DENIED) and a unique
    // quality-passing doc (must be ADMITTED)
    val dupText = Tables.documents(spark, dir)
      .orderBy(col("doc_id")).select(col("text")).head.getString(0)
    val okText = (1 to 40).map(i => s"unique$i word").mkString(" ")
    val okId = 30_000_000L
    val dupId = 30_000_001L
    val shortId = 30_000_002L
    val base = 1700000000L * 1000000
    val min = 60L * 1000000
    val ms = MemoryStream[(Long, String, Long)]
    val fresh = ms.toDS().toDF("doc_id", "text", "iUs")
      .withColumn("ingest_ts", timestamp_micros(col("iUs")))
      .select(col("doc_id"), col("text"), col("ingest_ts"))
    val gate = Streams.streamCurateGateBounded(spark, dir, fresh, "10 minutes")
    val q = gate.writeStream.format("memory").queryName("graft_curate_bounded_test")
      .outputMode(OutputMode.Append()).start()
    def admitted(id: Long): Int = spark.table("graft_curate_bounded_test")
      .filter(col("doc_id") === id).count().toInt
    try {
      // ok doc arrives twice IN-window; dup-of-corpus and a
      // quality-failing short doc arrive once each
      ms.addData((okId, okText, base)); q.processAllAvailable()
      ms.addData((okId, okText, base + min)); q.processAllAvailable()
      ms.addData((dupId, dupText, base), (shortId, "tiny", base)); q.processAllAvailable()
      // advance the watermark far past base + delay to flush buckets
      ms.addData((okId + 5, "x".repeat(150), base + 120 * min)); q.processAllAvailable()
      assert(admitted(okId) == 1,
        s"unique quality doc must be admitted exactly once, got ${admitted(okId)}")
      assert(admitted(dupId) == 0, "corpus near-duplicate leaked through the gate")
      assert(admitted(shortId) == 0, "quality-failing doc leaked through the gate")
      // post-eviction on-time re-arrival → re-admitted (state left)
      ms.addData((okId, okText, base + 121 * min)); q.processAllAvailable()
      ms.addData((okId + 6, "y".repeat(150), base + 240 * min)); q.processAllAvailable()
      assert(admitted(okId) == 2,
        s"post-eviction re-arrival not re-admitted: ${admitted(okId)}")
      // behind-watermark late re-arrival → dropped
      ms.addData((okId, okText, base + min)); q.processAllAvailable()
      ms.addData((okId + 7, "z".repeat(150), base + 360 * min)); q.processAllAvailable()
      assert(admitted(okId) == 2, "behind-watermark row leaked through")
    } finally q.stop()
  }

  test("streaming shard router totals equal the batch shard layout aggregated") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val stream = Streams.streamShardAssign(spark, dir).collect().map(_.toString).toSeq
    val batch = operators.Pack.shardsOf(
        Tables.documents(spark, dir).select(col("doc_id"),
          element_at(expr("graft_text_stats(text)"), 1).as("n_tokens")))
      .groupBy(col("shard_ix"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).as("max_doc_tokens"))
      .orderBy(col("shard_ix")).collect().map(_.toString).toSeq
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming substring profile equals the batch incremental operator") {
    val stream = Streams.streamSubstringProfile(spark, dir).collect().map(_.toString).toSeq
    val batch = operators.Dedup.dedupSubstringIncremental(spark, dir)
      .collect().map(_.toString).toSeq
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("bounded gate: in-window pair dedup, state eviction re-emit, behind-watermark drop") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    // a fresh doc that EXACTLY duplicates a corpus doc → guaranteed pairs
    val dupText = Tables.documents(spark, dir)
      .orderBy(col("doc_id")).select(col("text")).head.getString(0)
    val freshId = 10_000_000L
    val base = 1700000000L * 1000000
    val min = 60L * 1000000
    val ms = MemoryStream[(Long, String, Long)] // (doc_id, text, ingestUs)
    val fresh = ms.toDS().toDF("doc_id", "text", "iUs")
      .withColumn("ingest_ts", timestamp_micros(col("iUs")))
      .select(col("doc_id"), col("text"), col("ingest_ts"))
    val gate = Streams.streamDedupDocsBounded(spark, dir, fresh, "10 minutes")
    val q = gate.writeStream.format("memory").queryName("graft_gate_bounded_test")
      .outputMode(OutputMode.Append()).start()
    def emittedForFresh(): Int = spark.table("graft_gate_bounded_test")
      .filter(col("doc_b") === freshId).count().toInt
    try {
      ms.addData((freshId, dupText, base)); q.processAllAvailable()
      val n1 = emittedForFresh()
      assert(n1 > 0, "planted duplicate produced no pairs")
      // same doc re-detected INSIDE the watermark window → deduped
      ms.addData((freshId, dupText, base + min)); q.processAllAvailable()
      assert(emittedForFresh() == n1, "in-window re-detection was not deduped")
      // advance the watermark far past base + delay (unrelated doc)
      ms.addData((freshId + 1, "x".repeat(64), base + 120 * min)); q.processAllAvailable()
      // ON-TIME re-detection after eviction → re-emitted: the pair
      // state demonstrably left the store (plain dropDuplicates
      // would suppress this forever — unbounded state)
      ms.addData((freshId, dupText, base + 121 * min)); q.processAllAvailable()
      assert(emittedForFresh() == 2 * n1,
        s"post-eviction re-detection not re-emitted (state not evicted?): ${emittedForFresh()} vs ${2 * n1}")
      // BEHIND-watermark late re-arrival → dropped by the watermark,
      // nothing new emitted
      ms.addData((freshId, dupText, base + min)); q.processAllAvailable()
      assert(emittedForFresh() == 2 * n1, "behind-watermark row leaked through")
    } finally q.stop()
  }

  test("bounded substring gate: in-window collapse, eviction re-emit, late drop, batch-equal values") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val dupText = Tables.documents(spark, dir)
      .orderBy(col("doc_id")).select(col("text")).head.getString(0)
    val freshId = 20_000_000L
    val base = 1700000000L * 1000000
    val min = 60L * 1000000
    val ms = MemoryStream[(Long, String, Long)]
    val fresh = ms.toDS().toDF("doc_id", "text", "iUs")
      .withColumn("ingest_ts", timestamp_micros(col("iUs")))
      .select(col("doc_id"), col("text"), col("ingest_ts"))
    val gate = Streams.streamSubstringProfileBounded(spark, dir, fresh, "10 minutes")
    val q = gate.writeStream.format("memory").queryName("graft_substr_bounded_test")
      .outputMode(OutputMode.Append()).start()
    def rowsForFresh() = spark.table("graft_substr_bounded_test")
      .filter(col("doc_id") === freshId).collect()
    try {
      // two in-window arrivals of the same doc...
      ms.addData((freshId, dupText, base)); q.processAllAvailable()
      ms.addData((freshId, dupText, base + min)); q.processAllAvailable()
      // ...then an unrelated doc far ahead advances the watermark and
      // flushes append-mode state: exactly ONE profile row (the
      // in-window duplicate collapsed; without the dedup stage the
      // base+min arrival would sit in its own 1-minute bucket and a
      // second row would eventually emit)
      ms.addData((freshId + 1, "x".repeat(64), base + 120 * min)); q.processAllAvailable()
      val r1 = rowsForFresh()
      assert(r1.length == 1, s"expected one collapsed profile row, got ${r1.length}")
      // values equal the same profile computed in batch over the
      // persisted (wh, total) table
      val expect = Seq((freshId, dupText)).toDF("doc_id", "text")
        .select(col("doc_id"),
          (length(col("text")) - lit(Dedup.SubstringK - 1)).cast("long").as("n_windows"),
          explode(expr(s"graft_window_hashes(text, ${Dedup.SubstringK})")).as("wh"))
        .join(Dedup.SubstringWindows.table(spark, dir), "wh")
        .groupBy(col("doc_id"), col("n_windows"))
        .agg(sum(when(col("total") === 1, 1L).otherwise(0L)).as("uniq"))
        .select(col("doc_id"), col("n_windows"),
          (col("n_windows") - col("uniq")).as("dup_windows"),
          ((col("n_windows") - col("uniq")).cast("double") / col("n_windows").cast("double"))
            .as("dup_frac"))
        .head()
      assert(r1.head.toSeq == expect.toSeq,
        s"stream profile ${r1.head.toSeq} != batch ${expect.toSeq}")
      // ON-TIME re-crawl after eviction → re-profiled (dedup state
      // demonstrably left the store)
      ms.addData((freshId, dupText, base + 121 * min)); q.processAllAvailable()
      ms.addData((freshId + 2, "y".repeat(64), base + 240 * min)); q.processAllAvailable()
      assert(rowsForFresh().length == 2,
        "post-eviction re-crawl not re-profiled (state not evicted?)")
      // BEHIND-watermark late re-arrival → dropped
      ms.addData((freshId, dupText, base + min)); q.processAllAvailable()
      ms.addData((freshId + 3, "z".repeat(64), base + 360 * min)); q.processAllAvailable()
      assert(rowsForFresh().length == 2, "behind-watermark row leaked through")
    } finally q.stop()
  }

  test("stream dedup emits exactly the distinct key set") {
    val stream = Streams.streamDedup(spark, dir).collect().map(_.toString).toSeq
    val batch = Tables.events(spark, dir)
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type").collect().map(_.toString).toSeq
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("watermark drops late rows from an append-mode windowed aggregation") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._

    val base = 1700000000L * 1000000
    val ms = MemoryStream[(Long, Long)] // (event_id, tsUs)
    val agg = ms.toDS().toDF("event_id", "tsUs")
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes")).agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("bucket_us"), col("n"))
    val q = agg.writeStream.format("memory").queryName("graft_watermark_test")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((1L, base)); q.processAllAvailable()
      // jump 2 hours ahead: watermark passes base's window end + 10 min
      ms.addData((2L, base + 7200L * 1000000)); q.processAllAvailable()
      // a late row in the long-closed first window must be DROPPED
      ms.addData((3L, base + 1000)); q.processAllAvailable()
      // advance far enough to emit the second window too
      ms.addData((4L, base + 7200L * 2 * 1000000)); q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("graft_watermark_test").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bucket = (us: Long) => us - us % (300L * 1000000)
    assert(got(bucket(base)) == 1L, s"late row was counted: $got")
    assert(got(bucket(base + 7200L * 1000000)) == 1L)
  }

  test("stateful sessionization over micro-batches equals the fold-based expectation") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val hourUs = 3600L * 1000 * 1000
    def ev(user: Long, id: Long, tUs: Long) = Ev(user, id, tUs)
    val base = 1700000000L * 1000000
    // user 1: two sessions (gap > 30 min between id 3 and 4);
    // user 2: one session
    val batch1 = Seq(ev(1, 1, base), ev(1, 2, base + 60_000_000L), ev(2, 10, base))
    val batch2 = Seq(ev(1, 3, base + 120_000_000L), ev(2, 11, base + 300_000_000L))
    val batch3 = Seq(ev(1, 4, base + 120_000_000L + Streams.GapUs + 1), ev(2, 12, base + 600_000_000L))
    // sentinel far-future event advances the watermark so event-time
    // timeouts close every open session
    val sentinel = Seq(ev(99, 999, base + 100 * hourUs))

    // after the timeout flush, a NEW event for user 1 must continue
    // the session numbering (session 3), not restart at 1
    val postTimeout = Seq(ev(1, 5, base + 101 * hourUs))
    val sentinel2 = Seq(ev(99, 998, base + 300 * hourUs))

    val ms = MemoryStream[Ev]
    val query = Streams.sessionize(ms.toDS())
      .writeStream.format("memory").queryName("graft_stream_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(batch1, batch2, batch3, sentinel, postTimeout, sentinel2).foreach { b =>
        ms.addData(b); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("graft_stream_sessions").as[SessionOut].collect()
      .filter(_.user_id != 99)
      .map(s => (s.user_id, s.session_id, s.n_events, s.start_us, s.end_us)).toSet
    val expected = Set(
      (1L, 1L, 3L, base, base + 120_000_000L),
      (1L, 2L, 1L, base + 120_000_000L + Streams.GapUs + 1, base + 120_000_000L + Streams.GapUs + 1),
      (1L, 3L, 1L, base + 101 * hourUs, base + 101 * hourUs),
      (2L, 1L, 3L, base, base + 600_000_000L))
    assert(got == expected)
  }

  test("sessionizeFn handles cross-batch late events by position (drop / count / new)") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import Streams.{Ev, SessionOut, SessionState}
    def run(state: SessionState, events: Ev*): (Seq[SessionOut], SessionState) = {
      val gs = TestGroupState.create[SessionState](
        org.apache.spark.api.java.Optional.of(state), GroupStateTimeout.EventTimeTimeout,
        batchProcessingTimeMs = 0L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(java.lang.Long.valueOf(0L)),
        hasTimedOut = false)
      val out = Streams.sessionizeFn(1L, events.iterator, gs).toSeq
      (out, gs.get)
    }
    val open = SessionState(sessionId = 2L, startUs = 100L, endUs = 200L, n = 3L)
    // in-span late event: counted, bounds unchanged, nothing emitted
    assert(run(open, Ev(1L, 10L, 150L)) == ((Nil, open.copy(n = 4L))))
    // late event predating the open session: dropped entirely
    assert(run(open, Ev(1L, 10L, 50L)) == ((Nil, open)))
    val closed = open.copy(n = 0L) // emitted via timeout, marker kept
    // late event behind the emitted session's end: dropped, no reopen
    assert(run(closed, Ev(1L, 10L, 150L)) == ((Nil, closed)))
    // on-time event after a closed session: numbering continues
    assert(run(closed, Ev(1L, 10L, 300L)) ==
      ((Nil, SessionState(sessionId = 3L, startUs = 300L, endUs = 300L, n = 1L))))
  }
}
