package graft.streaming

import graft.{Exact, GraftQuery}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event operators
  * (SURVEY.md §2D). Each streaming plan is the `readStream` form of
  * its batch sibling; the specs assert stream-equals-batch on the
  * same data, which is the engine-level guarantee a user relies on
  * when promoting a batch pipeline to a continuous one.
  *
  * Driver entries run the stream to completion over the parquet
  * events table (one-shot `processAllAvailable`) and hand back the
  * memory-sink table, so the SAME DuckDB oracles that check the
  * batch operators also check the streaming path.
  */
object Streams {

  /** Events as a stream: same `ts` normalization as `Tables.events`
    * (the batch loader), applied to whatever encoding the parquet
    * file actually carries (ns-as-long, µs NTZ, or µs TZ) — see
    * [[graft.Tables.normalizeEventsTs]]. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // schema via the Tables memo — a bare spark.read.parquet here
    // re-paid the footer-inference job on every stream entry run
    val schema = graft.Tables.table(spark, dir, "events").schema
    // the file-stream source requires a directory: stream the parent
    // dir filtered down to the events table file
    graft.Tables.normalizeEventsTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** The documents table as a stream, schema from the batch table's
    * memo, like [[eventsStream]]. */
  private def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(graft.Tables.documents(spark, dir).schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)

  /** The fresh-crawl slice of [[documentsStream]] — the ingest gates'
    * input, the batch fresh forms' slice ([[graft.operators.Dedup.freshSlice]]). */
  private def freshDocsStream(spark: SparkSession, dir: String): DataFrame =
    documentsStream(spark, dir)
      .filter(graft.operators.Dedup.freshSlice(graft.Tables.documents(spark, dir)))

  /** Stateful-shuffle width for the one-shot driver entries. A
    * streaming query pins `spark.sql.shuffle.partitions` at start as
    * its state-store count; at batch-sized micro-batches the
    * per-store commit overhead dominates, so the harness runs few
    * stores instead of the session's CPU-count default. Round-4
    * swept 8→4 (+8%) but 2 regressed ~20% on disk-backed
    * checkpoints; with round 5's tmpfs checkpoint + AvailableNow the
    * commit got cheap enough that 2 now wins across all three
    * entries (1.67/0.70/1.48 s vs 1.71/0.82/1.79 s at sf0.1). A
    * continuous cluster deployment should size this to
    * keyspace x executors instead — it is a start-time knob, not
    * part of the operator. */
  val HarnessStatePartitions = 2

  /** Effective state-store count: `graft.stream.statePartitions`
    * overrides the batch-sized harness default. The default (2) is
    * tuned for sf0.1-sized one-shot runs where per-store commit
    * overhead dominates; at 10x the volume the stateful operators
    * become partition-parallel compute (each store's task sorts and
    * folds its keys' full event slice single-threaded), and 2 stores
    * serialize it — measured for stream_sessionize over 10M events
    * (sf10, local[32]): 45.2 s at 2 stores, 21.7 s at 16, 20.2 s at
    * 32 — the knee sits near 16, after which the serial tail
    * (memory-sink append + presentation sort of ~1.4M sessions +
    * per-batch planning) dominates. A continuous deployment sizes
    * this to keyspace x executors; the conf/env is the scale-run
    * knob for the same decision. */
  private def harnessStatePartitions(spark: SparkSession): Int =
    spark.conf.getOption("graft.stream.statePartitions").map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_STATE_PARTITIONS").map(_.toInt))
      .getOrElse(HarnessStatePartitions)

  /** Start `f`'s streaming query with the harness state sizing, then
    * restore the session conf (the running query keeps the value it
    * started with — StreamExecution clones the session at start).
    *
    * `noDataBatches = false` additionally skips the trailing no-data
    * micro-batch for queries whose OUTPUT cannot depend on it: every
    * [[runToMemory]] entry either re-emits the full result per data
    * batch (Complete-mode aggregates) or emits each row the moment it
    * is computable (Append-mode inner stream-stream join,
    * dropDuplicates, stateless joins — none of them hold rows back
    * for a watermark), so the extra batch only evicts state and
    * re-pays planning + WAL + state commit for zero rows — measured
    * 0.74 s of stream_join's 2.64 s (batch 1: rows=0,
    * triggerExecution=738 ms). [[streamSessionize]] KEEPS the
    * no-data batch: its event-time timeouts fire there — that batch
    * is what flushes the final sessions. A continuous deployment
    * keeps the default too (state eviction and watermark-driven
    * emission are the point of no-data batches there); this is the
    * one-shot harness stating that nothing downstream waits on a
    * watermark. */
  private def withHarnessStateSizing[A](spark: SparkSession,
                                        noDataBatches: Boolean = true)(f: => A): A = {
    val pKey = "spark.sql.shuffle.partitions"
    val nKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val oldP = spark.conf.get(pKey)
    val oldN = spark.conf.get(nKey)
    spark.conf.set(pKey, harnessStatePartitions(spark).toString)
    spark.conf.set(nKey, noDataBatches.toString)
    try f finally { spark.conf.set(pKey, oldP); spark.conf.set(nKey, oldN) }
  }

  /** Ephemeral checkpoint dir for the one-shot harness runs. The
    * default temp checkpoint lands on local disk and every offset /
    * commit / state-store write fsyncs there — durability for a
    * directory that forceDelete removes milliseconds later when the
    * one-shot query stops. tmpfs (when present) gives the same
    * rename-based commit semantics without paying disk latency ~10x
    * per run. A CONTINUOUS deployment must instead point
    * checkpointLocation at durable shared storage — the checkpoint
    * is its recovery contract; this helper is harness-only by
    * construction (caller deletes the dir in `finally`). */
  private def ephemeralCheckpoint(): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base = if (java.nio.file.Files.isDirectory(shm) &&
      java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, "graft_stream_ckpt")
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      // Files.walk holds open directory streams until closed — an
      // unclosed walk leaks an fd per checkpoint tree per run
      val walk = java.nio.file.Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  /** Run a one-shot stream into a memory sink and return the sink
    * table. Any previous query with the same name is stopped first
    * so entries are re-runnable within a session.
    *
    * The memory sink is the HARNESS path only — it funnels results
    * through the driver so the DuckDB oracle can check them. A
    * production deployment writes `df.writeStream` to a real sink
    * (kafka / parquet / a Warehouse table) with a continuous trigger and
    * checkpointLocation; nothing in the operator plans depends on
    * the sink choice. */
  private def runToMemory(spark: SparkSession, df: DataFrame, name: String,
                          mode: OutputMode): DataFrame = {
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    // Trigger.AvailableNow: the query plans all currently-available
    // input, runs the batches it needs (plus watermark-driven
    // flush batches), and terminates itself — the one-shot contract
    // stated directly, instead of processAllAvailable's
    // wait-then-stop polling (VERDICT r4 item 5)
    val ckpt = ephemeralCheckpoint()
    try {
      val q = withHarnessStateSizing(spark, noDataBatches = false) {
        df.writeStream.format("memory").queryName(name).outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      }
      try q.awaitTermination() finally q.stop()
    } finally deleteRecursively(ckpt)
    // coalesce(1): the sink table is driver-local rows (harness-
    // bounded by construction — see the memory-sink note above), but
    // its LocalTableScan still fans the downstream presentation sort
    // into a full range exchange: one sampling job plus 32 sort tasks
    // each deserializing the whole local relation from the task
    // binary (r20 profile: 13.7 s of summed task run for a
    // bucket-count-sized table). SinglePartition satisfies the sort's
    // required distribution outright, so the entries' orderBy becomes
    // one local sort — no sampling job, no exchange, the rows
    // serialized once. Every entry's presentation sort is over a
    // unique key set, so the row set AND final order are unchanged.
    spark.table(name).coalesce(1)
  }

  // ---- stream twin of q_events_tumbling ----
  // window('ts', '5 minutes') aligns to the epoch, so bucket_us is
  // identical to the batch integer-bucket arithmetic — and the batch
  // oracle SQL applies unchanged.
  def streamTumbling(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Exact.dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("bucket_us"),
        col("event_type"), col("n_events"), col("sum_value"))
    runToMemory(spark, agg, "graft_stream_tumbling", OutputMode.Complete())
      .orderBy(col("bucket_us"), col("event_type"))
  }

  private val streamTumblingSql: String = {
    import Exact.sql._
    val windowUs = 300L * 1000 * 1000
    s"""SELECT epoch_us(CAST(ts AS TIMESTAMP)) - (epoch_us(CAST(ts AS TIMESTAMP)) % $windowUs) AS bucket_us,
       |  event_type, COUNT(*) AS n_events, ${sdsum("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- stream-static enrichment join + windowed agg ----
  /** The static event-type dimension for the enrichment entry. A
    * stream-STATIC join is the standard Structured Streaming
    * enrichment pattern (the static side is re-planned per
    * micro-batch, needs no state store and no watermark coupling) —
    * the streaming family's missing join shape until round 8. The
    * dim lives in code so the broadcast side is bounded by
    * construction, and the oracle embeds the SAME rows as a VALUES
    * literal, so the two engines cannot desync on the mapping. */
  val EnrichDim: Seq[(String, String, Int)] = Seq(
    ("click", "engagement", 1), ("view", "engagement", 1),
    ("signup", "conversion", 10), ("purchase", "conversion", 25),
    ("error", "reliability", 0))

  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = EnrichDim.toDF("event_type", "category", "weight")
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), Seq("event_type")) // stateless stream-static join
      .groupBy(window(col("ts"), "5 minutes"), col("category"))
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum(col("value") * col("weight")).as("sum_weighted"))
      .select(unix_micros(col("window.start")).as("bucket_us"),
        col("category"), col("n_events"), col("sum_weighted"))
    runToMemory(spark, agg, "graft_stream_enrich", OutputMode.Complete())
      .orderBy(col("bucket_us"), col("category"))
  }

  private val streamEnrichSql: String = {
    import Exact.sql._
    val windowUs = 300L * 1000 * 1000
    val dimValues = EnrichDim.map { case (t, c, w) => s"('$t', '$c', $w)" }.mkString(", ")
    s"""WITH dim(event_type, category, weight) AS (VALUES $dimValues)
       |SELECT epoch_us(CAST(ts AS TIMESTAMP)) - (epoch_us(CAST(ts AS TIMESTAMP)) % $windowUs) AS bucket_us,
       |  category, COUNT(*) AS n_events, ${sdsum("value * weight")} AS sum_weighted
       |FROM events JOIN dim USING (event_type)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- stream-stream event-time interval join ----
  /** Attribution window: a purchase is matched to every view by the
    * same user in the preceding [[AttributionMin]] minutes. */
  val AttributionMin = 30

  /** Stream-STREAM interval join — the remaining streaming join
    * shape after round 8's stream-static enrichment: BOTH sides are
    * unbounded, so each buffers rows in the state store keyed by
    * user_id until the other side's watermark passes the attribution
    * window, at which point state is evicted. The event-time range
    * condition on the two watermarked columns is what makes eviction
    * possible — without it an inner stream-stream join must retain
    * both sides forever. Inner-join semantics keep the one-shot
    * output independent of micro-batch boundaries (a match is
    * emitted whenever both rows have arrived; the watermark bounds
    * STATE, not results), so the memory-sink table equals the batch
    * self-join bit-for-bit and the batch oracle applies unchanged.
    *
    * At 100 TB-rate deployment the state store shards by user_id
    * across executors and holds ~1 hour + 30 min of each side per
    * key — bounded by the watermark delay, not the stream length. */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
    val views = src
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = src
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $AttributionMin MINUTES"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
    runToMemory(spark, joined, "graft_stream_join", OutputMode.Append())
      .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
  }

  private val streamJoinSql: String =
    s"""SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
       |  epoch_us(CAST(a.ts AS TIMESTAMP)) AS view_us,
       |  epoch_us(CAST(b.ts AS TIMESTAMP)) AS purchase_us
       |FROM events a JOIN events b
       |  ON b.user_id = a.user_id
       | AND a.event_type = 'view' AND b.event_type = 'purchase'
       | AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
       | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL $AttributionMin MINUTE
       |ORDER BY 1, 2, 3""".stripMargin

  // ---- streaming dedup with state ----
  // dropDuplicates on the key columns; emitting ONLY the key columns
  // keeps the result deterministic (which physical row survives is
  // arrival-order dependent; the key set is not).
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val dedup = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    runToMemory(spark, dedup, "graft_stream_dedup", OutputMode.Append())
      .orderBy(col("user_id"), col("event_type"))
  }

  private val streamDedupSql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  // ---- streaming document near-dup gate vs the persisted sketch ----
  /** Near-dup detection ON INGEST: the fresh-crawl document stream is
    * minhash-sketched per row, banded, and stream-static-joined
    * against the PERSISTED corpus sketch table
    * ([[graft.operators.Dedup.MinhashSketch]] — the round-11
    * warehouse column), emitting each arriving document's verified
    * near-dup pairs continuously. This is the streaming regime of
    * `dedup_minhash_incremental`: same slice convention (doc_id >=
    * the 90% split plays the fresh crawl), same persisted a side,
    * same exact-Jaccard verification — the one-shot output EQUALS
    * the batch incremental entry row-for-row (spec-pinned), which is
    * the guarantee that lets a nightly batch dedup be promoted to an
    * ingest-time gate without changing results.
    *
    * Streaming shapes, piece by piece:
    *  - per-row sketch: `rowMinhashSig` computes the 64-perm
    *    signature inside each document's row (identical values to
    *    the batch aggregate — one lemma, spec-pinned), so the stream
    *    side carries NO aggregation state;
    *  - candidates: bands of the stream join bands of the STATIC
    *    sketch relation — a stream-static equi-join is stateless
    *    (the static side re-plans per micro-batch; at warehouse
    *    scale it is a bucketed table on (band, bh));
    *  - verify: both shingle arrays ride the candidate row (the
    *    stream's own array is carried through its bands; the corpus
    *    side joins back to the sketch table by doc_a), and
    *    `array_intersect` on hash-distinct arrays IS |A∩B| — the
    *    same IEEE division as the batch grid verify, bit-identical
    *    scores. Per-batch candidate volume is slice x bands, so the
    *    per-pair array shipping the batch grid exists to avoid
    *    never concentrates here;
    *  - cross-band duplicate candidates collapse via stateful
    *    dropDuplicates on the pair key AFTER scoring+thresholding,
    *    so the state store holds only true near-dup pairs (scores
    *    for the same pair are identical, so which physical row
    *    survives is immaterial). A continuous deployment bounds that
    *    state with dropDuplicatesWithinWatermark on ingest time;
    *    the one-shot harness run has no watermark to couple to. */
  def streamDedupDocs(spark: SparkSession, dir: String): DataFrame = {
    val scored = gateScoredPairs(spark, dir, freshDocsStream(spark, dir), carry = Nil)
      .dropDuplicates("doc_a", "doc_b")
    runToMemory(spark, scored, "graft_stream_dedup_docs", OutputMode.Append())
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The gate's scoring pipeline over an arbitrary fresh-document
    * stream (doc_id, text, plus any `carry` columns ridden through
    * unchanged — the bounded variant carries its ingest-time
    * column). Candidates come from the minhash family's one banded
    * join ([[graft.operators.Dedup.lshCandidates]], length prefilter
    * included) — the persisted corpus sketch's bands × the stream's
    * bands, the batch fresh-crawl form's state × slice split — with
    * the stream's shingle arrays riding each candidate, so the exact
    * Jaccard verify runs in-row. Emits verified (doc_a, doc_b,
    * jaccard [, carry…]) candidate rows BEFORE pair dedup, so each
    * dedup regime (unbounded dropDuplicates for the one-shot entry,
    * dropDuplicatesWithinWatermark for continuous deployments)
    * composes on top. */
  private def gateScoredPairs(spark: SparkSession, dir: String,
                              fresh: DataFrame, carry: Seq[String]): DataFrame = {
    import graft.operators.Dedup
    graft.functions.GraftFunctions.register(spark)
    val p = spark.sparkContext.defaultParallelism
    // persisted corpus side: (doc_id, ghs, n, sig), built once per
    // corpus version (Dedup.MinhashSketch) — reading it here is what
    // makes the gate affordable: no full-corpus re-sketch per batch
    val sk = Dedup.MinhashSketch.table(spark, dir)
    // carry `n` so the band join can apply the batch path's length
    // prefilter (J <= min(n)/max(n): a length mismatch disqualifies a
    // pair before the array_intersect verify ever runs on it)
    val corpusBands = Dedup.lshBandsOf(sk.select(col("doc_id"), col("n"), col("sig")), p,
      carry = Seq("n"))
    val c = carry.map(col)
    val sigs = fresh
      // shingle-less docs out on the RAW column, before the kernel —
      // the same source-level predicate as sharedShingleArrays (a
      // post-kernel size filter would let pushdown substitute the
      // kernel into the scan's filter and run it twice per row)
      .filter(length(col("text")) >= Dedup.ShingleN)
      .select(col("doc_id") +: expr(s"graft_hash_shingles(text, ${Dedup.ShingleN})").as("ghs") +: c: _*)
      .select(col("doc_id") +: col("ghs") +: size(col("ghs")).as("n") +:
        Dedup.rowMinhashSig(col("ghs")).as("sig") +: c: _*)
    val freshBands = Dedup.lshBandsOf(sigs, p, carry = Seq("ghs", "n") ++ carry)
    val cand = Dedup.lshCandidates(corpusBands, freshBands,
      col("b.ghs").as("ghs_b") +: col("b.n").as("n_b") +: carry.map(n => col(s"b.$n")))
    cand
      .join(sk.select(col("doc_id").as("doc_a"), col("ghs").as("ghs_a"), col("n").as("n_a")),
        Seq("doc_a"))
      .withColumn("inter", size(array_intersect(col("ghs_a"), col("ghs_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= Dedup.JaccardThreshold)
      .select(col("doc_a") +: col("doc_b") +: col("jaccard") +: c: _*)
  }

  /** BOUNDED-STATE gate for continuous deployments (VERDICT r11
    * item 4): the same scoring pipeline, with pair-dedup state
    * bounded by a watermark on the stream's INGEST-TIME column.
    * `fresh` must carry `ingest_ts` (timestamp) — the crawl's
    * arrival time, the natural event time of an ingest gate.
    *
    * Semantics per dropDuplicatesWithinWatermark: a pair re-detected
    * within `delay` of its first emission is deduped; once the
    * watermark passes an emitted pair's ingest time its state is
    * EVICTED (that is the bound — state holds only the trailing
    * `delay` window, not the full pair history), and rows whose
    * ingest time falls behind the watermark are dropped by the
    * watermark itself before the operator. An on-time re-detection
    * after eviction re-emits — the documented trade that makes the
    * state finite; downstream sinks in a continuous deployment are
    * idempotent on the pair key anyway. Spec-pinned: in-window
    * dedup, post-eviction re-emit (proves the state actually left),
    * and behind-watermark drop (late re-arrival does not re-emit). */
  def streamDedupDocsBounded(spark: SparkSession, dir: String,
                             fresh: DataFrame, delay: String): DataFrame =
    gateScoredPairs(spark, dir, fresh.withWatermark("ingest_ts", delay),
        carry = Seq("ingest_ts"))
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Streaming twin of `dedup_substring_incremental` — the SECOND
    * ingest-time gate (the minhash gate flags near-dup PAIRS; this
    * one profiles exact substring duplication): each arriving
    * document's k-window duplication fraction against the WHOLE
    * corpus, judged via a stream-static join on the PERSISTED
    * (wh, total) window-total table. Every slice window is in the
    * table (totals cover the whole corpus), so the inner join is
    * lossless and `total == 1` means globally unique — no ownership
    * state, no stream-stream anything. The per-doc aggregate groups
    * on (doc_id, n_windows) where n_windows is row arithmetic;
    * Complete output mode because the one-shot harness has no
    * event-time column to watermark on (state = slice-doc-count
    * rows; a continuous deployment watermarks on its crawl's
    * ingest time instead, same trade documented on the pair gate).
    * One-shot output equals the batch incremental entry row-for-row
    * (spec-pinned), so the batch oracle applies unchanged. */
  def streamSubstringProfile(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val profile = streamProfile(spark, dir, freshDocsStream(spark, dir), Nil, Nil)
    runToMemory(spark, profile, "graft_stream_substring_profile", OutputMode.Complete())
      .orderBy(col("doc_id"))
  }

  /** Both profile gates' per-doc profile: each doc of the `fresh`
    * stream probed against the persisted (wh, total) table through
    * the substring family's one window-row relation, grouped per
    * (doc_id, n_windows) plus the `bucket` columns over the `keep`
    * ones. */
  private def streamProfile(spark: SparkSession, dir: String, fresh: DataFrame,
                            keep: Seq[Column], bucket: Seq[Column]): DataFrame = {
    import graft.operators.Dedup
    Dedup.windowRows(fresh, col("doc_id") +: Dedup.nWindows +: keep, spread = false)
      .join(Dedup.SubstringWindows.table(spark, dir), "wh")
      .groupBy(col("doc_id") +: col("n_windows") +: bucket: _*)
      .agg(sum(when(col("total") === 1, 1L).otherwise(0L)).as("uniq"))
      .select(col("doc_id"), col("n_windows"),
        (col("n_windows") - col("uniq")).as("dup_windows"),
        ((col("n_windows") - col("uniq")).cast("double") / col("n_windows").cast("double"))
          .as("dup_frac"))
  }

  /** Bounded-state continuous-deployment form of
    * [[streamSubstringProfile]] (VERDICT r12 item 4 — the pair gate
    * got its watermarked variant in r12; this is the profile gate's).
    * The one-shot graded entry keeps Complete mode (no event-time
    * column exists in the harness); a real crawl ingests with an
    * `ingest_ts`, and this form watermarks on it so BOTH stateful
    * stages stay finite:
    *
    *  1. `dropDuplicatesWithinWatermark(doc_id)` — one row per doc
    *     per window (doc_id-keyed state, evicted at the watermark;
    *     an on-time re-crawl after eviction re-profiles — the same
    *     re-emit trade documented on the pair gate).
    *  2. The per-doc aggregate groups on a `window(ingest_ts)`
    *     bucket alongside (doc_id, n_windows), the supported
    *     dedup→windowed-agg stateful chain — Append mode emits each
    *     doc's profile once its bucket falls behind the watermark,
    *     then evicts the group.
    *
    * The static side is the same persisted corpus (wh, total) table;
    * nothing here is stream-stream. Spec mirrors the pair gate's
    * trio: in-window duplicate arrival collapses to one profile row,
    * post-eviction re-arrival re-emits (state demonstrably left),
    * behind-watermark re-arrival is dropped. */
  def streamSubstringProfileBounded(spark: SparkSession, dir: String,
                                    fresh: DataFrame, delay: String): DataFrame = {
    import graft.operators.Dedup
    graft.functions.GraftFunctions.register(spark)
    // short docs leave BEFORE the dedup state, not only at the
    // window explode
    val marked = fresh.withColumn("n_chars", length(col("text")))
      .filter(col("n_chars") >= Dedup.SubstringK)
      .withWatermark("ingest_ts", delay)
      .dropDuplicatesWithinWatermark("doc_id")
    streamProfile(spark, dir, marked, Seq(col("ingest_ts")),
      Seq(window(col("ingest_ts"), "1 minute")))
  }

  /** The stream-gate pair list, staged once per corpus version for
    * the entry's oracle (the oracle convention shared by the pair gate
    * and the curation gate). */
  val StreamDocPairs: graft.Staged = graft.Staged("stream_doc_pairs.parquet") { c =>
    streamDedupDocs(c.spark, c.dir).write.mode("overwrite").parquet(StreamDocPairs.path)
  }

  def streamDedupDocsStaged(spark: SparkSession, dir: String): DataFrame = {
    StreamDocPairs.ensure(spark, dir)
    streamDedupDocs(spark, dir)
  }

  /** Oracle: DuckDB re-derives the exact Jaccard of every emitted
    * pair from the raw documents and re-applies the threshold AND
    * the slice restriction — same checked properties as the batch
    * incremental twin (wrong score, below-threshold emission, or an
    * out-of-slice pair all fail the hash). */
  private val streamDedupDocsSql: String =
    graft.operators.Dedup.minhashLshSqlOver(StreamDocPairs.path,
      "\n  WHERE doc_b >= (SELECT MAX(doc_id) * 9 // 10 FROM documents)")

  // ---- streaming curation gate (curate_pipeline at ingest) ----

  /** The composed INGEST gate — `curate_pipeline`'s admission stages
    * run continuously on the arriving crawl, as one streaming query:
    *
    *  1. quality gates (the fused stats kernel; the defining regexes
    *     stay the oracle's form) — stateless filter;
    *  2. exact-duplication gate: stream-static LEFT ANTI join
    *     against the persisted corpus hash set
    *     ([[graft.operators.Dedup.CorpusHashes]] — the exact twin
    *     of the minhash gate's sketch state);
    *  3. near-duplication gate: the shared scored-pair pipeline
    *     ([[gateScoredPairs]], corpus side static) flags fresh docs
    *     with any verified pair. Filtering the fresh side upstream
    *     cannot change a surviving doc's flags — candidates are
    *     corpus x fresh only, never fresh x fresh — so stage order
    *     is sound.
    *
    * Emitting "survivors" needs fresh MINUS flagged, which is not a
    * streamable anti join — instead both branches of the one source
    * emit per-doc TOKENS (survivor rows flag 0, flagged doc_b rows
    * flag 1) and a Complete-mode aggregate keeps max(flag) = 0.
    * State is slice-doc-sized, the substring profile's documented
    * trade; a continuous deployment watermarks on crawl ingest time.
    * The nightly batch job (`curate_pipeline`) still owns fresh x
    * fresh duplication and sampling — the gate is the door, not the
    * warehouse. Oracle: the batch composition in SQL — quality
    * regexes, NOT EXISTS against old-corpus hashes, and the staged
    * pair list RE-SCORED from raw text (the gate-oracle
    * convention). */
  def streamCurateGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation, Dedup}
    graft.functions.GraftFunctions.register(spark)
    StreamDocPairs.ensure(spark, dir)
    val fresh = freshDocsStream(spark, dir)
    val st = expr("graft_text_stats(text)")
    val nChars = length(col("text")).cast("long")
    val q = fresh.filter(
      nChars >= lit(Curation.CurateMinChars) && nChars <= lit(Curation.CurateMaxChars) &&
        element_at(st, 3) / nChars < lit(Curation.CurateMaxPunctRatio) &&
        element_at(st, 5) / element_at(st, 1) < lit(Curation.CurateMaxMeanWordLen))
    val afterExact = q.join(Dedup.CorpusHashes.table(spark, dir),
      md5(col("text")) === col("h"), "left_anti")
    val passTok = afterExact.select(col("doc_id"), col("lang"), lit(0).as("flag"))
    val dupTok = gateScoredPairs(spark, dir, afterExact, carry = Nil)
      .select(col("doc_b").as("doc_id"),
        lit(null).cast("string").as("lang"), lit(1).as("flag"))
    val verdict = passTok.unionByName(dupTok)
      .groupBy(col("doc_id"))
      .agg(max(col("lang")).as("lang"), max(col("flag")).as("dup"))
    runToMemory(spark, verdict, "graft_stream_curate_gate", OutputMode.Complete())
      .filter(col("dup") === 0)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("doc_id"))
  }

  private lazy val streamCurateGateSql: String = {
    import graft.operators.{Curation, Dedup}
    s"""WITH q AS (
       |  SELECT doc_id, lang, text FROM documents
       |  WHERE doc_id >= (SELECT MAX(doc_id) * 9 // 10 FROM documents)
       |    AND length(text) >= ${Curation.CurateMinChars} AND length(text) <= ${Curation.CurateMaxChars}
       |    AND len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / length(text) < ${Curation.CurateMaxPunctRatio}
       |    AND length(regexp_replace(text, '\\s', '', 'g')) / len(regexp_extract_all(text, '\\S+')) < ${Curation.CurateMaxMeanWordLen}
       |), e AS (
       |  SELECT doc_id, lang FROM q
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM documents o
       |    WHERE o.doc_id < (SELECT MAX(doc_id) * 9 // 10 FROM documents)
       |      AND md5(o.text) = md5(q.text))
       |), flagged AS (
       |  SELECT DISTINCT doc_b FROM (
       |${Dedup.minhashLshSqlOver(StreamDocPairs.path, "")}
       |  ) p
       |)
       |SELECT lang, doc_id FROM e
       |WHERE doc_id NOT IN (SELECT doc_b FROM flagged)
       |ORDER BY doc_id""".stripMargin
  }

  /** BOUNDED-STATE continuous-deployment form of [[streamCurateGate]]
    * (completing the gate-family symmetry: the pair gate and the
    * profile gate each have their watermarked variant; this is the
    * composed gate's). `fresh` carries `ingest_ts`; the watermark
    * bounds BOTH stateful stages:
    *
    *  1. `dropDuplicatesWithinWatermark(doc_id)` collapses in-window
    *     duplicate arrivals of a doc before any scoring work;
    *  2. the flag-token aggregate groups on a 1-minute
    *     `window(ingest_ts)` bucket alongside doc_id — the supported
    *     dedup→windowed-agg chain — so Append mode emits each doc's
    *     verdict once its bucket falls behind the watermark, then
    *     evicts the group.
    *
    * The quality/exact stages are stateless and the near-dup branch
    * is stream-static, so state is exactly the two bounded stores.
    * Emits ADMITTED docs only (dup flag 0), the gate's decision.
    * Post-eviction on-time re-arrival re-admits (the documented
    * re-emit trade); behind-watermark re-arrival drops. */
  def streamCurateGateBounded(spark: SparkSession, dir: String,
                              fresh: DataFrame, delay: String): DataFrame = {
    import graft.operators.{Curation, Dedup}
    graft.functions.GraftFunctions.register(spark)
    val marked = fresh.withWatermark("ingest_ts", delay)
      .dropDuplicatesWithinWatermark("doc_id")
    val st = expr("graft_text_stats(text)")
    val nChars = length(col("text")).cast("long")
    val q = marked.filter(
      nChars >= lit(Curation.CurateMinChars) && nChars <= lit(Curation.CurateMaxChars) &&
        element_at(st, 3) / nChars < lit(Curation.CurateMaxPunctRatio) &&
        element_at(st, 5) / element_at(st, 1) < lit(Curation.CurateMaxMeanWordLen))
    val afterExact = q.join(Dedup.CorpusHashes.table(spark, dir),
      md5(col("text")) === col("h"), "left_anti")
    val passTok = afterExact.select(col("doc_id"), col("ingest_ts"), lit(0).as("flag"))
    val dupTok = gateScoredPairs(spark, dir, afterExact, carry = Seq("ingest_ts"))
      .select(col("doc_b").as("doc_id"), col("ingest_ts"), lit(1).as("flag"))
    passTok.unionByName(dupTok)
      .groupBy(col("doc_id"), window(col("ingest_ts"), "1 minute"))
      .agg(max(col("flag")).as("dup"))
      .filter(col("dup") === 0)
      .select(col("doc_id"))
  }

  // ---- streaming shard router (shard_shuffle's ingest-time twin) ----

  /** Continuous shard placement for arriving documents — the
    * ingest-time half of the shard_shuffle family. Each document's
    * shard assignment is STATELESS row arithmetic (md5-prefix mod
    * ns — the exact [[graft.operators.Pack.shardKeyed]] expression
    * the batch layout uses), so the router itself is a streaming
    * projection any number of executors run independently: no
    * coordination, no state, and a re-run — or the batch engine, or
    * the DuckDB oracle — reproduces every assignment bit-for-bit.
    *
    * What IS stateful is the accounting a shard writer consumes:
    * per-shard document and token totals plus the largest single
    * document seen (the writer's buffer-sizing input). That
    * aggregate's state is ns rows BY CONSTRUCTION — the one stateful
    * operator here whose state is bounded without a watermark,
    * because the key domain is the fixed shard count, not the data.
    * Complete mode re-emits the ns-row table each micro-batch, which
    * is also the right continuous-deployment shape: the sink is a
    * tiny live dashboard/placement table, not an append log.
    *
    * One-shot harness: stream the whole documents table; the oracle
    * aggregates the batch layout per shard (order-free, so the
    * within-shard permutation — meaningless to totals — drops out). */
  def streamShardAssign(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pack
    graft.functions.GraftFunctions.register(spark)
    val measured = documentsStream(spark, dir).select(
      col("doc_id"),
      element_at(expr("graft_text_stats(text)"), 1).as("n_tokens"))
    val totals = Pack.shardKeyed(measured, Pack.DefaultShards)
      .groupBy(col("shard_ix"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).as("max_doc_tokens"))
    runToMemory(spark, totals, "graft_stream_shard_assign", OutputMode.Complete())
      .orderBy(col("shard_ix"))
  }

  // ---- stateful sessionization via flatMapGroupsWithState ----
  final case class Ev(user_id: Long, event_id: Long, tsUs: Long)
  final case class SessionState(sessionId: Long, startUs: Long, endUs: Long, n: Long)
  final case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                              start_us: Long, end_us: Long)

  val GapUs: Long = 30L * 60 * 1000 * 1000 // = Relational.SessionGapUs

  /** Per-user gap sessionizer. Events WITHIN a micro-batch arrive as
    * an unordered iterator, so the batch's events are sorted by
    * (tsUs, event_id) before folding into state (the sort holds one
    * user's batch slice in executor memory — bound a hot key's batch
    * volume upstream via smaller triggers if this is promoted to a
    * high-rate continuous deployment); cross-batch order is the
    * stream's responsibility (watermark + event-time semantics);
    * sessions close on gap or on event-time timeout.
    *
    * Cross-batch LATE events (flatMapGroupsWithState does not drop
    * rows behind the watermark) are handled by position, checked
    * BEFORE the closed-marker/gap cases so they can never reopen or
    * mis-split an emitted session: behind a CLOSED session's end or
    * before the open session's start → dropped (the session they
    * belong to is already emitted / numbering can't be rewound);
    * inside the OPEN session's span → counted (n + 1) without moving
    * the bounds, matching the batch oracle's per-session event
    * count. Within one batch none of the guards fire (events are
    * sorted), so the one-shot driver entry is unaffected.
    *
    * A timed-out session is emitted but its state is KEPT as a
    * closed marker (n == 0) carrying the session counter — removing
    * it would restart session_id at 1 for the user's next event and
    * break the stream-equals-batch numbering guarantee. The marker
    * sets no new timeout, so it costs one small state entry per
    * user, exactly the cardinality the batch job's final aggregation
    * holds anyway. */
  def sessionizeFn(userId: Long, events: Iterator[Ev],
                   state: GroupState[SessionState]): Iterator[SessionOut] = {
    val sorted = events.toSeq.sortBy(e => (e.tsUs, e.event_id))
    var out = List.empty[SessionOut]
    if (sorted.isEmpty) {
      if (state.hasTimedOut && state.exists && state.get.n > 0) {
        val s = state.get
        out ::= SessionOut(userId, s.sessionId, s.n, s.startUs, s.endUs)
        state.update(s.copy(n = 0L)) // closed marker keeps the counter
      }
    } else {
      var cur = state.getOption.orNull
      sorted.foreach { e =>
        cur match {
          case null =>
            cur = SessionState(1L, e.tsUs, e.tsUs, 1L)
          case s if s.n == 0L && e.tsUs <= s.endUs => // late, behind an emitted session: drop
          case s if s.n == 0L => // previous session closed via timeout
            cur = SessionState(s.sessionId + 1, e.tsUs, e.tsUs, 1L)
          case s if e.tsUs < s.startUs => // late, predates the open session: drop
          case s if e.tsUs < s.endUs => // late, inside the open span: count, keep bounds
            cur = s.copy(n = s.n + 1)
          case s if e.tsUs - s.endUs > GapUs =>
            out ::= SessionOut(userId, s.sessionId, s.n, s.startUs, s.endUs)
            cur = SessionState(s.sessionId + 1, e.tsUs, e.tsUs, 1L)
          case s =>
            cur = s.copy(endUs = e.tsUs, n = s.n + 1)
        }
      }
      state.update(cur)
      state.setTimeoutTimestamp(cur.endUs / 1000 + GapUs / 1000)
    }
    out.reverseIterator
  }

  /** Streaming sessionization: event-time timeout closes idle
    * sessions once the watermark passes the gap. */
  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("tsUs"))).withWatermark("ts", "0 seconds")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(sessionizeFn)
  }

  // ---- driver entry: oracle-checked streaming sessionization ----
  // The events table is streamed from the SOURCE directory (no copy
  // — round 2 materialized a full temp-dir duplicate of the fact
  // table, a write+read of the corpus at real scale). A far-future
  // sentinel event arrives via a unioned in-memory source; the
  // single watermark sits ABOVE the union, so after the data batch
  // the watermark passes every real session's gap and the event-time
  // timeouts flush ALL sessions in the trailing no-data batch. The
  // output is then comparable 1:1 with the BATCH sessionize oracle.
  val SentinelUser = -1L

  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // sentinel timestamp: one max() over the ts column — parquet
    // column stats make this a footer-level scan, not a data pass
    val maxUs = graft.Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val fileEvents = eventsStream(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsUs"))
      .as[Ev]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sentinel = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    sentinel.addData(Ev(SentinelUser, 0L, maxUs + 1000L * GapUs))
    val sessions = sessionize(fileEvents.union(sentinel.toDS()))
    spark.streams.active.filter(_.name == "graft_stream_sessionize").foreach(_.stop())
    val ckpt = ephemeralCheckpoint()
    try {
      val q = withHarnessStateSizing(spark) {
        sessions.writeStream.format("memory")
          .queryName("graft_stream_sessionize").outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      }
      try q.awaitTermination() finally q.stop()
    } finally deleteRecursively(ckpt)
    spark.table("graft_stream_sessionize")
      .coalesce(1) // same single-partition presentation-sort move as runToMemory
      .filter(col("user_id") =!= SentinelUser)
      .select(col("user_id"), col("session_id"), col("n_events"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Identical to the batch sessionize oracle — the stream must
    * reproduce the batch answer exactly. */
  private val streamSessionizeSql: String =
    s"""WITH g AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
       |    CASE WHEN LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
       |           OR epoch_us(CAST(ts AS TIMESTAMP)) - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > $GapUs
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
       |), s AS (
       |  SELECT user_id, ts,
       |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM g)
       |SELECT user_id, session_id, COUNT(*) AS n_events,
       |  MIN(ts) AS session_start, MAX(ts) AS session_end
       |FROM s GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  // ---- streaming takedown gate (the ingest/retract symmetry) ----

  /** Serving-side takedown enforcement — the streaming half of the
    * [[graft.operators.Retract]] family (round 18, VERDICT r17 item
    * 6). Serving reads flow as the stream; the tombstone REGISTRY
    * ([[graft.operators.Retract.Tombstones]], the takedown-sized
    * id table a compliance system maintains) sits on the STATIC side
    * of a stream-static anti join, which Structured Streaming
    * re-evaluates every micro-batch — a tombstone appended between
    * batches gates every later read with NO query restart and NO
    * state store (the join is stateless on the stream side: the
    * registry broadcasts, takedown-sized against a corpus-sized
    * read stream — the only shape that holds at 100 TB of serving
    * traffic). Serving correctness therefore never waits on the
    * heavier state-table repair, which consumes the SAME registry
    * asynchronously: [[streamTakedownQueue]] is the repair feed, and
    * [[graft.operators.Retract.Repair]] the batch consumer —
    * the spec pins the stream gate, the queue, and the repaired
    * state to the one batch retraction semantics. */
  def streamTakedownGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Retract
    val served = documentsStream(spark, dir)
      .join(broadcast(Retract.Tombstones.table(spark, dir)), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    runToMemory(spark, served, "graft_stream_takedown_gate", OutputMode.Append())
      .orderBy(col("doc_id"))
  }

  private lazy val streamTakedownGateSql: String =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE NOT (${graft.operators.Retract.TakedownPredSql})
       |ORDER BY doc_id""".stripMargin

  /** The repair FEED: tombstoned reads stream into the queue the
    * state repair consumes — the inner-join twin of the gate (same
    * static registry, same per-batch re-read). Dedup on doc_id
    * happens at the consumer (the repair's joins are set-semantics
    * anti joins, so duplicate queue rows are harmless); the queue
    * row carries the read's doc_id only — the repair re-reads what
    * it needs from the state tables, never from serving traffic. */
  def streamTakedownQueue(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Retract
    val queued = documentsStream(spark, dir)
      .join(broadcast(Retract.Tombstones.table(spark, dir)), Seq("doc_id"), "left_semi")
      .select(col("doc_id"))
    runToMemory(spark, queued, "graft_stream_takedown_queue", OutputMode.Append())
      .orderBy(col("doc_id"))
  }

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("stream_takedown_gate", Some(streamTakedownGateSql), streamTakedownGate),
    GraftQuery("stream_tumbling", Some(streamTumblingSql), streamTumbling),
    GraftQuery("stream_enrich", Some(streamEnrichSql), streamEnrich),
    GraftQuery("stream_join", Some(streamJoinSql), streamJoin),
    GraftQuery("stream_dedup", Some(streamDedupSql), streamDedup),
    GraftQuery("stream_dedup_docs", Some(streamDedupDocsSql), streamDedupDocsStaged),
    GraftQuery("stream_substring_profile",
      Some(graft.operators.Dedup.dedupSubstringIncrementalSql), streamSubstringProfile),
    GraftQuery("stream_curate_gate", Some(streamCurateGateSql), streamCurateGate),
    GraftQuery("stream_shard_assign",
      Some(graft.operators.Pack.shardAssignTotalsSql), streamShardAssign),
    GraftQuery("stream_sessionize", Some(streamSessionizeSql), streamSessionize))
}
