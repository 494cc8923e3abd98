package graft.operators

import graft.{GraftQuery, Staged, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines
  * (SURVEY.md §2C1-C5) over `documents` / `embeddings`.
  *
  * Scale design (100 TB lens): no candidate-generation step is
  * all-pairs. Exact dedup is one hash-groupBy shuffle;
  * n-gram Jaccard generates candidates by an inverted-index join on
  * shared shingles; MinHash-LSH and SimHash generate candidates by
  * banded bucket joins whose key cardinality grows with the corpus
  * (skew-resistant, salt-ready); expensive exact verification runs
  * only on candidate pairs. The single intentionally-quadratic
  * operator is `dedup_embedding` — the bounded brute-force
  * verification baseline the ANN operators are judged against
  * (see Similarity.scala for the LSH/IVF scale paths).
  */
object Dedup {

  /** Distinct character n-gram shingles of a text column as STRINGS,
    * via the native kernel (graft.functions.ShinglesExpr — the
    * transform+array_distinct form interprets every substring
    * through CodegenFallback lambdas; the kernel is one Java loop).
    * The dedup operators themselves run end to end on HASHED
    * shingles ([[sharedShingleArrays]]); this helper remains for
    * callers that need the collision-free string sets.
    * Requires GraftFunctions registration (GraftSession does it;
    * operator entry points re-register defensively). */
  def shingles(textCol: String, n: Int): Column =
    expr(s"graft_shingles($textCol, $n)")

  // 16-char shingles (~3 words): discriminative enough that posting
  // lists stay short on small-vocabulary corpora. 8-char shingles
  // measured 13k distinct values over 1.35M occurrences at sf0.1 —
  // ~100-doc posting lists that defeat any candidate prefilter.
  val ShingleN = 16
  val JaccardThreshold = 0.8

  /** (eps, confidence, seed) of the shingle-rarity count-min sketch:
    * eps 2e-4 x confidence 0.9 ≈ 300 KB — broadcastable at any
    * corpus size; the sketch only drives a pruning-quality ORDERING
    * heuristic, so coarse estimates suffice and the smaller
    * width/depth keeps the single-reducer partial-sketch merge off
    * the critical path. ONE definition for the live aggregate and
    * the persisted staging so they can never desync. */
  val CmsParams: (Double, Double, Int) = (0.0002, 0.9, 42)

  /** The ONE DuckDB form of the Spark shingle kernel's grammar
    * (distinct ShingleN-char substrings per doc), interpolated as
    * the `sh` CTE body by every oracle that re-derives shingles from
    * raw text (ngram/incremental sweeps, the minhash pair oracle,
    * Curation's decontamination) — a grammar change lands in all of
    * them at once instead of silently desyncing a copy. */
  private[operators] val ShingleCteSql: String =
    s"""SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), $ShingleN) AS g
       |  FROM documents, UNNEST(range(1, length(text) - ${ShingleN - 2})) AS t(i)""".stripMargin

  // ---- dedup_exact: content-hash dedup, one shuffle ----
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc_id"))

  private val dedupExactSql: String =
    """SELECT md5(text) AS h, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin

  /** Exploded 64-bit-hashed distinct shingles: (doc_id, gh), via the
    * fused graft_hash_shingles kernel — no shingle strings are ever
    * materialized, and longs shuffle/sort/join far cheaper than
    * 16-char strings. Consumers (MinHash perms, LSH bands, Jaccard
    * intersects) are complete under any consistent shingle identity,
    * exact up to 64-bit xxhash collisions (see the kernel's doc for
    * the honest bound). */
  def hashedShingleRows(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // repartition BEFORE the CPU-heavy shingling: a small input
    // (one parquet file = one partition) would otherwise pin the
    // whole kernel+explode on a single core; the shuffle moves only
    // the raw text, a fraction of the shingle volume it unlocks.
    // Pinned count (REPARTITION_BY_NUM): a coalescible repartition
    // over the byte-small doc relation would be collapsed to one
    // post-shuffle partition by AQE, re-serializing the kernel.
    val p = docs.sparkSession.sparkContext.defaultParallelism
    docs.repartition(p, col("doc_id"))
      .select(col("doc_id"), explode(expr(s"graft_hash_shingles(text, $ShingleN)")).as("gh"))
  }

  /** (doc_id, ghs, n): the per-doc hashed-shingle relation behind
    * a pinned doc_id exchange — the single relation every near-dup
    * operator runs end to end on. The exchange above the kernel is the
    * round-5 replacement for round 4's persist + eager-checkpoint +
    * unpersist pattern: every branch of one query that references
    * this relation (prefix a/b, verify x/y, signature aggregation)
    * canonicalizes to the SAME shuffle, so ReuseExchange/AQE stage
    * reuse computes the shingle kernel once per job — with no
    * executor-storage footprint to release afterwards and no
    * materialization barrier between candidate generation and the
    * caller's terminal action (the r4 structure paid 2-3 eager
    * checkpoints per operator purely to keep lazily-persisted plans
    * out of AQE broadcast-build threads; shuffle-stage output has no
    * such failure mode). doc_id partitioning is chosen so the verify
    * joins (keyed on renamed doc_id) need no further exchange. The
    * kernel itself runs behind a pinned ROUND-ROBIN repartition: it
    * must stay spread across cores whatever the input file count
    * (the hashedShingleRows rationale), and it must NOT be
    * hash(doc_id) — physical planning elides a repartition whose
    * partitioning equals its child's, which would collapse the two
    * exchanges and put the kernel back above the surviving one,
    * re-running it once per consumer branch (measured 2x the whole
    * operator). At warehouse scale this shared exchange becomes a
    * materialized shingle TABLE (write once, reuse across the whole
    * dedup campaign). */
  def sharedShingleArrays(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val p = docs.sparkSession.sparkContext.defaultParallelism
    // The exchange payload is exactly (doc_id, ghs) and n is derived
    // ABOVE it: exchange reuse compares canonicalized subtrees, so a
    // consumer that prunes n (the signature aggregation) and one
    // that keeps it (verification) would otherwise materialize two
    // near-identical shuffles — measured as a second full kernel
    // pass on the minhash path. size() post-shuffle is a few ns per
    // row; a divergent exchange is a whole extra corpus scan.
    // BOTH columns are coalesced non-null as nullability hygiene.
    // ghs: a nullable kernel output lets InferFiltersFromConstraints
    // derive isnotnull(n) from join conditions, and pushdown then
    // substitutes the alias chain so `isnotnull(size(kernel(text)))`
    // lands BELOW both exchanges — the whole kernel re-runs serially
    // in the one-task scan stage (measured 3 s at sf0.1). doc_id:
    // parquet's nullable doc_id makes every
    // downstream join/aggregation key nullable, and the isnotnull
    // filters Catalyst then infers land in SOME consumer branches
    // but not others — divergently-filtered copies of this subtree
    // stop canonicalizing to one exchange, and the whole pipeline
    // re-executes per branch (measured 3x in dedup_clusters' label
    // round). The contract is "no null doc_ids"; a violation FAILS
    // LOUDLY via the lazy raise_error branch (two null-id docs
    // remapped to one sentinel would emit spurious pairs — ADVICE
    // r5 #4). The trailing non-nullable literal exists only to keep
    // coalesce's output type non-nullable for the exchange hygiene
    // above; it is unreachable (raise_error throws first).
    // Shingle-less docs (text shorter than one shingle) are dropped
    // at the SOURCE with a raw-column predicate: `ghs` is empty iff
    // numChars < ShingleN, so this is exactly "n > 0" — but phrased
    // on `text` it pushes into the parquet scan and is IDENTICAL in
    // every consumer branch. A post-kernel `filter(n > 0)` in one
    // branch (the r11 kernel-signature path's first form) gets
    // substituted through the projection by predicate pushdown,
    // lands below both exchanges, and re-runs the whole shingle
    // kernel serially in the scan stage of THAT branch while
    // breaking exchange reuse with the others — measured 4.6x on
    // dedup_minhash_lsh at sf1 (3.3 -> 15.3 s).
    docs.filter(length(col("text")) >= ShingleN)
      .repartition(p)
      .select(coalesce(col("doc_id"),
          raise_error(lit("dedup: null doc_id in corpus — shingle dedup requires non-null document ids")).cast("long"),
          lit(Long.MinValue)).as("doc_id"),
        coalesce(expr(s"graft_hash_shingles(text, $ShingleN)"),
          typedLit(Array.empty[Long])).as("ghs"))
      .repartition(p, col("doc_id"))
      .select(col("doc_id"), col("ghs"), size(col("ghs")).as("n"))
  }

  /** Jaccard for the candidate pairs, intersecting the SAME hashed
    * shingle arrays candidate generation ran on (`hashed`: (doc_id,
    * ghs, n), cached and already materialized by the caller). Both
    * arrays are hash-distinct by construction, so
    * size(array_intersect) IS |A∩B| up to 64-bit xxhash collisions —
    * the one trade this operator makes (see HashShinglesExpr's
    * honest bound, ~1e-7 per corpus); within it, the score equals
    * the oracle's string-set Jaccard.
    *
    * Round 3 re-shingled the candidate documents as STRINGS here for
    * a collision-free verify — and paid for it structurally: the
    * re-shingle subtree has no distributed home (before the prune's
    * exchange it sits on the scan's single file partition; after it,
    * AQE coalesces the tiny post-shuffle stage to one task and runs
    * it inside a broadcast-build thread — measured 1-task stages of
    * seconds). Verifying on the shared-exchange hash arrays does
    * ZERO new shingle work.
    *
    * SCALE SHAPE (round 11). Two earlier forms each died at a
    * different decade on candidate-heavy corpora (the synthetic
    * 30-word vocabulary admits ~3.8M PPJoin candidates for 2.9k true
    * pairs at sf1, and candidates grow ~quadratically at fixed
    * vocabulary):
    *
    *  - rounds 5-10 carried the full per-doc hash arrays through the
    *    candidate joins and intersected in-row: optimal CPU, but the
    *    exchange between the two attach joins ships one whole
    *    shingle set PER PAIR — O(pairs x doc_size) shuffle bytes,
    *    and at sf10 the sort spill exceeded free disk (BASELINE.md).
    *  - the oracle's exploded-count join (attach a-side exploded
    *    shingles per pair, equi-join b-side on (doc_id, gh), count)
    *    spills linearly but materializes O(pairs x shingles_per_doc)
    *    ROWS — 1.6e9 at sf1, measured 8x slower than the array form.
    *
    * This form bounds BOTH: a B x B verification grid (the classic
    * parallel theta-join layout). Pairs ship as bare longs to cell
    * (bucket(doc_a), bucket(doc_b)); each doc's shingle array is
    * replicated only to its row + column of the grid (2B-1 cells);
    * per cell, a cogroup builds an id -> sorted-array map and runs
    * an imperative sorted-merge intersection per pair. Shuffle is
    * O(B x corpus + pairs) — decoupled from the pair count, the
    * term that explodes — and per-pair work is the optimal
    * n_a + n_b merge. Per-task memory is ~2/B of the corpus shingle
    * volume: B rises with corpus size (defaultParallelism here; at
    * warehouse scale set it so corpus_bytes/B fits an executor's
    * task memory). mapGroups-style typed cogroup is the right tool,
    * not a non-plan escape hatch: the per-cell hash-map + merge
    * kernel is imperative by nature (same rationale as the
    * multimodal codecs), and everything around it stays relational.
    *
    * Same scores as both prior forms: arrays are hash-distinct by
    * construction, so the merge count IS |A∩B|, and
    * inter/(n_a+n_b-inter) is the same one IEEE division the oracle
    * computes. Zero-intersection candidates never survive the
    * positive threshold either way. Output is UNORDERED.
    *
    * `hashed` must be a [[sharedShingleArrays]]-shaped relation;
    * `cand` stays LAZY — its upstream shuffles are materialized as
    * AQE stages inside the one terminal job (the r4
    * serial-broadcast trap applied to lazily-PERSISTED subplans,
    * which no longer exist here). */
  /** Grid side B for the verification grid. Two pressures, one knob:
    *
    *  - BALANCE floor: B ~ sqrt(2 x parallelism) gives ~2 cells per
    *    task. B = parallelism (the first cut) replicated the corpus
    *    63x and kept ~2x the whole corpus's arrays live across
    *    concurrent tasks — GC thrash, measured 10x slower than the
    *    floor at sf1 under the 8g harness heap.
    *  - MEMORY ceiling: a task's cogroup consumes keys SEQUENTIALLY,
    *    so ONE cell's doc map (~2/B of the corpus shingle volume) is
    *    live per task at a time — but `parallelism` tasks run
    *    concurrently, so the heap must hold parallelism x 2/B x
    *    volume. Round 11's first sf10 run proved the floor alone is
    *    not a default: 500k docs x ~290 shingles ≈ 1.2 GB of hashes,
    *    and at B=8 the 32 concurrent ~300 MB maps OOM'd the 8 GB
    *    harness heap. B now RISES until the per-task map fits a
    *    budget of maxHeap/3/parallelism (object overhead on
    *    Array[Long] values is a few percent — the 1/3 covers the
    *    pair stream, shuffle buffers, and the rest of the stage).
    *
    * `volumeBytes` is the ~8 x Σ shingles estimate from the
    * documents table's n_chars column — a one-column parquet scan,
    * never the shingle kernel. Raising B trades shuffle for memory
    * (replication grows O(B x corpus), per-task memory shrinks
    * O(corpus/B)); a cluster deployment sizes the budget to its
    * executors via `graft.verify.gridSide` (hard override) — at
    * warehouse scale the candidate-pair volume this grid exists to
    * decouple from is also far tamer than the synthetic 30-word
    * vocabulary that produces 3.85M candidates per 50k docs here.
    * Grid-side invariance is spec-pinned (any B, same pairs, same
    * scores), so the sizing choice can never change results. */
  private[graft] def gridSideFor(volumeBytes: Long, maxHeap: Long,
                                 parallelism: Int): Int = {
    val floor = math.max(2, math.ceil(math.sqrt(2.0 * parallelism)).toInt)
    // /4, not /3 (round 13): at 24 GB x 32 tasks the /3 budget let
    // the per-task doc maps alone claim 8 GB NEXT TO Spark's own
    // 0.6-fraction execution region (the pair sort's pages live
    // there) — one observed merge-stage OOM in ~10 sf10 runs. The
    // extra quarter costs ~B/3 more docs-side replication (a few
    // seconds of a 100+ s sweep) and buys the headroom that keeps a
    // marginal box out of the cliff.
    val budget = math.max(1L, maxHeap / 4 / parallelism)
    val memSide = math.ceil(2.0 * volumeBytes / budget).toInt
    math.max(floor, memSide)
  }

  /** Collision-free grid partitioning: for each cell c in [0, b²),
    * the smallest non-negative int whose Spark HashPartitioning
    * bucket over b² partitions is exactly c. Both grid inputs route
    * rows through `element_at(tokens, cell + 1)` so partition index
    * == cell — EXACTLY one cell map per task (the per-task memory
    * budget in [[gridSideFor]] is sized to that; hash-colliding
    * cells would stack maps). Driver-side cost is ~b² ln b² murmur evaluations
    * (the coupon-collector walk), microseconds at any sane B. The
    * seed-42 murmur3-of-int contract is pinned by a spec against
    * Spark's own hash(). */
  private[graft] def cellTokens(bsq: Int): Array[Int] = {
    val toks = new Array[Int](bsq)
    val found = new Array[Boolean](bsq)
    var remaining = bsq
    var t = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(t, 42)
      val c = ((h % bsq) + bsq) % bsq
      if (!found(c)) { found(c) = true; toks(c) = t; remaining -= 1 }
      t += 1
    }
    toks
  }

  /** ~bytes of 64-bit shingle hashes the corpus expands to, from the
    * stored n_chars (each doc yields max(0, n_chars - N + 1) distinct
    * shingles at most). One tiny single-column aggregate — deliberately
    * NOT computed from the shingle relation itself, which would
    * re-run the kernel as a sizing pre-pass. Assumes the stored
    * n_chars == length(text) the kernel runs on — pinned against the
    * generated corpus in TablesSpec (ADVICE r21). */
  private def shingleVolumeBytes(docs: DataFrame): Long = {
    val row = docs.agg(sum(greatest(col("n_chars") - lit(ShingleN - 1), lit(0L)))).head
    if (row.isNullAt(0)) 0L else 8L * row.getLong(0)
  }

  /** The heap the verify grid's memory ceiling must fit: the TASK
    * heap, not the driver's. In local mode the two are one JVM, so
    * `Runtime.maxMemory` is exact; on a cluster the executors run
    * their own JVMs sized by `spark.executor.memory`, and sizing B
    * against a (often larger) driver heap would under-size the grid
    * and reintroduce the executor OOM the ceiling exists to prevent
    * (ADVICE r11). Non-local with the conf unset falls back to
    * Spark's own 1g executor default — conservative (B only rises),
    * with a loud warning that `graft.verify.gridSide` is the real
    * cluster knob. */
  /** Once-per-JVM latch for the fallback warning below: without it a
    * bench run invoking verifyJaccard several times prints the same
    * line per invocation (ADVICE r12). */
  private val warnedDefaultExecutorHeap = new java.util.concurrent.atomic.AtomicBoolean(false)

  private[graft] def taskHeapBytes(spark: SparkSession): Long = {
    if (spark.sparkContext.master.startsWith("local")) Runtime.getRuntime.maxMemory
    else spark.conf.getOption("spark.executor.memory") match {
      case Some(m) =>
        // spark.executor.memory is the whole executor JVM; only
        // spark.memory.fraction of (heap - 300MB reserved) is usable
        // execution+storage memory, and the grid's buffers live
        // there. Sizing B against the raw heap over-promised by
        // ~1/0.6 (ADVICE r12).
        val heap = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(m)
        val fraction = spark.conf.getOption("spark.memory.fraction")
          .map(_.toDouble).getOrElse(0.6)
        math.max(1L << 28, ((heap - (300L << 20)) * fraction).toLong)
      case None =>
        if (warnedDefaultExecutorHeap.compareAndSet(false, true))
          System.err.println(
            "[graft] verify grid: non-local master with spark.executor.memory unset — " +
              "sizing B against the 1g executor default; set graft.verify.gridSide to tune")
        1L << 30
    }
  }

  /** Small-volume fast path (VERDICT r13 item 3): below this corpus
    * shingle volume the whole doc-array set fits ONE merge task's
    * memory with room to spare (2x64 MB against any sane heap/4),
    * and the B×B layout — sqrt(2p)-cell replication, B² one-cell
    * partitions, their scheduling floor — costs more wall than the
    * single-threaded merge it parallelizes: at sf0.1 the grid
    * re-plumb took the five grid-family entries from ~1.2-2.1 s to
    * ~1.9-3.2 s while the merge itself is milliseconds. B=1 routes
    * the SAME plan shape (one cell, no replication, one task), so
    * grid-invariance still pins equality; above the floor the
    * memory-adaptive sizing is unchanged. */
  private[graft] val SmallGridVolumeBytes = 64L << 20

  private[graft] def gridB(spark: SparkSession, volumeBytes: Long): Int =
    spark.conf.getOption("graft.verify.gridSide").map(_.toInt).getOrElse(
      if (volumeBytes <= SmallGridVolumeBytes) 1
      else gridSideFor(volumeBytes, taskHeapBytes(spark), spark.sparkContext.defaultParallelism))

  /** The grid's PAIRS-side input plan: candidate pairs bucketed to
    * their cell, one partition per cell, streamed UNSORTED into the
    * merge (the r12/early-r13 pre-merge sort pushed the full
    * duplicated relation through sorter pages purely so duplicate
    * pairs sat adjacent; duplicates are instead re-merged and the
    * qualifying survivors deduped — see [[gridMerge]]). This is
    * also the frame the plan audits inspect
    * (`gridInputOnly`): every audited property — kernel kept out of
    * scan filters, banded-join prefilters, slice pushdown, exchange
    * reuse across the self-join branches — lives in `cand`'s
    * subtree, which this plan carries.
    *
    * grid cell of a pair: (doc_a mod B) x (doc_b mod B). Plain mod,
    * not a hash: ids are assigned sequentially so residues are
    * uniform, and the SAME bucketing must be computed on the doc
    * side. `cand` arrives UNDEDUPED (one row per matching
    * prefix/band token) — dedup happens on the merge's OUTPUT. NO
    * global distinct() on the input: the duplicates are ~10% of the
    * relation (measured) while a pre-dedup distinct costs a full
    * extra write+sort+read of the entire ~25 GB pair relation at
    * sf10.
    *
    * ONE partition per cell (B² of them) is the load-bearing choice
    * (r13): with the grid side B already sized so one cell's doc
    * arrays fit the task budget ([[gridSideFor]]), a one-cell
    * partition lets the merge hold its docs as a plain in-memory map
    * with NO sort on the heavy replicated-array side at all. The
    * r12 cogroup sorted the doc replicas by cell; the r13 union
    * variant sorted them interleaved with 4e8 pair rows — measured
    * 21.5 GB of sort spill and 3001 executor-seconds in that one
    * stage at sf10. Since the third r13 pass there is no pair sort
    * either — the merge's pair set dedupes — so NEITHER grid input
    * sorts. */
  private[graft] def verifyGridPlan(cand: DataFrame, hashed: DataFrame, b: Int): DataFrame = {
    require(b <= 46340, s"grid side $b overflows Int partitioning — " +
      "set graft.verify.gridSide (with executor-sized memory) instead")
    val toks = typedLit(cellTokens(b * b).toSeq)
    cand.select(
      (pmod(col("doc_a"), lit(b)) * b + pmod(col("doc_b"), lit(b))).as("cell"),
      col("doc_a"), col("doc_b"))
      .repartition(b * b, element_at(toks, (col("cell") + 1).cast("int")))
  }

  /** The DOCS-side input plan: every doc serves its grid ROW (as a
    * potential doc_a: cells bucket*B + j) and its grid COLUMN (as
    * doc_b: cells i*B + bucket); the diagonal cell appears in both
    * sequences, deduped with array_distinct. array_sort BELOW the
    * replication: one sort per doc, not one per replica — replicas
    * copy already-sorted bytes. Bucketed to the same B² one-cell
    * partitions as the pairs plan (same literal cell values through
    * the same hash partitioning → aligned partition indices), and
    * deliberately UNSORTED — the merge drains it into a map.
    *
    * A SEPARATE query from the pairs side, which re-runs the shingle
    * kernel once more for the replication branch (~4.5 s of wall in
    * a 200 s sf10 sweep; at warehouse scale one extra map-side
    * corpus pass). That is the price of not sorting the array side:
    * the one-query union that shared the kernel exchange had to push
    * the replicated arrays through the pair sort, and the measured
    * spill cost an order of magnitude more than the extra scan. */
  private def gridDocsPlan(hashed: DataFrame, b: Int): DataFrame = {
    val toks = typedLit(cellTokens(b * b).toSeq)
    hashed.select(col("doc_id"), array_sort(col("ghs")).as("ghs"))
      .select(
        explode(array_distinct(concat(
          transform(sequence(lit(0), lit(b - 1)),
            j => pmod(col("doc_id"), lit(b)) * b + j),
          transform(sequence(lit(0), lit(b - 1)),
            i => i * b + pmod(col("doc_id"), lit(b)))))).as("cell"),
        col("doc_id"), col("ghs"))
      .repartition(b * b, element_at(toks, (col("cell") + 1).cast("int")))
  }

  /** The grid merge, at the `InternalRow` level (r13, VERDICT item
    * 5): the r12 typed-Dataset cogroup decoded a
    * `Tuple3[Long, Long, Long]` per candidate row — 4 allocations x
    * ~4e8 sf10 rows of young-gen churn in the sweep's hottest
    * stage. `queryExecution.toRdd` hands reused `UnsafeRow`s;
    * primitives are read in place, and the only surviving per-row
    * allocation is the one doc-array copy per distinct doc the map
    * must own anyway (replica duplicates skip the copy via the
    * containsKey probe). Semantics are unchanged (per-partition doc
    * map, early-exit merge, exact jac >= t emission, survivor
    * dedup) — the grid-invariance and pairs-identical specs pin
    * that. */
  /** Open-addressing long → long[] map for the merge's doc arrays.
    * `java.util.HashMap[Long, _]` autoboxes EVERY probe key
    * (Long.valueOf caches only [-128, 127]): two gets per candidate
    * row × ~6e8 sf10 rows was ~1.2e9 young-gen allocations — the
    * 250 s of GC the r13 profile still showed in the merge stage
    * after the InternalRow rework removed the tuple decode. Probes
    * here touch two primitive arrays and allocate nothing. Linear
    * probing, power-of-two capacity, grow at 60% load; a slot is
    * occupied iff vals(i) != null (no key sentinel — doc_id's full
    * range stays legal). */
  private final class LongToArrayMap(initialCapacity: Int) {
    private var mask = {
      var c = 16
      while (c < initialCapacity * 2) c <<= 1
      c - 1
    }
    private var keys = new Array[Long](mask + 1)
    private var vals = new Array[Array[Long]](mask + 1)
    private var n = 0
    private def slotOf(k: Long, ks: Array[Long], vs: Array[Array[Long]], m: Int): Int = {
      var i = (java.lang.Long.hashCode(k) * -1640531527) & m // Fibonacci-ish spread
      while (vs(i) != null && ks(i) != k) i = (i + 1) & m
      i
    }
    def get(k: Long): Array[Long] = {
      val i = slotOf(k, keys, vals, mask)
      vals(i)
    }
    def contains(k: Long): Boolean = get(k) != null
    def put(k: Long, v: Array[Long]): Unit = {
      val i = slotOf(k, keys, vals, mask)
      if (vals(i) == null) {
        keys(i) = k; vals(i) = v; n += 1
        if (n * 5L > (mask + 1L) * 3L) grow()
      } else vals(i) = v
    }
    private def grow(): Unit = {
      val m2 = mask * 2 + 1
      val k2 = new Array[Long](m2 + 1)
      val v2 = new Array[Array[Long]](m2 + 1)
      var i = 0
      while (i <= mask) {
        if (vals(i) != null) {
          val j = slotOf(keys(i), k2, v2, m2)
          k2(j) = keys(i); v2(j) = vals(i)
        }
        i += 1
      }
      keys = k2; vals = v2; mask = m2
    }
  }

  private def gridMerge(pairsPlan: DataFrame, docsPlan: DataFrame): DataFrame = {
    val spark = pairsPlan.sparkSession
    val pRdd = pairsPlan.queryExecution.toRdd
    val dRdd = docsPlan.queryExecution.toRdd
    // AQE's empty-relation propagation can collapse a runtime-empty
    // input through its RepartitionByExpression into a 0/1-partition
    // local scan, breaking zipPartitions' equal-partition-count
    // contract (ADVICE r13). An empty CANDIDATE set is a normal
    // case — decontaminate_fuzzy over a clean corpus, any dedup
    // entry over a duplicate-free one — and an empty pairs side
    // means an empty result by definition, so short-circuit. A
    // count mismatch with a NON-empty pairs side would be a real
    // plan invariant violation; fail loudly. (Spec-pinned on a
    // shared-shingle-free corpus in DedupSpec. On 4.1.2 the collapse
    // did NOT reproduce — the explicit-count RepartitionByExpression
    // held its b² partitions on runtime-empty and even plan-empty
    // children — so this is a defensive contract check, free on the
    // normal path: two partition-count reads, isEmpty only on
    // mismatch.)
    if (pRdd.getNumPartitions != dRdd.getNumPartitions) {
      if (!pRdd.isEmpty())
        throw new IllegalStateException(
          s"verify grid: pairs/docs partition counts diverged " +
            s"(${pRdd.getNumPartitions} vs ${dRdd.getNumPartitions}) on a non-empty candidate set")
      return emptyPairsResult(spark)
    }
    val out = pRdd
      .zipPartitions(dRdd) { (ps, ds) =>
        val arrs = new LongToArrayMap(1 << 12)
        while (ds.hasNext) {
          val r = ds.next()
          val id = r.getLong(1)
          // a doc's replicas are identical; copy the array once even
          // when several of its cells hash into this partition
          if (!arrs.contains(id)) arrs.put(id, r.getArray(2).toLongArray())
        }
        new Iterator[InternalRow] {
          private var nextRow: InternalRow = _
          private def advance(): Unit = {
            nextRow = null
            while (nextRow == null && ps.hasNext) {
              val r = ps.next()
              val docA = r.getLong(1)
              val docB = r.getLong(2)
              // candidate duplicates (one row per shared prefix/band
              // token, measured ~10% of the relation) are NOT deduped
              // here: re-running the early-exit merge for the odd
              // duplicate costs ~10% extra CPU on the reject path,
              // where any in-merge dedup structure costs per-DISTINCT-
              // pair memory for the whole partition (a sort pushes the
              // full relation through sorter pages; a hash set cannot
              // spill — both measured slower at sf10 than just
              // re-merging). Duplicate QUALIFYING emissions — identical
              // rows, same exact jac — collapse in the dropDuplicates
              // over the threshold survivors below (27k rows at sf10,
              // one tiny exchange).
              locally {
                val ga = arrs.get(docA)
                val gb = arrs.get(docB)
                if (ga == null || gb == null)
                  throw new IllegalStateException(
                    s"verify grid: candidate pair ($docA, $docB) references a doc absent from the shingle relation")
                val jac = earlyExitJaccard(ga, gb)
                if (jac >= JaccardThreshold)
                  nextRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                    Array[Any](docA, docB, jac))
              }
            }
          }
          advance()
          override def hasNext: Boolean = nextRow != null
          override def next(): InternalRow = {
            val r = nextRow; advance(); r
          }
        }
      }
    org.apache.spark.sql.graftbridge.DatasetBridge.internalCreateDataFrame(
      spark, out, mergedPairsSchema)
      // collapse duplicate qualifying emissions (identical rows —
      // same pair, same exact jac): one exchange over the threshold
      // survivors, the relation that is tiny by construction
      .dropDuplicates("doc_a", "doc_b")
  }

  /** The exact-Jaccard early-exit merge (the PPJoin verification
    * bound), shared by [[gridMerge]] and [[gridMergeSmall]]: once
    * inter + min(remaining_a, remaining_b) can no longer reach the
    * overlap a qualifying pair needs, stop — the overwhelmingly-false
    * candidate stream (2.9k true in 3.8M at sf1) rejects after a
    * fraction of the merge. `required` carries the same 1e-9 rounding
    * slack as the candidate join (a slightly LOW bound only completes
    * extra merges); the RETURNED value is the exact jac, so the
    * caller's jac >= t decision is bit-identical to the unbounded
    * merge. Inputs must be sorted distinct shingle-hash arrays. */
  private def earlyExitJaccard(ga: Array[Long], gb: Array[Long]): Double = {
    val required = math.ceil(
      JaccardThreshold / (1 + JaccardThreshold) * (ga.length + gb.length) - 1e-9).toInt
    var i = 0
    var j = 0
    var inter = 0
    while (i < ga.length && j < gb.length &&
           inter + math.min(ga.length - i, gb.length - j) >= required) {
      if (ga(i) == gb(j)) { inter += 1; i += 1; j += 1 }
      else if (ga(i) < gb(j)) i += 1
      else j += 1
    }
    inter.toDouble / (ga.length + gb.length - inter)
  }

  /** Small-volume merge (VERDICT r13 item 3) — the single-partition
    * form the B×B grid degenerates to below
    * [[SmallGridVolumeBytes]]: at sf0.1 the grid re-plumb's costs
    * (B² one-cell partitions' scheduling floor, (2B-1)-fold doc
    * replication, and a SECOND shingle-kernel pass for the separate
    * docs-side query) took the five grid-family entries from
    * ~1.2-2.1 s to ~1.9-3.2 s while the merge itself is
    * milliseconds. This path is ONE query: docs (tag 0) and
    * candidate pairs (tag 1) union through the SAME plan, so the
    * post-kernel exchange is shared (ReusedExchange — the kernel
    * runs once, like r12's cogroup form), everything lands in a
    * single partition, the tag sort puts every doc array before the
    * first pair row (pushing the pair relation through sorter pages
    * is exactly the cost the B×B path avoids — affordable by the
    * volume floor's construction, catastrophic at sf10), and the
    * merge streams pairs against the in-memory doc map with the
    * same early-exit + survivor-dedup semantics as [[gridMerge]].
    * Pairs-identical and grid-invariance specs pin equality with
    * the grid path. */
  private def gridMergeSmall(cand: DataFrame, hashed: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val spark = cand.sparkSession
    val docsSide = hashed.select(lit(0).as("tag"), col("doc_id").as("doc_a"),
      lit(0L).as("doc_b"), array_sort(col("ghs")).as("ghs"))
    val pairsSide = cand.select(lit(1).as("tag"), col("doc_a"), col("doc_b"),
      lit(null).cast(ArrayType(LongType, containsNull = false)).as("ghs"))
    val one = docsSide.unionByName(pairsSide)
      .repartition(1).sortWithinPartitions(col("tag"))
    val out = one.queryExecution.toRdd.mapPartitions { it =>
      val arrs = new LongToArrayMap(1 << 12)
      new Iterator[InternalRow] {
        private var nextRow: InternalRow = _
        private def advance(): Unit = {
          nextRow = null
          while (nextRow == null && it.hasNext) {
            val r = it.next()
            if (r.getInt(0) == 0) {
              // doc row — all of them precede the first pair row
              // (tag sort); each doc appears exactly once here (no
              // replication on the small path)
              arrs.put(r.getLong(1), r.getArray(3).toLongArray())
            } else {
              val docA = r.getLong(1)
              val docB = r.getLong(2)
              val ga = arrs.get(docA)
              val gb = arrs.get(docB)
              if (ga == null || gb == null)
                throw new IllegalStateException(
                  s"verify grid (small): candidate pair ($docA, $docB) references a doc absent from the shingle relation")
              val jac = earlyExitJaccard(ga, gb)
              if (jac >= JaccardThreshold)
                nextRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](docA, docB, jac))
            }
          }
        }
        advance()
        override def hasNext: Boolean = nextRow != null
        override def next(): InternalRow = {
          val r = nextRow; advance(); r
        }
      }
    }
    org.apache.spark.sql.graftbridge.DatasetBridge.internalCreateDataFrame(
      spark, out, mergedPairsSchema)
      .dropDuplicates("doc_a", "doc_b")
  }

  private val mergedPairsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_a",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("doc_b",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("jaccard",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  private def emptyPairsResult(spark: SparkSession): DataFrame =
    org.apache.spark.sql.graftbridge.DatasetBridge.internalCreateDataFrame(
      spark, spark.sparkContext.emptyRDD[InternalRow], mergedPairsSchema)

  /** Fragment-replicate verification for a candidate relation whose
    * b side is BOUNDED (decontaminate_fuzzy: eval suites are MBs).
    * The symmetric B×B grid replicates BOTH relations B-fold — right
    * when the pair space is corpus×corpus, waste when one dimension
    * is bounded: the corpus arrays were measured shipping 6-fold at
    * sf10 for a candidate set that touches a 10% slice. Here the
    * a-side arrays ship ONCE (each corpus doc to its single
    * `doc_a mod p` partition) and only the bounded b side replicates
    * p-fold — total shuffle is |corpus arrays| + p·|bench arrays|
    * instead of B·(|corpus| + |bench|), and p is the parallelism
    * knob, not a memory-sizing output. Pairs bucket by the same
    * a-residue, so [[gridMerge]] runs UNCHANGED (pair-set dedup,
    * early-exit merge, exact threshold emission — and the map holds
    * one partition's a-arrays + the bounded b set, within the same
    * task budget argument). Measured at sf10: 45.6 → 7.2 s steady
    * state. */
  /** Partition count for the fragment-replicate verify — sized to
    * the A-SIDE volume (one ~64 MB a-array fragment per partition),
    * NOT to defaultParallelism: the b side replicates p-fold, so an
    * oversized p multiplies the bounded side's shuffle for no win
    * (measured at sf1: p=32 cost 7.6 s where p=2's data needs ~1.7).
    * Grows linearly with the corpus — at warehouse scale p reaches
    * any cluster's parallelism while the per-partition map stays one
    * fragment + the bounded b set (the task-budget argument). */
  private def asymFragments(volABytes: Long): Int =
    math.max(1L, math.min(46340L, (volABytes + (64L << 20) - 1) / (64L << 20))).toInt

  private def verifyJaccardAsym(cand: DataFrame, hashedA: DataFrame,
                                hashedB: DataFrame, volABytes: Long): DataFrame = {
    val spark = cand.sparkSession
    val p = asymFragments(volABytes)
    val toks = typedLit(cellTokens(p).toSeq)
    val pairs = verifyAsymPairsPlan(cand, p)
    val docsA = hashedA.select(
      pmod(col("doc_id"), lit(p)).cast("int").as("cell"),
      col("doc_id"), array_sort(col("ghs")).as("ghs"))
    val docsB = hashedB
      .select(col("doc_id"), array_sort(col("ghs")).as("ghs"))
      .select(explode(sequence(lit(0), lit(p - 1))).as("cell"),
        col("doc_id"), col("ghs"))
    val docs = docsA.unionByName(docsB)
      .repartition(p, element_at(toks, (col("cell") + 1).cast("int")))
    gridMerge(pairs, docs).repartition(col("doc_a"))
  }

  /** The asym pairs-side plan alone — the frame the plan audits
    * inspect (the `gridInputOnly` convention). */
  private[graft] def verifyAsymPairsPlan(cand: DataFrame, p: Int): DataFrame = {
    val toks = typedLit(cellTokens(p).toSeq)
    cand
      .select(pmod(col("doc_a"), lit(p)).cast("int").as("cell"),
        col("doc_a"), col("doc_b"))
      .repartition(p, element_at(toks, (col("cell") + 1).cast("int")))
  }

  private def verifyJaccard(cand: DataFrame, hashed: DataFrame,
                            volumeBytes: Long): DataFrame = {
    val spark = cand.sparkSession
    // The trailing repartition is a MATERIALIZATION BOUNDARY, not a
    // distribution choice: the emitted pair set is tiny (threshold
    // survivors), but a caller's presentation orderBy plans a range
    // exchange directly over the merge, and computing range bounds
    // SAMPLES the child — re-executing the entire grid pass over the
    // 20 GB cell shuffle (measured: a second 967 executor-seconds
    // stage at sf10, ~32 s of wall). With the cheap hash exchange
    // here, AQE materializes the merge once and the sort's sampling
    // reads the 27k-row shuffle output instead.
    val b = gridB(spark, volumeBytes)
    (if (b == 1) gridMergeSmall(cand, hashed)
     else gridMerge(verifyGridPlan(cand, hashed, b), gridDocsPlan(hashed, b)))
      .repartition(col("doc_a"))
  }

  /** SPARSE-candidate verification (round 14) — the scale path for
    * banded candidate relations, whose pairs arrive at the near-dup
    * rate by construction (LSH collisions under the length
    * prefilter). The symmetric grid ships EVERY doc's array
    * (2B-1)-fold whether or not any candidate references it — right
    * when the candidate relation dwarfs the corpus (the dense
    * PPJoin sweep at ~8 candidate rows per corpus doc), pure waste
    * when it doesn't: at sf100 (5M docs, ~12 GB of shingle hashes)
    * the grid's docs-side shuffle is 0.26-0.5 TB for a candidate
    * set of a few million rows. Here verification is a PAIR JOIN
    * instead: the arrays flow to the candidates through two hash
    * joins (each array ships once per candidate touching it —
    * O(|pairs| * array bytes), the optimal shape when |pairs| is
    * within a small factor of |corpus|), and the exact Jaccard is
    * computed IN-ROW with array_intersect — the same arithmetic
    * (integer intersection size, one IEEE division) as the grid
    * merge and the streaming gate's in-row scoring, so all three
    * paths agree bit-for-bit (spec-pinned: sparse == classic pair
    * set and scores; gate == incremental row-for-row). ONE query:
    * candidate generation runs once, and both probes of the same
    * (doc_id, ghs, n) relation canonicalize onto the shared
    * post-kernel exchange. Candidate band-duplicates re-score
    * (~10% extra in-row CPU on the reject path) and qualifying
    * duplicates collapse in the survivor dedup — the grid's exact
    * trade. A candidate referencing a doc absent from `hashed` is
    * silently dropped by the inner join where the grid threw; both
    * are "cannot happen by construction", and the join form is what
    * a 100 TB run needs anyway — no partition-aligned zip to
    * violate, no per-task doc map to size.
    *
    * Measured at sf10 vs the classic grid: dedup_minhash_lsh
    * 40 s -> ~13 s, dedup_minhash_incremental 46 s -> ~4 s; at
    * sf100 the grid DNFs on any single box's disk while this
    * path's shuffle stays ~3x the candidate-touched array volume. */
  private def verifyJaccardSparse(cand: DataFrame, hashed: DataFrame): DataFrame = {
    // Optional loud-invariant audit (ADVICE r14): the inner joins
    // below silently drop a candidate referencing a doc absent from
    // the shingle relation, where the grid paths throw
    // IllegalStateException. "Cannot happen by construction" stays
    // checkable on this path too — under graft.verify.auditSparse
    // (off by default: two extra anti-join jobs), any orphan
    // candidate fails loudly instead of vanishing. The equality
    // spec runs with it on.
    if (cand.sparkSession.conf.getOption("graft.verify.auditSparse")
          .contains("true")) {
      val ids = hashed.select(col("doc_id"))
      val orphans =
        cand.select(col("doc_a").as("doc_id")).join(ids, Seq("doc_id"), "left_anti")
          .union(
            cand.select(col("doc_b").as("doc_id")).join(ids, Seq("doc_id"), "left_anti"))
          .limit(1).count()
      if (orphans > 0) throw new IllegalStateException(
        "sparse verify: candidate references a doc_id absent from the shingle relation")
    }
    cand
      .join(hashed.select(col("doc_id").as("doc_a"), col("ghs").as("ghs_a"),
        col("n").as("n_a")), Seq("doc_a"))
      .join(hashed.select(col("doc_id").as("doc_b"), col("ghs").as("ghs_b"),
        col("n").as("n_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ghs_a"), col("ghs_b"))))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= lit(JaccardThreshold))
      .dropDuplicates("doc_a", "doc_b")
      .repartition(col("doc_a"))
  }

  /** Regime floor for the sparse pair-join path — the same 64 MB
    * line as [[SmallGridVolumeBytes]]: below it the whole corpus
    * fits one merge task and the classic one-query single-partition
    * merge is cheapest (sf0.1: classic 1.4-1.9 s). Above it, for
    * the families routed here (banded candidates — near-dup-rate
    * sparse at every scale), the pair join wins decisively and
    * increasingly with scale (sf10: 13.5 / 4.3 s vs the grid's
    * 40-46 s — the grid replicates and shuffles 500k docs' arrays
    * to verify ~300k candidate rows). The DENSE ngram families are
    * NOT routed here at any volume: their candidate relation
    * dwarfs the corpus, so per-pair array shipping would ship each
    * array ~8x and the grid's bounded B-fold replication wins.
    * Above the floor the MEASURED candidate-density check picks
    * sparse vs grid, see [[DenseCandRatio]]. */
  private[graft] val SparseGridVolumeBytes = SmallGridVolumeBytes

  /** Candidate-density line above which a BANDED family is verified
    * on the grid after all (r16, VERDICT r14 item 3): the sparse
    * pair join ships each doc's array once per candidate touching
    * it, so at R candidate rows per corpus doc its shuffle is ~R×
    * the grid's bounded (2B−1)-fold docs-side replication crossover.
    * The dense PPJoin sweep sits at ~8 rows/doc and the grid wins
    * there; banded LSH candidates arrive at the near-dup rate (≪1)
    * on a healthy corpus — but a near-dup-SATURATED crawl (the same
    * page mirrored thousands of times) collides everything into the
    * same band buckets and the banded relation turns dense too.
    * 4 rows/doc splits the regimes with margin on both sides. */
  private[graft] val DenseCandRatio = 4.0

  /** Dispatch between the classic one-query grid and the sparse
    * pair join: by corpus volume first (below
    * [[SparseGridVolumeBytes]] the one-task merge is cheapest), then
    * by MEASURED candidate density rather than family identity
    * (r16): the banded families route here because their candidates
    * are usually near-dup-rate sparse, but "usually" is a property
    * of the corpus, not the family — a near-dup-saturated crawl
    * lands banded candidates in exactly the dense regime the grid's
    * bounded replication exists for. The candidate id-pair relation
    * is persisted (two longs per row — MEMORY_AND_DISK, pair-bounded)
    * and counted once; the verify pass then consumes the cache, so
    * candidate generation itself still runs once. The count job does
    * re-run the shingle/signature kernel that feeds the band join
    * (the verify job recomputes `hashed` for the array joins — cross-
    * action exchange reuse doesn't exist), a bounded premium paid
    * only above the volume floor, against the unbounded downside of
    * per-pair array shipping on a dense candidate set. The bounds are
    * [[SparseGridVolumeBytes]] and [[DenseCandRatio]] outside specs;
    * the sparse route's plan carries its `array_intersect` join, the
    * grid routes' plans do not. */
  private def verifyJaccardAuto(cand: DataFrame, hashed: DataFrame, docs: DataFrame,
                                sparseFloor: Long, denseRatio: Double): DataFrame = {
    val vol = shingleVolumeBytes(docs)
    if (vol <= sparseFloor) verifyJaccard(cand, hashed, vol)
    else {
      val candP = cand.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (candP.count() > denseRatio * docs.count()) verifyJaccard(candP, hashed, vol)
      else verifyJaccardSparse(candP, hashed)
    }
  }

  // ---- dedup_ngram_jaccard: exact set-Jaccard via prefix filter ----
  // A naive inverted-index join explodes on high-frequency shingles
  // (every pair sharing "the quic" becomes a candidate — O(n²) rows
  // on same-domain corpora). The PPJoin prefix filter keeps exactness
  // at a fraction of the cost: order each doc's shingles by global
  // rarity and index only the first |x| - ceil(t*|x|) + 1 of them —
  // any pair with J >= t provably shares a PREFIX shingle, and rare
  // shingles have tiny postings lists, so the candidate join stays
  // linear-ish at any corpus size.
  /** The UNORDERED near-dup pairs — consumers that feed the pairs
    * into further processing (dedup_clusters) use this form and skip
    * the presentation sort's range-sampling pass + exchange. */
  def dedupNgramJaccardPairs(spark: SparkSession, dir: String,
                             bRestrict: Option[Column] = None,
                             gridInputOnly: Boolean = false): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Global shingle rarity as a count-min sketch: ONE bounded-size
    // aggregate (see CmsParams), collected once like the IVF
    // centroids. Rarity ranks
    // then come from a per-document local sort inside the
    // graft_ppjoin_prefix kernel — prefix construction does ZERO
    // corpus-wide shuffles (round 2 shuffled the full exploded
    // shingle relation twice, by hash for frequency and by doc for
    // rank). CMS estimates are globally CONSISTENT, which is all the
    // prefix filter's completeness needs; see PpjoinKernels.
    // The ENTIRE pipeline — candidate generation and verification —
    // runs on 64-bit shingle hashes (graft_hash_shingles fuses
    // shingling+hashing; no string materialization anywhere; longs
    // join/intersect far cheaper than 16-char strings). One shingle
    // pass per corpus, exact up to 64-bit xxhash collisions — see
    // the kernel's doc for the honest bound.
    graft.functions.GraftFunctions.register(spark)
    // FULL sweep: ONE shared-exchange relation feeds the sketch
    // aggregate, the prefix kernel, and (through prefix) both sides
    // of the self-join — exactly TWO jobs, the CMS `head` and the
    // caller's terminal action (see sharedShingleArrays).
    // INCREMENTAL sweep: the steady-state regime instead reads the
    // persisted sketch table (same (doc_id, ghs, n) columns — the
    // parquet is the materialized shared exchange) and the persisted
    // CMS bytes, so no shingle kernel and no corpus-wide aggregate
    // run at all; the slice restriction pushes into the b branch as
    // a doc_id predicate on the SAME parquet. Both CMS sources give
    // identical counts (partial-sketch merges are element-wise adds
    // — order-free), and any consistent sketch only steers candidate
    // pruning; exact verification makes the final pairs equal either
    // way (spec-pinned).
    val (hashed, sketch) = bRestrict match {
      case Some(_) =>
        val sk = MinhashSketch.table(spark, dir).select(col("doc_id"), col("ghs"), col("n"))
        (sk, org.apache.spark.util.sketch.CountMinSketch.readFrom(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(ShingleCmsPath))))
      case None =>
        val h = sharedShingleArrays(docs)
        (h, org.apache.spark.util.sketch.CountMinSketch.readFrom(
          h.select(explode(col("ghs")).as("gh"))
            .select(expr(s"count_min_sketch(gh, ${CmsParams._1}d, ${CmsParams._2}d, ${CmsParams._3})"))
            .head.getAs[Array[Byte]](0)))
    }
    // the sketch binds PER CALL, directly into the expression tree —
    // a session-global temp function closing over it would let two
    // interleaved calls on different dirs analyze against the wrong
    // call's sketch (ADVICE r3)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val prefixArr = ColumnBridge.column(graft.functions.PpjoinPrefixExpr(
      ColumnBridge.expression(col("ghs")), sketch, JaccardThreshold))
    val prefix = hashed
      .select(col("doc_id"), col("n"), explode(prefixArr).as("p"))
      .select(col("doc_id"), col("p.gh").as("gh"), col("p.rn").as("rn"), col("n"))
    // PPJoin candidate pruning (Xiao et al.), both filters directly
    // in the join condition so pruned rows never reach the distinct:
    //  - length filter: J >= t forces min(n_a,n_b) >= t * max(n_a,n_b)
    //    (J <= n_small/n_large when the small set is fully contained);
    //  - positional filter: for a shared prefix shingle at global-
    //    order positions (rn_a, rn_b), overlap <= 1 + min(n_a - rn_a,
    //    n_b - rn_b); J >= t needs overlap >= ceil(t/(1+t)*(n_a+n_b)).
    //    A qualifying pair's FIRST shared prefix shingle always
    //    passes the bound, so filtering per matched row + distinct
    //    keeps candidate generation complete.
    // The 1e-9 slack keeps double rounding from over-pruning at
    // exact-integer boundaries (e.g. t*(n_a+n_b) landing on an int):
    // a slightly LOW threshold only admits extra candidates.
    val t = JaccardThreshold
    val alpha = ceil(lit(t / (1 + t)) * (col("a.n") + col("b.n")) - lit(1e-9))
    val lengthF =
      least(col("a.n"), col("b.n")) >= lit(t) * greatest(col("a.n"), col("b.n")) - lit(1e-9)
    val positionalF =
      lit(1) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn")) >= alpha
    val cand = bRestrict match {
      case Some(f) =>
        // INCREMENTAL: the slice restriction narrows the HIGHER-id
        // side of every candidate pair: since doc_a < doc_b always,
        // "the pair touches the new slice" is exactly "doc_b is
        // new". The filter pushes through the shared exchange to the
        // b branch's own scan — deliberate divergence: at warehouse
        // scale the restricted side shingles only the fresh slice
        // while the a side still reuses the full-corpus stages. (The
        // index-prefix reduction below needs a SIZE-oriented join,
        // which would spread the slice predicate across both sides —
        // candidate volume here is slice x corpus, so the id-
        // oriented join keeps the pushdown that matters more.)
        prefix.as("a")
          .join(prefix.filter(f).as("b"),
            col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id") &&
              lengthF && positionalF)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      case None =>
        // FULL sweep: PPJoin's index-prefix reduction (Xiao et al.
        // §4; confirmed across implementations by Mann et al.'s
        // set-join evaluation). Orient the self-join by (n, doc_id)
        // lex order instead of bare id and the smaller-set side only
        // needs its first n - ceil(2t/(1+t)*n) + 1 prefix rows
        // (~0.11n at t=0.8 vs the probing prefix's ~0.2n).
        // Completeness: for a qualifying pair with n_y <= n_x, the
        // globally-first shared shingle w1 sits at position <=
        // n_y - O + 1 in y, and O >= alpha >= ceil(2t/(1+t)*n_y), so
        // w1 is inside y's index prefix; O >= t*n_x (length filter)
        // puts w1 inside x's probing prefix; and the positional
        // bound on w1 is >= O — so the one row that matters always
        // matches and passes.
        //
        // Honest measurement (sf1 AND sf10): the OUTPUT row count is
        // IDENTICAL to the symmetric probing-prefix join — the
        // positional filter already implies rn <= n - alpha + 1 <=
        // idxLen on the smaller side of every emitted row, so the
        // index prefix prunes no candidates the join wouldn't. What
        // it does buy: the indexed side's gh exchange shrinks ~45%
        // (0.55 -> 0.32 GB at sf10) and the sort-merge join compares
        // |I_a| x |P_b| rows per shingle group instead of
        // |P_a| x |P_b| — worth keeping, priced honestly. The filter
        // sits ABOVE the shared doc_id exchange (rn is born in the
        // explode), so the shingle kernel still runs once.
        val idxLen = col("n") - ceil(lit(2 * t / (1 + t)) * col("n") - lit(1e-9)) + lit(1)
        val lexLt = col("a.n") < col("b.n") ||
          (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))
        prefix.filter(col("rn") <= idxLen).as("a")
          .join(prefix.as("b"),
            col("a.gh") === col("b.gh") && lexLt && lengthF && positionalF)
          .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    }
    // NO distinct() here: a pair matched once per shared prefix
    // shingle rides to the verify grid raw, and the merge's
    // distinct-pair set drops the duplicates — see verifyJaccard.
    // Fully lazy from here: the upstream exchanges are AQE stages
    // inside the caller's one terminal job — nothing is persisted,
    // so there is nothing to release (ADVICE r3/r4 storage-leak
    // class is gone by construction)
    val vol = shingleVolumeBytes(docs)
    // gridInputOnly: the plan audit's window into the sweep — the
    // grid merge runs at the InternalRow level behind a LogicalRDD
    // barrier, so the FINAL frame's executedPlan no longer shows the
    // upstream scans/joins; the audit inspects the grid's declarative
    // input plan instead (same subtree the merge executes).
    if (gridInputOnly) verifyGridPlan(cand, hashed, gridB(spark, vol))
    // DENSE family — PPJoin candidates (full and sliced) reference
    // essentially every doc, so the sparse staged path's prune saves
    // nothing and its staging costs a full extra pass (measured 83 s
    // vs the classic grid at sf10); both forms keep the one-query
    // grid. See SparseGridVolumeBytes for the regime analysis.
    else verifyJaccard(cand, hashed, vol)
  }

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    dedupNgramJaccardPairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** The denominator of the incremental split: documents with
    * doc_id >= (max_id * 9) / 10 play the "fresh crawl". A fixed
    * fraction (not a fixed id) keeps the entry meaningful at every
    * SF; integer arithmetic keeps the two engines' splits identical. */
  private[graft] def incrementalSplit(docs: DataFrame): Option[Long] = {
    // None when the corpus is empty (or has only null ids): no
    // slice exists, so no pair can touch it
    val row = docs.agg(max(col("doc_id"))).head
    if (row.isNullAt(0)) None else Some(row.getLong(0) * 9 / 10)
  }

  /** Incremental near-dup detection: pairs that TOUCH the new slice
    * (doc_id >= the 90% split) against the whole corpus — the
    * steady-state dedup a warehouse runs when a fresh crawl lands.
    * Candidate volume is (new x corpus), not (corpus x corpus):
    * because pairs are enumerated with doc_a < doc_b, restricting
    * doc_b to the new slice is exactly "the pair involves a new
    * document" (new-new pairs qualify too — both ids are above the
    * split). Same PPJoin pruning and exact verification as the full
    * operator, plus one bounded pre-pass (the max(doc_id) head that
    * computes the split) ahead of its CMS head + terminal action. */
  def dedupNgramJaccardIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val restrict = incrementalSplit(docs)
      .map(split => col("doc_id") >= lit(split))
      .getOrElse(lit(false))
    dedupNgramJaccardPairs(spark, dir, Some(restrict))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** One SQL template for the full and incremental oracles — the
    * incremental form adds the same doc_b restriction the Spark
    * side applies (integer-arithmetic split, identical in both
    * engines). */
  private def ngramJaccardSqlWith(bPredicate: String): String =
    s"""WITH sh AS (
       |  $ShingleCteSql
       |), pair AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id$bPredicate
       |  GROUP BY 1, 2
       |), sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
       |FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
       |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  private val dedupNgramJaccardSql: String = ngramJaccardSqlWith("")

  private val dedupIncrementalSql: String = ngramJaccardSqlWith(
    "\n    AND b.doc_id >= (SELECT MAX(doc_id) * 9 // 10 FROM documents)")

  // ---- dedup_minhash_lsh: MinHash signatures + banded LSH ----
  val MinhashPerms = 64
  val LshBands = 16 // 16 bands x 4 rows

  /** (doc_id, sig): 64-perm MinHash signature via explode +
    * 64 min-aggregates — the REFERENCE implementation, kept as the
    * independent check the kernel path is spec-pinned against (and
    * as the affinity-free form a reviewer can read next to Spark's
    * own xxhash64). Operators run [[kernelSignatures]] instead: one
    * codegen'd loop per document, no explode, no 64-aggregate
    * shuffle, and the per-shingle hashLong stage hoisted out of the
    * 64-permutation loop (the aggregate re-hashes gh from scratch
    * per permutation). Shingle-less docs are excluded at the source
    * (sharedShingleArrays' text-length predicate), matching the
    * aggregate form, which never has a row for them.
    *
    * (The tempting one-projection nested-`transform` form is a trap:
    * Catalyst's projection collapse inlines the shingle-array
    * expression into the per-seed lambda, recomputing the shingling
    * 64x per document — measured 100x slower at sf0.1.) */
  def minhashSignatures(docs: DataFrame): DataFrame =
    // No persist: the shingle relation has exactly one consumer here
    // (the map-side-combined 64-aggregate groupBy).
    minhashSignaturesFromRows(hashedShingleRows(docs))

  /** The signature aggregation proper, over any (doc_id, gh)
    * exploded-hashed-shingle relation. */
  private[operators] def minhashSignaturesFromRows(rows: DataFrame): DataFrame = {
    val aggs = (0 until MinhashPerms).map(k =>
      min(xxhash64(col("gh"), lit(k))).as(s"mh_$k"))
    rows.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashPerms).map(k => col(s"mh_$k")): _*).as("sig"))
  }

  /** Per-ROW minhash signature of one hashed-shingle array — the
    * streaming twin's form: a stream computes each fresh document's
    * signature inside its own row (no aggregation, so no streaming
    * state), where the batch path min-aggregates exploded shingles.
    * Both evaluate min over xxhash64(gh, k) for k in [0, 64) on the
    * same long/int argument types, so the values are identical
    * (spec-pinned); `array_min` on an empty array would yield null,
    * so callers filter empty shingle sets first — mirroring the
    * batch aggregation, where a doc with no shingles has no rows and
    * thus no signature. */
  private[graft] def rowMinhashSig(ghs: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.MinhashSigExpr(
      ColumnBridge.expression(ghs), MinhashPerms))
  }

  /** The kernel-path signature relation over a
    * [[sharedShingleArrays]]-shaped frame: one codegen'd loop per
    * document (1 hashLong + 64 hashInt per shingle), computed
    * directly on the array relation — no explode, no 64-aggregate
    * groupBy, no extra shuffle (the doc_id exchange is already
    * there). Zero-shingle docs are dropped, exactly as the aggregate
    * form never sees a row for them. */
  private def kernelSignatures(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id"), col("n"), rowMinhashSig(col("ghs")).as("sig"))

  /** PROVABLY-SAFE length prefilter on an (a, b) banded candidate
    * join (round 12): J(A,B) <= min|A|,|B| / max|A|,|B|, so a pair
    * with n_min < t*n_max can never clear the threshold — dropping
    * it IN the join condition (the PPJoin length filter, applied to
    * LSH collisions) prunes verification work without touching the
    * emitted pair set. The 1e-9 slack keeps double rounding from
    * over-pruning at exact-integer boundaries (a slightly low bound
    * only admits extra candidates — same slack as the PPJoin join).
    * Matters most at scale on band-collision-heavy corpora: the
    * synthetic 30-word vocabulary makes unrelated same-band docs
    * common, and a length mismatch is the cheapest disqualifier. */
  private[graft] def lshLengthFilter: Column =
    least(col("a.n"), col("b.n")) >=
      lit(JaccardThreshold) * greatest(col("a.n"), col("b.n")) - lit(1e-9)

  /** The (band, bh) bucket relation of a (doc_id, sig) signature
    * frame, behind a pinned exchange on the join's own distribution:
    * computed once and read from both sides of the bucket self-join
    * (the r4 eager checkpoint materialized the same relation, but as
    * a separate scheduling barrier + a driver round-trip). */
  private[graft] def lshBandsOf(s: DataFrame, p: Int, carry: Seq[String] = Nil,
                                shuffle: Boolean = true): DataFrame = {
    val rows = MinhashPerms / LshBands
    // `carry` columns ride along unchanged (the streaming twin keeps
    // each fresh doc's shingle array next to its bands so the verify
    // join needs no second pass over the stream) — the band/bh
    // DERIVATION stays this one definition for every consumer.
    // `shuffle = false` skips the (band, bh) exchange for consumers
    // whose band join is BROADCAST (decontaminate_fuzzy): a
    // map-side join needs no co-location, and the elided exchange
    // is 16 rows/doc of the whole corpus.
    val c = carry.map(col)
    val bands = s
      .select(col("doc_id") +: explode(sequence(lit(0), lit(LshBands - 1))).as("band") +: col("sig") +: c: _*)
      .select(col("doc_id") +: col("band") +:
        xxhash64(col("band"), slice(col("sig"), col("band") * rows + 1, lit(rows))).as("bh") +: c: _*)
    if (shuffle) bands.repartition(p, col("band"), col("bh")) else bands
  }

  /** The corpus minhash SKETCH TABLE — (doc_id, ghs, n, sig), the
    * per-document hashed shingle set plus its 64-perm signature. This
    * is the "signatures persisted alongside the corpus" column
    * BASELINE.md promised: the steady-state incremental operator READS
    * it instead of re-sketching the full corpus every run, so the
    * nightly cost is slice-sized sketching + the banded join +
    * candidate verification against persisted arrays. At warehouse
    * scale this lives next to the manifest as a bucketed-by-doc_id
    * table; here it shares the oracle stage-dir lifecycle. Build cost
    * is paid once per corpus VERSION (regenerated/appended data moves
    * the listing and re-stages) and is deterministic — the staged rows
    * equal what any later live pipeline would compute, so consumers'
    * outputs are identical either way (spec-pinned).
    *
    * The same staging writes the corpus shingle-rarity count-min
    * sketch at [[ShingleCmsPath]] (one corpus pass writes both). */
  val MinhashSketch: Staged = Staged("minhash_sketch.parquet") { c =>
    val hashed = sharedShingleArrays(c.docs)
    // per-row kernel signature computed IN the write projection —
    // one shingle pass, no signature shuffle, no build join at all
    hashed
      .select(col("doc_id"), col("ghs"), col("n"), rowMinhashSig(col("ghs")).as("sig"))
      .write.mode("overwrite").parquet(MinhashSketch.path)
    // CMS over the STAGED table, not the live pipeline: same
    // counts (the staged rows ARE the pipeline's output), and the
    // aggregate's input is a parquet scan instead of a second
    // kernel pass
    val cms = c.read(MinhashSketch)
      .select(explode(col("ghs")).as("gh"))
      .select(expr(s"count_min_sketch(gh, ${CmsParams._1}d, ${CmsParams._2}d, ${CmsParams._3})"))
      .head.getAs[Array[Byte]](0)
    java.nio.file.Files.write(java.nio.file.Paths.get(ShingleCmsPath), cms)
  }

  /** The corpus shingle-rarity count-min sketch that [[MinhashSketch]]
    * stages: the incremental ngram entry reads it instead of paying a
    * corpus-wide aggregate per run. ~300 KB — a driver-side file
    * read, not a data job. */
  val ShingleCmsPath: String = Staged.at("shingle_cms.bin")

  /** The corpus EXACT-HASH set — md5(text) of every OLD-corpus
    * document (below the incremental split) with its refcount. The
    * exact-duplication twin of the minhash gate's state: the
    * ingest-time exact gate is one stream-static anti join against
    * it, ~32 B per distinct text at warehouse scale.
    *
    * The table carries a REFCOUNT (`cnt` = how many old docs share
    * the hash), not just the distinct set (round 17, for
    * [[Retract]]): a set is not subtractable — deleting a retracted
    * doc's hash would wrongly evict a hash a SURVIVING duplicate
    * still owns, and detecting that case without a count needs a
    * corpus-wide text re-hash. With the count, retraction is exact
    * and takedown-sized: subtract the retracted docs' hash counts,
    * drop rows at zero. Every consumer joins on `h` only (the
    * stream gates' left_anti), so the extra column is free. */
  val CorpusHashes: Staged = Staged("corpus_hashes.parquet") { c =>
    val split = incrementalSplit(c.docs).getOrElse(Long.MaxValue)
    c.docs.filter(col("doc_id") < lit(split))
      .select(md5(col("text")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(CorpusHashes.path)
  }

  /** Candidate pairs from banded buckets, verified with EXACT
    * Jaccard on the shingle sets — only candidates pay the
    * verification cost. This entry times the FULL fused pipeline
    * (sketch + band + verify in one job); the incremental entry
    * below times the steady-state regime over the persisted sketch
    * table — the same split as ann_ivf (build+probe fused) vs
    * ann_ivf_probe (probe over the persisted index). */
  def dedupMinhashLsh(spark: SparkSession, dir: String,
                      gridInputOnly: Boolean = false): DataFrame =
    dedupMinhashLsh(spark, dir, gridInputOnly, SparseGridVolumeBytes, DenseCandRatio)

  /** [[dedupMinhashLsh]] with the verify route's bounds as parameters
    * ([[verifyJaccardAuto]]), so specs can run every route on one
    * corpus. */
  private[graft] def dedupMinhashLsh(spark: SparkSession, dir: String, gridInputOnly: Boolean,
                                     sparseFloor: Long, denseRatio: Double): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val p = docs.sparkSession.sparkContext.defaultParallelism
    // same shared-exchange shape as the ngram path: ONE shingle
    // relation feeds the signature kernel AND the final
    // verification. This operator runs as a SINGLE job — no sketch
    // pre-pass, no checkpoints; every shared stage (shingle kernel,
    // per-row signatures, banded buckets) is an AQE-reused
    // exchange inside the caller's terminal action.
    val hashed = sharedShingleArrays(docs)
    // per-row signature kernel directly on the doc_id exchange — no
    // explode and no 64-aggregate shuffle (the r11 kernel path; the
    // aggregate reference lives in minhashSignatures, spec-pinned
    // equal)
    val bands = lshBandsOf(kernelSignatures(hashed), p, carry = Seq("n"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id") && lshLengthFilter)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // raw (one row per colliding band) — the grid dedupes in-cell
    if (gridInputOnly) verifyGridPlan(cand, hashed, gridB(spark, shingleVolumeBytes(docs)))
    // banded LSH candidates arrive at the near-dup rate — the sparse
    // staged path applies at large volume (verifyJaccardAuto)
    else verifyJaccardAuto(cand, hashed, docs, sparseFloor, denseRatio)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Fresh-crawl form (round 9; persisted a-side round 11): near-dup
    * pairs that TOUCH the new slice (doc_id >= the 90% split — the
    * shared fixed-fraction convention), banded against the whole
    * corpus — minhash's twin of `dedup_incremental` (ngram/PPJoin)
    * and `dedup_semantic_incremental` (embedding/IVF).
    *
    * The a side reads the PERSISTED sketch table
    * ([[MinhashSketch]]): band hashes derive from stored
    * signatures and verification joins stored shingle arrays, so the
    * full corpus is never re-shingled in the steady state — the
    * amortization BASELINE.md promised, now built. The b side runs
    * the whole sketch pipeline on a filtered documents scan (pushed
    * doc_id predicate), sketching ONLY the fresh crawl. Candidate
    * volume is new x corpus through band cooccurrence, never
    * corpus². Because signatures and band hashes are per-row
    * deterministic, the emitted pairs EQUAL the full operator's
    * restricted to doc_b in the slice (pairs are doc_a < doc_b and
    * the slice is the TOP of the id range, so "doc_b is new" is
    * exactly "the pair touches the slice") — spec-pinned, same rows
    * same scores, persisted or live. */
  def dedupMinhashLshIncremental(spark: SparkSession, dir: String,
                                 gridInputOnly: Boolean = false): DataFrame =
    dedupMinhashLshIncremental(spark, dir, gridInputOnly, SparseGridVolumeBytes, DenseCandRatio)

  /** [[dedupMinhashLshIncremental]] with the verify route's bounds as
    * parameters, as [[dedupMinhashLsh]]. */
  private[graft] def dedupMinhashLshIncremental(spark: SparkSession, dir: String,
                                                gridInputOnly: Boolean, sparseFloor: Long,
                                                denseRatio: Double): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val restrict = incrementalSplit(docs)
      .map(split => col("doc_id") >= lit(split))
      .getOrElse(lit(false))
    val p = spark.sparkContext.defaultParallelism
    val sk = MinhashSketch.table(spark, dir)
    val bands = lshBandsOf(sk.select(col("doc_id"), col("n"), col("sig")), p, carry = Seq("n"))
    val hb = sharedShingleArrays(docs.filter(restrict))
    val bandsB = lshBandsOf(kernelSignatures(hb), p, carry = Seq("n"))
    val cand = bands.as("a")
      .join(bandsB.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id") && lshLengthFilter)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // raw (one row per colliding band) — the grid dedupes in-cell
    val hashedSk = sk.select(col("doc_id"), col("ghs"), col("n"))
    if (gridInputOnly) verifyGridPlan(cand, hashedSk, gridB(spark, shingleVolumeBytes(docs)))
    // sliced banded candidates: sparse staged path at large volume
    else verifyJaccardAuto(cand, hashedSk, docs, sparseFloor, denseRatio)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- decontaminate_fuzzy: near-dup train-vs-benchmark leakage ----
  /** Fuzzy decontamination — the NEAR-DUPLICATE form of benchmark
    * leakage detection (Curation.textDecontaminate is the exact
    * shingle-containment form): emit (corpus doc, benchmark doc)
    * pairs whose shingle-set Jaccard clears [[JaccardThreshold]] —
    * training documents that ARE an eval document up to light edits,
    * the train-vs-eval overlap check the GPT-3 appendix and Lee et
    * al. 2022 run before reporting benchmark numbers. The benchmark
    * slice reuses the fixed 90% split convention (eval suites are
    * bounded — MBs, not TBs).
    *
    * Regime and scale shape: decontamination RECURS (every new eval
    * suite, every corpus release), so the corpus side reads the
    * PERSISTED minhash sketch table ([[MinhashSketch]] — built
    * once per corpus version by the dedup campaign) and the corpus
    * TEXT is never rescanned: band hashes derive from stored
    * signatures, verification joins stored shingle arrays. Only the
    * benchmark slice is sketched live (pushed doc_id predicate on
    * the documents scan — here the fresh-slice convention stands in
    * for "the eval suite arrived as new rows"). The bench bands
    * BROADCAST (bounded side), so the band join is map-side over
    * the sketch scan with NO corpus-side exchange at all
    * ([[lshBandsOf]]'s shuffle opt-out — a hash co-location
    * exchange buys nothing under a broadcast build); candidates are
    * corpus×bench through band cooccurrence, never corpus², and
    * verification is the same grid-bounded exact-Jaccard merge as
    * the self-dedup family. Signature/band derivations are the
    * self-dedup definitions unchanged — one definition, so the
    * sketch-vs-live equality stays spec-pinned in one place. */
  def decontaminateFuzzy(spark: SparkSession, dir: String,
                         gridInputOnly: Boolean = false): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val split = incrementalSplit(docs).getOrElse(Long.MaxValue)
    val sk = MinhashSketch.table(spark, dir)
    val corpusBands = lshBandsOf(
      sk.filter(col("doc_id") < lit(split)).select(col("doc_id"), col("n"), col("sig")),
      0, carry = Seq("n"), shuffle = false)
    val benchBands = lshBandsOf(
      kernelSignatures(sharedShingleArrays(docs.filter(col("doc_id") >= lit(split)))),
      0, carry = Seq("n"), shuffle = false)
    val cand = corpusBands.as("a")
      .join(broadcast(benchBands.as("b")),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && lshLengthFilter)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // raw (one row per colliding band) — the merge dedupes in-cell;
    // verification is the ASYMMETRIC fragment-replicate form
    // (corpus arrays ship once, only the bounded bench side
    // replicates — see verifyJaccardAsym), reading the persisted
    // sketch for BOTH sides (the slice's staged rows equal its live
    // kernel output — deterministic, the incremental-minhash
    // argument)
    val volA = shingleVolumeBytes(docs.filter(col("doc_id") < lit(split)))
    if (gridInputOnly) verifyAsymPairsPlan(cand, asymFragments(volA))
    else verifyJaccardAsym(cand,
      sk.filter(col("doc_id") < lit(split)).select(col("doc_id"), col("ghs")),
      sk.filter(col("doc_id") >= lit(split)).select(col("doc_id"), col("ghs")),
      volA)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Staged-pairs path + entry, the [[dedupMinhashLshStaged]]
    * convention: pairs staged once per corpus version for the oracle,
    * the returned frame is the live pipeline. */
  val DeconFuzzyPairs: Staged = Staged("decon_fuzzy_pairs.parquet") { c =>
    decontaminateFuzzy(c.spark, c.dir).write.mode("overwrite").parquet(DeconFuzzyPairs.path)
  }

  def decontaminateFuzzyStaged(spark: SparkSession, dir: String): DataFrame = {
    DeconFuzzyPairs.ensure(spark, dir)
    decontaminateFuzzy(spark, dir)
  }

  /** Oracle: exact string-shingle Jaccard of every emitted pair,
    * re-derived from the raw documents, threshold re-applied — AND
    * the train-vs-bench restriction re-applied on both sides (the
    * incremental-oracle move: a regression emitting in-slice or
    * in-corpus pairs produces rows the oracle drops, failing the
    * hash check). */
  private val decontaminateFuzzySql: String = minhashLshSqlOver(
    DeconFuzzyPairs.path,
    """
      |  WHERE doc_a < (SELECT MAX(doc_id) * 9 // 10 FROM documents)
      |    AND doc_b >= (SELECT MAX(doc_id) * 9 // 10 FROM documents)""".stripMargin)

  // ---- dedup_simhash: 64-bit SimHash + banded hamming search ----
  val SimhashBands = 4 // 4 bands x 16 bits: catches hamming <= 3
  val HammingMax = 3

  /** (doc_id, sim): 64-bit SimHash over whitespace-token hashes.
    * Explode + 64 conditional-sum aggregates (map-side combined, one
    * shuffle of 64 longs per doc) instead of per-row nested-array
    * folds — same output, none of the per-token array allocation.
    *
    * Token hash is the native fnv1a64 kernel (round 7; was
    * xxhash64): equally codegen'd and zero-cost to swap, but FNV-1a
    * has an exact DuckDB SQL twin (TextOps.fnv1a64FoldSql) while
    * xxhash64 has none — which turns the whole operator from a
    * rows-only driver check into a hash-verified oracle entry. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val tok = TextOps.whitespaceTokens(docs) // shared `\S+` segmentation
      .withColumn("h", expr("fnv1a64(term)"))
    val bitSums = (0 until 64).map(i =>
      sum(when(expr(s"(shiftright(h, $i) & 1) = 1"), 1L).otherwise(-1L)).as(s"b_$i"))
    val sim = (0 until 64)
      .map(i => when(col(s"b_$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sim.as("sim"))
  }

  /** Pigeonhole band join: pairs within hamming <= 3 must agree on
    * at least one of the 4 16-bit bands; exact popcount(xor) filters
    * the candidates. */
  /** Block edge for the grouped simhash enumeration: blocks of 64k
    * signatures (1 MB arrays) keep per-task memory trivial while a
    * hot band value's m² loop splits into (m/64k)² parallel tasks. */
  val SimhashBlockSize = 65536

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    dedupSimhashBlocked(spark, dir, SimhashBlockSize)

  /** GROUPED, BLOCK-PARALLEL pair enumeration (round 17 — the sf100
    * lesson, in two measured steps). The band self-join materialized
    * every same-band candidate as a physical row and ran a
    * candidate-volume distinct BEFORE the hamming filter could
    * discard ~all of them — 703 s at 5M docs. Step 1: collect each
    * band bucket into one array row and loop i<j in a native kernel
    * ([[graft.functions.PairKernels.simhashPairsIter]]) emitting
    * only hamming <= max pairs — candidates become loop iterations,
    * never rows (703 → 315 s). Step 2: the remaining 315 s was ONE
    * task's loop — this synthetic corpus's 30-word vocabulary
    * collapses signatures onto few values, so one band bucket holds
    * ~10⁵-10⁶ docs and its m² popcounts serialized. Each bucket's
    * member array therefore SLICES into `blockSize` blocks and
    * explodes into B(B+1)/2 block-pair rows (triangle when ia == ib,
    * bipartite otherwise — every unordered pair covered exactly
    * once), round-robin-repartitioned so each block pair is its own
    * task. Replication is (B+1)/2 × the member arrays — bounded and
    * near-1x for normal buckets (B = 1 → one row, zero overhead).
    * Spec-pinned equal to the join form at the default AND at
    * blockSize = 4 (forcing multi-block coverage on the test
    * corpus). */
  private[graft] def dedupSimhashBlocked(spark: SparkSession, dir: String,
                                         blockSize: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val p = spark.sparkContext.defaultParallelism
    val bands = simhashBandsOf(simhashSignatures(Tables.documents(spark, dir)))
    val members = bands.groupBy(col("band"), col("bits"))
      .agg(collect_list(struct(col("doc_id"), col("sim"))).as("ms"))
      .withColumn("nb",
        greatest(ceil(size(col("ms")).cast("double") / lit(blockSize)), lit(1)).cast("int"))
    val blockRows = members
      .select(col("ms"), col("nb"),
        explode(sequence(lit(0), col("nb") - 1)).as("ia"))
      .select(col("ms"), col("ia"),
        explode(sequence(col("ia"), col("nb") - 1)).as("ib"))
      .select(
        slice(col("ms"), col("ia") * blockSize + 1, lit(blockSize)).as("ma"),
        slice(col("ms"), col("ib") * blockSize + 1, lit(blockSize)).as("mb"),
        (col("ia") === col("ib")).as("same"))
      .repartition(p)
    // GENERATOR, not explode(kernel(...)): a saturated band value
    // emits dense blocks whose pair output must stream straight into
    // the distinct's spillable aggregate, never buffer per task
    val gen = ColumnBridge.column(graft.functions.SimhashPairsGen(
      ColumnBridge.expression(col("ma")), ColumnBridge.expression(col("mb")),
      ColumnBridge.expression(col("same")), HammingMax))
    blockRows.select(gen)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The pre-r17 band-JOIN form — kept as the spec's reference
    * implementation for the grouped kernel's equality pin. */
  private[graft] def dedupSimhashJoinForm(spark: SparkSession, dir: String): DataFrame = {
    val bands = simhashBandsOf(simhashSignatures(Tables.documents(spark, dir)))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= HammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The corpus SIMHASH SIGNATURE table — (doc_id, sim), 16 bytes a
    * document — staged once per corpus version. The simhash family's
    * persisted column is even cheaper than minhash's: one long per
    * doc, so at 100 TB the whole table is a few GB — trivially
    * bucketable by (band, bits) for the incremental probe.
    * Deterministic: the staged rows equal what the live pipeline
    * computes, so consumers are identical either way (spec-pinned). */
  val SimhashSigs: Staged = Staged("simhash_sigs.parquet") { c =>
    simhashSignatures(c.docs).write.mode("overwrite").parquet(SimhashSigs.path)
  }

  /** The pigeonhole band relation of a (doc_id, sim) signature frame
    * — ONE definition for both sides of every simhash band join. */
  private def simhashBandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sim"),
        explode(sequence(lit(0), lit(SimhashBands - 1))).as("band"))
      .withColumn("bits", expr("shiftrightunsigned(sim, band * 16) & 65535"))

  /** Fresh-crawl simhash dedup: hamming<=3 pairs that TOUCH the new
    * slice (doc_id >= the shared 90% split), completing the
    * incremental family (ngram, minhash, semantic, simhash). The a
    * side reads the PERSISTED signature table — the steady state
    * tokenizes and signs ONLY the fresh slice (pushed doc_id
    * predicate on the documents scan); candidate volume is
    * new x corpus through band cooccurrence. Exact by the same
    * pigeonhole argument as the full operator, so the oracle is the
    * brute-force hamming definition restricted to the slice. */
  def dedupSimhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val restrict = incrementalSplit(docs)
      .map(split => col("doc_id") >= lit(split))
      .getOrElse(lit(false))
    val bandsA = simhashBandsOf(SimhashSigs.table(spark, dir))
    val bandsB = simhashBandsOf(simhashSignatures(docs.filter(restrict)))
    val cand = bandsA.as("a")
      .join(bandsB.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= HammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB twin of dedup_simhash — EXACT, not approximate: the
    * pigeonhole banding guarantees every hamming<=3 pair survives
    * candidate generation and the popcount filter is exact, so the
    * operator's output IS "all pairs within hamming <= 3" and the
    * oracle can brute-force that definition over all pairs. Token
    * hashes via the shared FNV-1a SQL fold; 64 conditional bit-sums
    * per doc (the same sign convention: ties at 0 -> bit 0); the
    * signature is assembled in HUGEINT (1::BIGINT << 63 overflows
    * DuckDB's checked shift) then mapped into signed-long range. */
  private lazy val dedupSimhashSql: String = simhashSqlWith("")

  /** The incremental twin's oracle adds the same slice restriction
    * the Spark side applies (integer-arithmetic split, identical in
    * both engines) to the brute-force pair join. */
  private lazy val dedupSimhashIncrementalSql: String = simhashSqlWith(
    "\n  AND b.doc_id >= (SELECT MAX(doc_id) * 9 // 10 FROM documents)")

  private def simhashSqlWith(bPredicate: String): String = {
    val bitSums = (0 until 64).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b_$i").mkString(",\n    ")
    val simSum = (0 until 64).map(i =>
      s"CASE WHEN b_$i > 0 THEN (1::HUGEINT << $i) ELSE 0::HUGEINT END").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS term FROM documents
       |), th AS (
       |  SELECT doc_id, ${TextOps.fnv1a64FoldSql("term")} AS uh FROM tok
       |), ths AS (
       |  SELECT doc_id, ${TextOps.signedInt64Sql("uh")} AS h FROM th
       |), bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM ths GROUP BY doc_id
       |), sim AS (
       |  SELECT doc_id, ${TextOps.signedInt64Sql("s")} AS sim
       |  FROM (SELECT doc_id, ($simSum) AS s FROM bits)
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id$bPredicate
       |WHERE bit_count(xor(a.sim, b.sim)) <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- dedup_embedding: exact cosine pairs (brute-force baseline) ----
  val CosineThreshold = 0.4

  /** Left-associative Σ va[i]*vb[i] via the native codegen'd kernel
    * (graft.functions.VecDotExpr) — the same IEEE op sequence as the
    * oracle's list_reduce, so results are bit-identical across
    * engines, but a plain Java loop instead of Spark's interpreted
    * higher-order functions.
    *
    * (Two alternatives measured worse: aggregate(zip_with(...)) is
    * CodegenFallback — interpreted lambda per element, ~10x slower
    * on the pair join; an unrolled flat 64-term element_at chain
    * blows past codegen method limits and deoptimizes, ~4x slower.) */
  def dot(va: String, vb: String): Column =
    expr(s"vec_dot($va, $vb)")

  /** Σ (va[i]-vb[i])², same kernel treatment. */
  def sqDist(va: String, vb: String): Column =
    expr(s"vec_sqdist($va, $vb)")

  /** (vec_id, v, nrm): embeddings as doubles with L2 norms. The
    * element-wise double promotion + left-to-right summation makes
    * the cosine a fixed IEEE op sequence — bit-identical to the
    * oracle. */
  def embeddingsWithNorm(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // pinned repartition before the per-vector compute for the same
    // reason as sharedShingleArrays: a small embeddings table is one
    // parquet file = one partition, which would serialize the
    // double-promotion + norm (and any downstream signature kernel)
    // on a single core. ROUND-ROBIN so a consumer's hash(vec_id)
    // reuse exchange above the compute is not elided as redundant
    // (see sharedShingleArrays). Filters on vec_id still push past
    // the repartition to the scan (Catalyst pushes predicates
    // through RepartitionOperation), so bounded-query consumers
    // don't pay a corpus shuffle.
    val p = spark.sparkContext.defaultParallelism
    Tables.embeddings(spark, dir)
      .repartition(p)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", sqrt(dot("v", "v")))
  }

  /** va/vb are SQL column references (e.g. "a.v"), resolved in the
    * calling plan; norms are passed as Columns. */
  def cosine(va: String, vb: String, na: Column, nb: Column): Column =
    dot(va, vb).divide(na * nb)

  /** EXACT all-pairs cosine dedup — intentionally quadratic: this is
    * the bounded verification baseline for the ANN scale paths
    * (Similarity.scala), not the 100 TB route. */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsWithNorm(spark, dir)
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosine("a.v", "b.v", col("a.nrm"), col("b.nrm")))
      .filter(col("cos") >= CosineThreshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(col("cos"), 6).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val dedupEmbeddingSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, p) -> a + p)) AS nrm
       |  FROM e)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
       |        (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cosine
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
       |      (x, y) -> x + y) / (a.nrm * b.nrm) >= $CosineThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** The LSH entry's verified pairs, staged for its oracle once per
    * corpus version; the entry itself returns the live pipeline, so
    * staging adds only a result-sized parquet write. Shared by the
    * dedup_minhash_lsh entry and the signal router (which only needs
    * the table), so whichever runs first stages for both. */
  val MinhashPairs: Staged = Staged("minhash_pairs.parquet") { c =>
    dedupMinhashLsh(c.spark, c.dir).write.mode("overwrite").parquet(MinhashPairs.path)
  }

  /** The incremental entry's pairs, staged like [[MinhashPairs]]. */
  val MinhashIncrPairs: Staged = Staged("minhash_pairs_incr.parquet") { c =>
    dedupMinhashLshIncremental(c.spark, c.dir)
      .write.mode("overwrite").parquet(MinhashIncrPairs.path)
  }

  /** The exact ngram-Jaccard pair SIGNALS, materialized once per
    * corpus version for downstream consumers (cluster resolution
    * today; any keep/drop policy tomorrow). A pipeline computes pair
    * signals once and every consumer reads the materialized list —
    * recomputing the full pair pipeline inside each consumer would
    * re-price the same corpus pass N times. `dedup_ngram_jaccard`
    * remains the entry that times (and oracle-checks, from raw text)
    * pair GENERATION; `dedup_clusters` times component RESOLUTION
    * over this staging. Deterministic (exact arithmetic, no hashing
    * randomness), so the staging and any later run's live pipeline
    * are identical — pinned by DedupSpec. */
  val NgramPairs: Staged = Staged("ngram_pairs.parquet") { c =>
    dedupNgramJaccardPairs(c.spark, c.dir).write.mode("overwrite").parquet(NgramPairs.path)
  }

  // ---- corpus-adaptive pair signal for the clusters/split family ----

  /** Predicted lower bound on the exact-ngram verify grid's shuffle:
    * the docs-side (2B−1)-fold replication of the corpus shingle
    * volume (the candidate pair relation comes ON TOP — at sf10 it
    * alone is ~25 GB). When even this lower bound exceeds the
    * shuffle disk budget, the grid is disk-DNF by construction. */
  private def gridShuffleLowerBoundBytes(spark: SparkSession, vol: Long): Long =
    (2L * gridB(spark, vol) - 1L) * vol

  /** Shuffle disk this box/cluster can give one job: half the
    * usable space of the first spark.local.dir (shuffle files,
    * spills, AND the staged outputs share it — half leaves room).
    * Override: `graft.clusters.gridShuffleBudgetBytes`. */
  private def shuffleDiskBudgetBytes(spark: SparkSession): Long =
    spark.conf.getOption("graft.clusters.gridShuffleBudgetBytes")
      .map(_.toLong).getOrElse {
        val dir = spark.conf.getOption("spark.local.dir")
          .getOrElse(System.getProperty("java.io.tmpdir"))
          .split(",")(0)
        new java.io.File(dir).getUsableSpace / 2
      }

  /** The pair list [[ClusterSignal]] reads, routed by the exact-ngram
    * grid's OWN sizing model one level up (the [[verifyJaccardAuto]]
    * pattern applied to signal choice, VERDICT r17 item 4): when the
    * grid's predicted replication shuffle fits the disk budget, the
    * signal is the exact-Jaccard ngram pair list (the precision
    * choice); when the sizing model says disk-DNF — sf100 on a 252 GB
    * box: ~12 GB of shingles, B≈16, a 0.26-0.5 TB docs-side shuffle
    * before the TB-class candidate relation lands — the signal comes
    * from the minhash sweep instead, whose banded candidates verify on
    * the sparse pair join and COMPUTE at that scale. The driver
    * corpora are all far below the budget line, so the gate always
    * exercises the ngram route; specs reroute by setting the budget. */
  private[graft] def signalSource(c: Staged.Call): Staged = {
    // derived once per corpus version (ADVICE r18): getUsableSpace is
    // live state, so near the budget line the AUTO-derived route could
    // flip MID-SESSION between calls — and label tables staged under
    // the earlier route would then join against slice pairs from the
    // other. Only the live-disk derivation is held: an EXPLICIT budget
    // conf is deterministic (no disk-state input) and setting it
    // mid-session is a deliberate re-route. A reroute re-stages the
    // signal (it reads the other pair list) and, through the signal's
    // version, every staging that reads it.
    def derive(): Staged = {
      val vol = shingleVolumeBytes(c.docs)
      if (gridShuffleLowerBoundBytes(c.spark, vol) <= shuffleDiskBudgetBytes(c.spark))
        NgramPairs else MinhashPairs
    }
    if (c.spark.conf.getOption("graft.clusters.gridShuffleBudgetBytes").isDefined) derive()
    else graft.StateCache(("Dedup.signalRoute", c.dir), c.source("documents"))(derive())
  }

  /** The ROUTED cluster signal — the one pair list every downstream
    * component consumer (clusters, splits, retract relabel) resolves
    * over, and the one path their DuckDB twins read, whatever source
    * [[signalSource]] picked. Both sources emit the same (doc_a,
    * doc_b) shape, so the engine and the oracle always resolve
    * components over the same signal. */
  val ClusterSignal: Staged =
    Staged("cluster_signal_pairs.parquet", sources = Nil, upstream = c => Seq(signalSource(c))) { c =>
      c.read(signalSource(c)).select(col("doc_a"), col("doc_b"))
        .write.mode("overwrite").parquet(ClusterSignal.path)
    }

  /** The driver entry for dedup_minhash_lsh: stage the verified
    * pairs ONCE per corpus version for the DuckDB oracle, then return
    * the live pipeline. The returned frame is the pipeline itself —
    * NOT the staged read-back — so repeat bench runs still time the
    * full minhash/banding/verify computation (memoizing the
    * read-back too would reduce the benched entry to a parquet
    * scan); only the result-sized write leaves the timed path. The
    * pipeline is deterministic (fixed hash seeds), so the staged
    * parquet and any later run's frame are identical. */
  def dedupMinhashLshStaged(spark: SparkSession, dir: String): DataFrame = {
    MinhashPairs.ensure(spark, dir)
    dedupMinhashLsh(spark, dir).orderBy(col("doc_a"), col("doc_b"))
  }

  /** The incremental entry's staged form — same once-per-corpus
    * memoized pair staging for the DuckDB oracle, same live-pipeline
    * return. */
  def dedupMinhashIncrementalStaged(spark: SparkSession, dir: String): DataFrame = {
    MinhashIncrPairs.ensure(spark, dir)
    dedupMinhashLshIncremental(spark, dir)
  }

  /** DuckDB twin of dedup_minhash_lsh over the staged pair list:
    * re-derives the EXACT Jaccard of every pair the operator emitted
    * from the raw documents (DuckDB's own shingling, intersection
    * counts, sizes, division) and re-applies the threshold — so a
    * wrong score, a below-threshold emission, or a broken
    * verification stage all fail the hash check, while a
    * probabilistic banding miss (which shrinks the pair list on BOTH
    * sides identically) cannot flake the gate. Candidate RECALL
    * against the full exact sweep is pinned separately in DedupSpec
    * on the deterministic test corpus, where a miss is a test
    * failure, not a spurious gate err. (ADVICE r7: the r7 oracle
    * asserted set equality with the full sweep — green builds could
    * turn red with no code change once corpus regeneration raised
    * the cumulative ~2e-4-per-true-pair miss probability.) */
  private val dedupMinhashLshSql: String = minhashLshSqlOver(MinhashPairs.path, "")

  /** The incremental twin re-scores the incremental staging AND
    * re-applies the slice restriction itself (same integer-division
    * split as the Spark side) — a Spark regression that emitted
    * out-of-slice pairs would produce rows the oracle drops, so the
    * hash check catches a broken restriction, not just a broken
    * score. */
  private val dedupMinhashIncrementalSql: String = minhashLshSqlOver(
    MinhashIncrPairs.path,
    "\n  WHERE doc_b >= (SELECT MAX(doc_id) * 9 // 10 FROM documents)")

  private[graft] def minhashLshSqlOver(stagePath: String, pPredicate: String): String =
    s"""WITH sh AS (
       |  $ShingleCteSql
       |), p AS (
       |  SELECT doc_a, doc_b FROM read_parquet('$stagePath/*.parquet')$pPredicate
       |), pair AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
       |  FROM p JOIN sh a ON a.doc_id = p.doc_a
       |         JOIN sh b ON b.doc_id = p.doc_b AND b.g = a.g
       |  GROUP BY 1, 2
       |), sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
       |FROM pair JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
       |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dedup_substring: exact substring-duplication profile ----
  /** Window length for the exact-substring profile. Real pipelines
    * use 40-60 TOKENS (Lee et al. 2022 use 50 BPE tokens); 30 CHARS
    * keeps the same mechanics visible on this corpus's 48-553-char
    * documents. */
  val SubstringK = 30

  /** Per-document exact substring duplication profile — the
    * distributed form of Lee et al. 2022's EXACTSUBSTR criterion
    * ("Deduplicating Training Data Makes Language Models Better"): a
    * window POSITION is duplicated iff its k-char window string
    * occurs >= 2 times anywhere in the corpus (another document or
    * the same one). Lee et al. build one suffix array over the
    * concatenated corpus — inherently single-node; the distributed
    * equivalent profiles every k-window instead, which preserves the
    * duplicated-span MEASURE (any duplicated substring of length
    * >= k duplicates all its k-windows) at strictly linear shuffle
    * cost:
    *
    *   explode(rolling window hashes)        — O(chars) rows, kernel
    *   groupBy (doc_id, wh) count            — map-side combined
    *   groupBy wh sum                        — map-side combined
    *   join back on wh + groupBy doc_id      — linear, AQE-planned
    *
    * No pair relation ever exists — corpus-size-squared never
    * appears, so this shape runs at any scale the shuffles fit.
    * Downstream curation drops documents above a dup_frac threshold
    * or (as in the paper) cuts just the duplicated spans; the
    * profile is the expensive, reusable part. Hash-grouped windows
    * are exact up to 64-bit collisions (the oracle groups by the
    * window STRING itself, so correctness runs cross-check the
    * bound). */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.functions.GraftFunctions.register(spark)
    // Complement trick: dup_windows = n_windows - unique_windows.
    // A window with corpus-total 1 belongs to exactly ONE document
    // (its single occurrence), so after the per-window aggregate the
    // owning doc rides along as min(doc_id) and the whole profile
    // needs NO join back on wh — the first formulation re-shipped
    // the full per-doc window relation into a wh-join (measured
    // 17 s at sf1); this one is three map-side-combined aggregates
    // and a broadcast-sized count join. n_windows itself is pure
    // arithmetic on the text length — never aggregated.
    // pushed n_chars predicate: a doc shorter than one window
    // contributes nothing — prune it at the scan, not post-kernel
    // repartition BELOW the kernel: a small corpus arrives as one or
    // two scan splits and the explode + partial aggregate would run
    // on as many cores (measured: 8.6 of 9.7 s at sf1 on 2 tasks).
    // The exchange ships raw text once — a few percent of the
    // window-row volume the wh exchange ships right after.
    val p = spark.sparkContext.defaultParallelism
    val w = docs.filter(col("n_chars") >= SubstringK)
      .repartition(p, col("doc_id"))
      .select(col("doc_id"),
        explode(expr(s"graft_window_hashes(text, $SubstringK)")).as("wh"))
    // ONE aggregate over the exploded relation: total == 1 means the
    // window has a single occurrence in the whole corpus, so
    // min(doc_id) IS its owner and it contributes exactly one unique
    // POSITION to that doc — no per-(doc, wh) pre-aggregate needed
    val uniqPerDoc = w.groupBy(col("wh"))
      .agg(count(lit(1)).as("total"), min(col("doc_id")).as("doc_id"))
      .filter(col("total") === 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("uniq"))
    // union-aggregate instead of a LEFT join of the arithmetic
    // n_windows branch onto the uniq aggregate: the aggregate side
    // has unique keys, so Catalyst (correctly) ELIMINATES such an
    // outer join under a count(*)-style consumer and the benchmark
    // action would measure a pruned plan — the union keeps every
    // consumer paying the real profile while staying join-back-free
    val nPerDoc = docs.filter(col("n_chars") >= SubstringK)
      .select(col("doc_id"),
        (length(col("text")) - lit(SubstringK - 1)).cast("long").as("n_windows"),
        lit(0L).as("uniq"))
    nPerDoc.unionByName(
        uniqPerDoc.select(col("doc_id"), lit(0L).as("n_windows"), col("uniq")))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_windows")).as("n_windows"),
        (sum(col("n_windows")) - sum(col("uniq"))).as("dup_windows"))
      .withColumn("dup_frac",
        col("dup_windows").cast("double") / col("n_windows").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** The corpus WINDOW-TOTAL table — (wh, total), occurrence count of
    * every k-char window (as its rolling hash) across the whole
    * corpus — staged once per corpus version. The incremental entry
    * reads it instead of re-hashing the old corpus's text per run; at
    * warehouse scale it would be written bucketed by wh so the slice
    * join needs no corpus-side exchange (here the table re-shuffles
    * per run — the saving is the text pass + window aggregate, the
    * same honest trade the minhash incremental makes on its band
    * relation). */
  val SubstringWindows: Staged = Staged("substring_windows.parquet") { c =>
    graft.functions.GraftFunctions.register(c.spark)
    val p = c.spark.sparkContext.defaultParallelism
    c.docs.filter(col("n_chars") >= SubstringK)
      .repartition(p, col("doc_id"))
      .select(col("doc_id"),
        explode(expr(s"graft_window_hashes(text, $SubstringK)")).as("wh"))
      .groupBy(col("wh")).agg(count(lit(1)).as("total"))
      .write.mode("overwrite").parquet(SubstringWindows.path)
  }

  /** Fresh-crawl form of the substring profile: the per-doc
    * duplication profile of the NEW slice (doc_id >= the 90% split,
    * the shared convention) against window totals over the WHOLE
    * corpus — what an ingest pipeline asks nightly ("how much of
    * this crawl is already in the corpus, span-exactly?"). Steady
    * state explodes ONLY the slice's text; totals come from the
    * persisted table. Per-position logic is even simpler than the
    * full form: a position is unique iff its window's corpus total
    * is 1 (that one occurrence can only be this position), so the
    * slice join needs no ownership bookkeeping at all. Output equals
    * the full entry restricted to the slice (spec-pinned). */
  def dedupSubstringIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.functions.GraftFunctions.register(spark)
    val restrict = incrementalSplit(docs)
      .map(split => col("doc_id") >= lit(split))
      .getOrElse(lit(false))
    val wt = SubstringWindows.table(spark, dir)
    sliceProfileAgainst(docs.filter(col("n_chars") >= SubstringK && restrict), wt)
  }

  /** The slice-vs-window-totals profile core — shared by the
    * incremental entry above and [[Retract.retractSubstringProfile]]
    * (which feeds the REPAIRED totals): explode only `sliceDocs`'
    * text, inner-join window totals (lossless — every slice window
    * is in the table by construction), total == 1 means globally
    * unique. Callers must have the graft kernels registered. */
  private[operators] def sliceProfileAgainst(sliceDocs: DataFrame, wt: DataFrame): DataFrame = {
    val p = sliceDocs.sparkSession.sparkContext.defaultParallelism
    val uniqPerDoc = sliceDocs
      .repartition(p, col("doc_id"))
      .select(col("doc_id"),
        explode(expr(s"graft_window_hashes(text, $SubstringK)")).as("wh"))
      .join(wt, "wh")
      .filter(col("total") === 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("uniq"))
    val nPerDoc = sliceDocs
      .select(col("doc_id"),
        (length(col("text")) - lit(SubstringK - 1)).cast("long").as("n_windows"),
        lit(0L).as("uniq"))
    nPerDoc.unionByName(
        uniqPerDoc.select(col("doc_id"), lit(0L).as("n_windows"), col("uniq")))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_windows")).as("n_windows"),
        (sum(col("n_windows")) - sum(col("uniq"))).as("dup_windows"))
      .withColumn("dup_frac",
        col("dup_windows").cast("double") / col("n_windows").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** The cleaning form of the substring criterion — what Lee et al.
    * 2022 actually DO to the corpus (cut the duplicated spans, keep
    * the rest), not just the measure: every code point covered by a
    * duplicated k-window is removed and the kept islands concatenate
    * into the cleaned document. Position-level output needs
    * per-position corpus totals; instead of aggregating totals and
    * joining back on wh (TWO wh exchanges of the position relation
    * or shared-exchange column-parity gymnastics — and the kernel
    * measurably ran twice in that form), the total rides a
    * `count(*) over (partition by wh)` window: ONE exchange of the
    * exploded relation, tiny skew-proof groups (one window string's
    * corpus occurrences), a single consumer so the kernel provably
    * runs once. The interval merge and complement emission are one
    * native codegen'd pass per doc (`graft_strip_dup_windows` /
    * `graft_dup_span_count` over the sorted position array, bounded
    * per row by doc length like the text itself), and the output
    * carries md5(clean) so the row stays small. Emits EVERY doc
    * (short/clean docs pass through byte-identical). */
  def dedupSubstringClean(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.functions.GraftFunctions.register(spark)
    val p = spark.sparkContext.defaultParallelism
    val w = docs.filter(col("n_chars") >= SubstringK)
      .repartition(p, col("doc_id"))
      .select(col("doc_id"),
        posexplode(expr(s"graft_window_hashes(text, $SubstringK)")))
      .withColumnRenamed("col", "wh")
    val dps = w
      .withColumn("total", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("wh"))))
      .filter(col("total") >= 2)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("dps"))
    stripStage(docs, dps)
  }

  /** Attach per-doc duplicated positions and emit the cleaned-doc
    * row — shared by the full and incremental cleaners.
    *
    * Union-aggregate, NOT a left join: the positions aggregate has
    * unique keys and the attach preserves row count, so Catalyst
    * (correctly) eliminates a left outer join under a count(*)-style
    * consumer and a benchmark action would measure a pruned plan —
    * the same trap the profile's complement form documents. The
    * union's group count is not statically derivable, so every
    * consumer pays the real pipeline. max() picks the non-null text
    * and the non-empty position array (empty array sorts first). */
  private def stripStage(docs: DataFrame, dps: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
        expr("cast(array() as array<int>)").as("dps"))
      .unionByName(dps.select(col("doc_id"),
        lit(null).cast("string").as("text"), col("dps")))
      .groupBy(col("doc_id"))
      .agg(max(col("text")).as("text"), max(col("dps")).as("dps"))
      .select(col("doc_id"),
        expr(s"graft_strip_dup_windows(text, dps, $SubstringK)").as("clean"),
        length(col("text")).cast("long").as("len"),
        expr(s"graft_dup_span_count(dps, $SubstringK)").cast("long").as("n_spans"))
      .select(col("doc_id"),
        length(col("clean")).cast("long").as("clean_chars"),
        (col("len") - length(col("clean"))).cast("long").as("n_removed"),
        col("n_spans"),
        md5(col("clean")).as("clean_md5"))
      .orderBy(col("doc_id"))

  /** Fresh-crawl form of the cleaner: strip the NEW slice's
    * duplicated spans against window totals over the WHOLE corpus,
    * read from the PERSISTED (wh, total) table — the nightly "clean
    * this crawl against everything we already have" job. Steady
    * state explodes only the slice's text; the total >= 2 cut is a
    * pushed parquet predicate on the persisted table. A slice window
    * duplicated only against old text still strips (totals count the
    * whole corpus), and per-position independence makes the output
    * EXACTLY the full cleaner restricted to the slice (spec-pinned,
    * same argument as the profile's incremental). */
  def dedupSubstringCleanIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.functions.GraftFunctions.register(spark)
    val restrict = incrementalSplit(docs)
      .map(split => col("doc_id") >= lit(split))
      .getOrElse(lit(false))
    val p = spark.sparkContext.defaultParallelism
    val wt = SubstringWindows.table(spark, dir).filter(col("total") >= 2)
    val sliceDocs = docs.filter(restrict)
    val w = sliceDocs.filter(col("n_chars") >= SubstringK)
      .repartition(p, col("doc_id"))
      .select(col("doc_id"),
        posexplode(expr(s"graft_window_hashes(text, $SubstringK)")))
      .withColumnRenamed("col", "wh")
    val dps = w.join(wt, "wh")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("dps"))
    stripStage(sliceDocs, dps)
  }

  /** Oracle: the cleaned text re-derived entirely in SQL from the
    * window STRINGS — gaps-and-islands over the duplicated
    * positions, per-island spans [min, max+k), kept segments via
    * LAG + the tail, string_agg in segment order. A doc whose every
    * char is covered must come out '' (not the original — the
    * n_spans NULL test distinguishes "no spans" from "no kept
    * segments"). */
  private def substringCleanSqlWith(dPredicate: String): String =
    s"""WITH w AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    substr(text, CAST(i AS INTEGER), $SubstringK) AS win
       |  FROM documents, UNNEST(range(1, length(text) - ${SubstringK - 2})) AS t(i)
       |), dup AS (
       |  SELECT doc_id, pos FROM w
       |  JOIN (SELECT win FROM w GROUP BY 1 HAVING COUNT(*) >= 2) d USING (win)
       |), brk AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $SubstringK
       |         THEN 1 ELSE 0 END AS b
       |  FROM dup
       |), isl AS (
       |  SELECT doc_id, pos,
       |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
       |  FROM brk
       |), spans AS (
       |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + $SubstringK AS e
       |  FROM isl GROUP BY doc_id, g
       |), nsp AS (
       |  SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY 1
       |), segs AS (
       |  SELECT doc_id, ks, ke FROM (
       |    SELECT doc_id,
       |      COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS ks,
       |      s AS ke
       |    FROM spans
       |    UNION ALL
       |    SELECT sp.doc_id, MAX(sp.e) AS ks, MAX(length(d.text)) + 1 AS ke
       |    FROM spans sp JOIN documents d USING (doc_id) GROUP BY sp.doc_id
       |  ) WHERE ke > ks
       |), cl AS (
       |  SELECT s.doc_id,
       |    string_agg(substr(d.text, CAST(s.ks AS INTEGER), CAST(s.ke - s.ks AS INTEGER)),
       |               '' ORDER BY s.ks) AS clean
       |  FROM segs s JOIN documents d USING (doc_id) GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  CAST(length(CASE WHEN n.n_spans IS NULL THEN d.text
       |                   ELSE COALESCE(c.clean, '') END) AS BIGINT) AS clean_chars,
       |  CAST(length(d.text) - length(CASE WHEN n.n_spans IS NULL THEN d.text
       |                   ELSE COALESCE(c.clean, '') END) AS BIGINT) AS n_removed,
       |  CAST(COALESCE(n.n_spans, 0) AS BIGINT) AS n_spans,
       |  md5(CASE WHEN n.n_spans IS NULL THEN d.text
       |           ELSE COALESCE(c.clean, '') END) AS clean_md5
       |FROM documents d
       |LEFT JOIN cl c USING (doc_id)
       |LEFT JOIN nsp n USING (doc_id)$dPredicate
       |ORDER BY d.doc_id""".stripMargin

  private val dedupSubstringCleanSql: String = substringCleanSqlWith("")

  /** Restricts the FINAL select only — duplicated positions must
    * still be judged against whole-corpus window totals. */
  private val dedupSubstringCleanIncrementalSql: String = substringCleanSqlWith(
    "\nWHERE d.doc_id >= (SELECT MAX(doc_id) * 9 // 10 FROM documents)")

  /** The oracle re-derives the profile from the window STRINGS —
    * substr over generate_series — so the hash-grouped Spark plan is
    * checked against an independent exact-string grouping. The
    * incremental twin restricts the FINAL select only: window totals
    * must still count the whole corpus (a slice window duplicated
    * against old text is exactly what the entry exists to find). */
  private def substringSqlWith(dPredicate: String): String =
    s"""WITH w AS (
       |  SELECT doc_id, substr(text, CAST(i AS INTEGER), $SubstringK) AS win
       |  FROM documents, UNNEST(range(1, length(text) - ${SubstringK - 2})) AS t(i)
       |), per_doc AS (
       |  SELECT doc_id, win, COUNT(*) AS cnt FROM w GROUP BY 1, 2
       |), per_win AS (
       |  SELECT win, CAST(SUM(cnt) AS BIGINT) AS total FROM per_doc GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  CAST(SUM(d.cnt) AS BIGINT) AS n_windows,
       |  CAST(SUM(CASE WHEN p.total >= 2 THEN d.cnt ELSE 0 END) AS BIGINT) AS dup_windows,
       |  CAST(SUM(CASE WHEN p.total >= 2 THEN d.cnt ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(d.cnt) AS DOUBLE) AS dup_frac
       |FROM per_doc d JOIN per_win p USING (win)$dPredicate
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val dedupSubstringSql: String = substringSqlWith("")

  // private[graft]: the streaming profile gate shares this oracle —
  // its one-shot output is spec-pinned equal to the batch entry
  private[graft] val dedupSubstringIncrementalSql: String = substringSqlWith(
    "\nWHERE d.doc_id >= (SELECT MAX(doc_id) * 9 // 10 FROM documents)")

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("dedup_exact", Some(dedupExactSql), dedupExact),
    GraftQuery("dedup_substring", Some(dedupSubstringSql), dedupSubstring),
    GraftQuery("dedup_substring_incremental", Some(dedupSubstringIncrementalSql),
      dedupSubstringIncremental),
    GraftQuery("dedup_substring_clean", Some(dedupSubstringCleanSql), dedupSubstringClean),
    GraftQuery("dedup_substring_clean_incremental", Some(dedupSubstringCleanIncrementalSql),
      dedupSubstringCleanIncremental),
    GraftQuery("dedup_ngram_jaccard", Some(dedupNgramJaccardSql), dedupNgramJaccard),
    GraftQuery("dedup_incremental", Some(dedupIncrementalSql), dedupNgramJaccardIncremental),
    GraftQuery("dedup_minhash_lsh", Some(dedupMinhashLshSql), dedupMinhashLshStaged),
    GraftQuery("dedup_minhash_incremental", Some(dedupMinhashIncrementalSql),
      dedupMinhashIncrementalStaged),
    GraftQuery("dedup_simhash", Some(dedupSimhashSql), dedupSimhash),
    GraftQuery("dedup_simhash_incremental", Some(dedupSimhashIncrementalSql),
      dedupSimhashIncremental),
    GraftQuery("dedup_embedding", Some(dedupEmbeddingSql), dedupEmbedding),
    GraftQuery("decontaminate_fuzzy", Some(decontaminateFuzzySql), decontaminateFuzzyStaged))
}
