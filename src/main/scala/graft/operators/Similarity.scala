package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2C6-C8).
  *
  * Three tiers:
  *  - `ann_topk_brute` — exact cosine top-k for a BOUNDED query set
  *    (the recall oracle; the query side is broadcast, so the cost
  *    is one pass over the corpus per batch of queries — linear, not
  *    quadratic, in corpus size);
  *  - `ann_topk_lsh` — random-hyperplane signatures, banded bucket
  *    join: the corpus is touched only through bucket-matched
  *    candidates;
  *  - `ann_ivf` — k-means-lite centroids (the only `collect` is
  *    k x dim doubles — constant size), inverted cell lists,
  *    queries probe their nearest cells only.
  */
object Similarity {

  val QueryCount = 16 // bounded query set: vec_id < 16
  val TopK = 10

  /** Queries as a broadcast-shaped frame (q_id, qv, qn). */
  private def queriesOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))

  private def topkWindowUnordered(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"), col("score"))
  }

  private def topkWindow(scored: DataFrame): DataFrame =
    topkWindowUnordered(scored).orderBy(col("q_id"), col("rank"))

  // ---- ann_topk_brute: exact top-k, bounded query side broadcast ----
  def annTopkBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Dedup.embeddingsWithNorm(spark, dir)
    val scored = e.join(broadcast(queriesOf(e)), col("q_id") =!= col("vec_id"))
      .withColumn("score", round(Dedup.cosine("qv", "v", col("qn"), col("nrm")), 6))
    topkWindow(scored)
  }

  private val annTopkBruteSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, p) -> a + p)) AS nrm
       |  FROM e
       |), s AS (
       |  SELECT q.vec_id AS q_id, b.vec_id AS vec_id,
       |    round(list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]),
       |          (x, y) -> x + y) / (q.nrm * b.nrm), 6) AS score
       |  FROM n q JOIN n b ON q.vec_id < $QueryCount AND q.vec_id <> b.vec_id)
       |SELECT q_id, vec_id, rank, score FROM (
       |  SELECT q_id, vec_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rank
       |  FROM s) t
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  // ---- ann_topk_lsh: random-hyperplane LSH, banded bucket join ----
  val LshBits = 16
  val LshBands = 4 // 4 bands x 4 bits

  /** Sign signature against `LshBits` Rademacher hyperplanes whose
    * weights derive from xxhash64(j, d) — the two-argument hash
    * keeps planes independent for ANY dimensionality (a `j*64+d`
    * stride would alias plane j at dim 64 with plane j+1 at dim 0
    * on >64-dim embeddings). Deterministic, no stored plane matrix,
    * computed in one projection — by the native vec_lsh_sign kernel
    * (graft.functions.VecLshSignExpr): the aggregate(zip_with(...))
    * SQL form is CodegenFallback, bits x dim interpreted lambda
    * calls per corpus row on THE projection that touches every
    * vector. Same hash derivation and IEEE accumulation order, so
    * signatures are bit-identical to the fold form. */
  def lshSignature(e: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(e.sparkSession)
    e.withColumn("sig", expr(s"vec_lsh_sign(v, $LshBits)"))
  }

  private def banded(sigDf: DataFrame, idCol: String): DataFrame = {
    val rows = LshBits / LshBands
    // band value by plain codegen'd arithmetic — `rows` is a plan-time
    // constant, so the aggregate-over-slice fold (CodegenFallback)
    // flattens to element_at terms
    // coalesce: element_at is nullable-typed, and a nullable join
    // key makes InferFiltersFromConstraints push an
    // isnotnull(<whole signature kernel>) predicate below the shared
    // exchange into the serial scan stage (see
    // Dedup.sharedShingleArrays); sig always has LshBits elements,
    // so the fallback never fires
    val bval = coalesce((0 until rows)
      .map(r => element_at(col("sig"), col("band") * rows + r + 1) * lit(1 << (rows - 1 - r)))
      .reduce(_ + _), lit(0))
    sigDf.select(col(idCol), explode(sequence(lit(0), lit(LshBands - 1))).as("band"), col("sig"))
      .withColumn("bval", bval)
      .drop("sig")
  }

  def annTopkLsh(spark: SparkSession, dir: String): DataFrame = {
    // The corpus is referenced by two corpus-wide branches (bucket
    // signatures, candidate vectors): a pinned vec_id exchange whose
    // payload is exactly (vec_id, v) is the shared stage both reuse
    // within the caller's single job — the round-5 replacement for
    // the r4 persist + eager-checkpoint + unpersist pattern (see
    // Dedup.sharedShingleArrays). sig and nrm are derived ABOVE the
    // exchange so both branches prune to the same canonical subtree
    // (a divergently-pruned exchange would be a second corpus scan).
    // The query-side branches filter on vec_id, which pushes past
    // the repartition to the parquet scan — they are bounded-row
    // side scans, not corpus consumers.
    graft.functions.GraftFunctions.register(spark)
    val p = spark.sparkContext.defaultParallelism
    val shared = Tables.embeddings(spark, dir)
      .repartition(p)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .repartition(p, col("vec_id"))
    val corpusBuckets = banded(lshSignature(shared), "vec_id")
    val rows = LshBits / LshBands
    // Multi-probe: each query also probes the hamming-1 neighbors of
    // its bucket in every band (flip one of the band's bits). 5x the
    // probe keys — still a bucket join over a corpus-size-independent
    // number of keys per query — for roughly double the recall.
    val queries = Dedup.embeddingsWithNorm(spark, dir)
      .filter(col("vec_id") < QueryCount)
    val queryBuckets = banded(
      lshSignature(queries).withColumnRenamed("vec_id", "q_id")
        .select(col("q_id"), col("sig")), "q_id")
      .withColumn("bval", explode(expr(
        s"array_union(array(bval), transform(sequence(0, ${rows - 1}), j -> CAST(bval ^ shiftleft(1, j) AS INT)))")))
    // Candidates: same (band, bucket) as a probe — bucket-join, no
    // all-pairs scan. distinct() before the expensive exact cosine.
    val cand = queryBuckets.join(corpusBuckets, Seq("band", "bval"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val vecs = shared.withColumn("nrm", sqrt(Dedup.dot("v", "v")))
    val qs = queries.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = cand
      .join(broadcast(qs), Seq("q_id"))
      .join(vecs, Seq("vec_id"))
      .withColumn("score", round(Dedup.cosine("qv", "v", col("qn"), col("nrm")), 6))
    // fully lazy: nothing is persisted, so there is no storage to
    // release and no materialization barrier before the caller's
    // terminal action
    topkWindow(scored)
  }

  /** DuckDB twin of ann_topk_lsh — EXACT, not approximate: both
    * engines compute the identical candidate set (same plane signs,
    * same left-to-right double accumulation, same banding arithmetic
    * and hamming-1 multi-probe) and the identical scores/ranking
    * (the brute oracle's cosine tail), so the outputs match
    * bit-for-bit. The plane-sign matrix is embedded as literals by
    * this generator FROM THE SAME derivation function the kernel
    * uses (VectorOps.planeSign), so kernel and oracle cannot desync.
    * Literal planes cover [[LshOracleMaxDim]] dimensions — a corpus
    * beyond that FAILS the oracle loudly (the [i] lookups past the
    * literal's end NULL-degrade every signature bit, so the hash
    * check mismatches rather than silently passing); regenerate with
    * a larger LshOracleMaxDim for wider embeddings. The testdata is
    * 64-dim. */
  val LshOracleMaxDim = 256

  private lazy val annTopkLshSql: String = {
    val rows = LshBits / LshBands
    def planeLit(j: Int): String =
      (0 until LshOracleMaxDim).map(d =>
        if (graft.functions.VectorOps.planeSign(j, d) > 0) "1" else "-1")
        .mkString("[", ",", "]")
    val sigBits = (0 until LshBits).map { j =>
      s"""CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, len(v)+1), i -> v[i] * (${planeLit(j)})[i])),
         |      (a, b) -> a + b) > 0 THEN 1 ELSE 0 END AS s_$j""".stripMargin
    }.mkString(",\n    ")
    val sigArray = (0 until LshBits).map(j => s"s_$j").mkString("[", ", ", "]")
    val bval = (0 until rows).map(r =>
      s"sig[CAST(band * $rows + ${r + 1} AS INT)] * ${1 << (rows - 1 - r)}").mkString(" + ")
    val probes = (0 until rows).map(r =>
      s"UNION SELECT q_id, band, xor(bval, ${1 << r}) FROM qb").mkString("\n  ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, p) -> a + p)) AS nrm
       |  FROM e
       |), sigs AS (
       |  SELECT vec_id,
       |    $sigBits
       |  FROM e
       |), sigt AS (
       |  SELECT vec_id, $sigArray AS sig FROM sigs
       |), cb AS (
       |  SELECT vec_id, band, $bval AS bval
       |  FROM sigt, UNNEST(range(0, $LshBands)) AS t(band)
       |), qb AS (
       |  SELECT vec_id AS q_id, band, bval FROM cb WHERE vec_id < $QueryCount
       |), qp AS (
       |  SELECT q_id, band, bval FROM qb
       |  $probes
       |), cand AS (
       |  SELECT DISTINCT p.q_id, c.vec_id
       |  FROM qp p JOIN cb c ON p.band = c.band AND p.bval = c.bval
       |  WHERE p.q_id <> c.vec_id
       |), sc AS (
       |  SELECT cand.q_id, cand.vec_id,
       |    round(list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]),
       |          (x, y) -> x + y) / (q.nrm * b.nrm), 6) AS score
       |  FROM cand JOIN n q ON cand.q_id = q.vec_id JOIN n b ON cand.vec_id = b.vec_id
       |)
       |SELECT q_id, vec_id, rank, score FROM (
       |  SELECT q_id, vec_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rank
       |  FROM sc) t
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
  }

  // ---- ann_ivf: k-means-lite inverted file ----
  // Cells scale as ~sqrt(n) (the classical IVF balance point:
  // probe cost ~ probes * n/cells, centroid scan ~ cells), clamped
  // to keep the broadcast centroid table bounded. nprobe grows only
  // as ~sqrt(cells) ~ n^(1/4), so the probed FRACTION of the corpus
  // (nprobe/cells ~ 1/sqrt(cells)) SHRINKS as the corpus grows —
  // classical IVF behavior; the round-2 cells/4 policy probed a
  // constant 25% of the corpus at any scale, which is not an index.
  val IvfCellsMin = 16
  val IvfCellsMax = 4096
  val IvfIters = 2

  /** Cells each CORPUS vector's posting rides in (round 18 —
    * IVF-A soft assignment, the library's own measured pattern:
    * [[SemanticAssign]] took semantic-dedup recall 0.20 → 0.97).
    * Single assignment held the 0.8 recall floor on clustered
    * distributions but collapsed on the faithful near-uniform
    * corpus AS N GREW (0.81 at sf1, 0.62 at sf10 — the probed
    * fraction shrinks by design, and without cluster structure a
    * neighbor just across a Voronoi boundary is gone). Duplicating
    * each posting into its A nearest cells makes a miss require
    * ALL A cells to fall outside the probe set — recall
    * ~1-(1-r)^A for A× list storage and candidate volume, while the
    * probed fraction keeps shrinking as ~2/sqrt(cells). Candidates
    * arriving via multiple cells are deduped before ranking
    * (identical scores — same arithmetic on the same rows).
    *
    * Round 19: A SCALES WITH THE CORPUS. The fixed A=2 of r18 has
    * the same defect the fixed probe count had a round earlier —
    * the per-posting hit rate r falls as the probed fraction
    * shrinks (measured single-assign ladder on the faithful
    * corpus: 0.806 at 141 cells, 0.619 at 447; the fit
    * r ≈ 2√2/cells^(1/4) tracks both within ±0.015, and follows
    * from r ≈ 2√f with f = probes/cells = 2/√cells), so ANY fixed
    * A eventually drops below the floor — A=2's margin was already
    * spent at sf10 (0.806 vs the 0.80 floor). Choosing the
    * smallest A with (1-r)^A ≤ 0.1 (target recall 0.9 = floor +
    * engineering margin) gives integer THRESHOLDS on the cell
    * count — the boundaries where ln(0.1)/ln(1-r(cells)) crosses
    * 2, 3, 4, 5: cells ≥ 292 → A=3, ≥ 777 → A=4, ≥ 1743 → A=5,
    * ≥ 3449 → A=6, frozen alongside the frozen probe fraction at
    * the 4096-cell cap. Storage grows ~one posting per decade
    * (log-like), the probe policy is untouched, so the probed
    * FRACTION keeps shrinking — the index property that matters.
    * The thresholds are integers compared to an integer count in
    * BOTH the Scala policy and the SQL twins, so the twins cannot
    * drift by a floating-point ulp (the r18 lesson). */
  val IvfAssignBase = 2
  val IvfAssignCellThresholds: Seq[Int] = Seq(292, 777, 1743, 3449)

  /** Postings per vector at this index size — see
    * [[IvfAssignCellThresholds]]. */
  def ivfAssign(cells: Int): Int =
    IvfAssignBase + IvfAssignCellThresholds.count(cells >= _)

  /** The same derivation in SQL, from the staged centroid table's
    * row count (the twin's only view of `cells`) — integer
    * comparisons only. */
  private def ivfAssignSqlFrom(cTable: String): String =
    s"SELECT $IvfAssignBase " +
      IvfAssignCellThresholds.map(t => s"+ (CASE WHEN count(*) >= $t THEN 1 ELSE 0 END)")
        .mkString(" ") + s" AS na FROM $cTable"

  def ivfCells(n: Long): Int =
    math.max(IvfCellsMin, math.min(IvfCellsMax, math.sqrt(n.toDouble).toInt))
  /** 2×sqrt(cells) (round 18): the sqrt(cells) policy held the 0.8
    * recall floor on the CLUSTERED driver distribution, but the
    * faithful re-anchor (near-uniform unit vectors — no cluster
    * structure for the cells to exploit, the worst case for any
    * partition index) measured 0.68 at sf1 (12/141 cells probed).
    * Doubling nprobe restores the floor with margin while the
    * probed FRACTION (2/sqrt(cells)) still shrinks with corpus
    * growth — the index property that matters at scale. */
  def ivfProbes(cells: Int): Int =
    math.max(4, math.ceil(2 * math.sqrt(cells.toDouble)).toInt)

  /** Squared-L2 between two array<double> column refs — unrolled
    * codegen form (see Dedup.dot). */
  private def sqDist(a: String, b: String) = Dedup.sqDist(a, b)

  /** Assign each vector to its nearest centroid. `centroids` is a
    * k-row frame (cid, cv) — always broadcast. */
  def assignCells(e: DataFrame, centroids: DataFrame): DataFrame =
    assign(e, centroids)

  /** Argmin by partially-aggregated min(struct(dist, cid)) — NOT a
    * window: the broadcast join emits corpus x k rows, and a window
    * would shuffle and sort ALL of them on vec_id, while the
    * map-side combine collapses each vector's k candidate rows to
    * one before the exchange — the shuffle carries corpus rows
    * regardless of k. Tie rule (min dist, then min cid) matches the
    * struct's lexicographic order, same as the round-3 window's
    * ORDER BY (dist, cid). first(v)/first(nrm) are deterministic
    * here: every pre-agg row of a vec_id carries the same value. */
  private def assign(e: DataFrame, centroids: DataFrame): DataFrame =
    e.join(broadcast(centroids))
      .withColumn("dc", struct(sqDist("v", "cv").as("dist"), col("cid").as("cid")))
      .groupBy(col("vec_id"))
      .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"), min(col("dc")).as("m"))
      .select(col("vec_id"), col("v"), col("nrm"), col("m.cid").as("cid"))

  /** Lloyd training vectors per cell: centroid QUALITY needs a
    * representative sample, not the corpus — classical IVF trains on
    * a bounded sample, so the index BUILD cost stops scaling with
    * corpus size (at 100M vectors and 4096 cells the training set is
    * ~0.26% of the data; small corpora train on everything). */
  val IvfTrainPerCell = 64

  /** k-means-lite: deterministic seeds (first k sampled vec_ids),
    * `iters` Lloyd steps over a deterministic hash-sample of
    * ~IvfTrainPerCell*k vectors. The update stays DISTRIBUTED —
    * each step computes the new centroid frame as posexplode →
    * per-(cid, pos) mean → re-assembled array, all executor-side;
    * the ONLY driver-side materialization is the final k x dim
    * collect (SURVEY §2E's bounded-collect budget), which also keeps
    * downstream consumers (inverted lists AND query probes) from
    * re-running the Lloyd lineage per branch.
    *
    * `totalCount` lets callers that already counted the corpus skip
    * a second pass. */
  def kmeansCentroids(spark: SparkSession, e: DataFrame, k: Int, iters: Int,
                      totalCount: Option[Long] = None): DataFrame = {
    import spark.implicits._
    kmeansCentroidsLocal(spark, e, k, iters, totalCount).toDF("cid", "cv")
  }

  /** [[kmeansCentroids]]'s driver-local form: the Lloyd state already
    * lives on the driver (round 20), so consumers that need the bound
    * k x dim ARRAY (the kernel assigns, the staging writes) take it
    * directly instead of round-tripping through a toDF + collect —
    * one less job + plan per index build (guide §5, driver work). */
  def kmeansCentroidsLocal(spark: SparkSession, e: DataFrame, k: Int, iters: Int,
                           totalCount: Option[Long] = None): Seq[(Int, Seq[Double])] = {
    import spark.implicits._
    val n = totalCount.getOrElse(e.count())
    val target = IvfTrainPerCell.toLong * k
    val train =
      if (n <= target) e
      else {
        // deterministic hash-mod sample (~target rows): the same
        // vectors are selected on every run and every partitioning
        val denom = 1000000L
        val keep = math.max(1L, target * denom / n)
        e.filter(pmod(expr("xxhash64(vec_id)"), lit(denom)) < keep)
      }
    // seeds = first k sampled vectors in vec_id order — NOT
    // `vec_id < k`, which silently yields fewer (or zero) centroids
    // on sparse or offset id spaces.
    // (Measured, round 5: rewriting this update as `dim` avg()
    // aggregate columns in one groupBy — saving the (cid, pos)
    // exchange and the explode volume — was 15-20% SLOWER end to
    // end: 64 two-buffer avg aggregates generate enough code per
    // Lloyd build to outweigh the exchange they remove. The
    // posexplode form stays.)
    //
    // Round 20: the Lloyd STATE lives on the driver as a k × dim
    // array (the SAME bounded collect budget as before — the r19
    // loop already collected the centroids every round for the
    // bound-matrix assign). The r19 loop additionally kept the state
    // as a DataFrame (`centroids.join(updated).select(coalesce…)`)
    // and re-collected THROUGH that growing join lineage, so each
    // round's collect re-ran the seed subplan plus every earlier
    // round's merge join as extra AQE stages — measured as the two
    // heaviest jobs of ann_ivf at sf0.1 (~2 s of a ~4.5 s
    // steady-state run, stage profile in OPTIMIZATION_r20.md).
    // Merging the k-row update into the local array is driver-side
    // O(k·dim) on data already collected; each round's distributed
    // work is now exactly ONE job (assign + update aggregate), and
    // the final collect disappears (the state is already local).
    // Arithmetic is unchanged: same seeds, same assign kernel, same
    // avg() update, and getOrElse == the old left-join coalesce (a
    // cell with no assigned training vectors keeps its previous
    // centroid — the update must never shrink the centroid count).
    // Round 21: the final per-cid ARRAY ASSEMBLY moved to the driver.
    // Seed cids are positions in vec_id order — the k collected rows
    // sorted locally give the same numbering as the row_number window
    // (one less exchange+sort on a k-row frame); the update collects
    // the (cid, pos, m) rows the first aggregate already produces —
    // k x dim rows, the SAME bounded bytes the assembled arrays held —
    // and sorts each cell's positions locally, dropping the second
    // groupBy (collect_list + array_sort + transform) exchange and its
    // extra AQE stage round-trip per Lloyd iteration. The avg() that
    // defines every coordinate still runs distributed, unchanged.
    var localC: Array[(Int, Seq[Double])] = train.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), col("v"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
      .zipWithIndex.map { case ((_, v), cid) => (cid, v) }
    for (_ <- 1 to iters) {
      val updated = assignMultiKernel(train, localC.toSeq, 1)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
        .as[(Int, Int, Double)].collect()
        .groupBy(_._1).map { case (cid, rows) =>
          cid -> rows.sortBy(_._2).map(_._3).toSeq }
      localC = localC.map { case (cid, cv) => (cid, updated.getOrElse(cid, cv)) }
    }
    localC.toSeq
  }

  /** Probe side, shared by `ann_ivf` (fresh in-memory lists) and
    * `ann_ivf_probe` (lists read back from the persisted index):
    * queries rank the broadcast centroids, keep their `ivfProbes`
    * nearest cells, and join only those cells' posting lists. */
  private def probeLists(e: DataFrame, centroids: DataFrame,
                         lists: DataFrame, cells: Int): DataFrame = {
    val qw = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("cid"))
    val probes = queriesOf(e).join(broadcast(centroids))
      .withColumn("dist", sqDist("qv", "cv"))
      .withColumn("rn", row_number().over(qw))
      .filter(col("rn") <= ivfProbes(cells))
      .select(col("q_id"), col("qv"), col("qn"), col("cid"))
    val scored = probes.join(lists, Seq("cid"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("score", round(Dedup.cosine("qv", "v", col("qn"), col("nrm")), 6))
      // IVF-A: a candidate reachable through both of its cells
      // arrives twice with a BIT-IDENTICAL score (same arithmetic
      // on the same rows) — dedup before ranking so row_number
      // counts neighbors, not arrival paths
      .select(col("q_id"), col("vec_id"), col("score"))
      .dropDuplicates("q_id", "vec_id")
    topkWindow(scored)
  }

  /** Where the FRESH build's centroids are staged for the ann_ivf
    * oracle — separate from [[CentroidStagePath]] (the persisted
    * probe's), because a fresh k-means's avg() merge order is not
    * contractually pinned across runs: the oracle must re-derive the
    * probe from the centroids of the run whose output it checks, so
    * annIvf re-stages on EVERY call (k x dim, a few ms — unlike the
    * memoized stagings this one is version-less by nature). This is
    * the same self-staging move ann_ivf_probe made in r7; it closes
    * the last rows-only driver entry (VERDICT r7 item 5). */
  val FreshCentroidStagePath: String = graft.Staged.at("ivf_fresh_centroids.parquet")

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Dedup.embeddingsWithNorm(spark, dir)
    val n = e.count()
    val cells = ivfCells(n)
    import spark.implicits._
    val local = kmeansCentroidsLocal(spark, e, cells, IvfIters, Some(n))
    val centroids = local.toDF("cid", "cv")
    // the Lloyd state is already driver-local: the staged values ARE
    // the values the plan below broadcasts, so the SQL twin reads the
    // exact doubles this run's output was computed from
    centroids.coalesce(1).write.mode("overwrite").parquet(FreshCentroidStagePath)
    // IVF-A inverted lists: one posting per (vector, top-A cell),
    // A scaled to the index size — the kernel form (centroids are
    // already bounded/local)
    val lists = assignMultiKernel(e, local, math.min(ivfAssign(cells), cells))
    probeLists(e, centroids, lists, cells)
  }

  /** The persisted form of the IVF index: the k x dim centroid table
    * as a driver-local array (bounded — the same collect budget as
    * kmeansCentroids), and the inverted lists written ONCE as a
    * cid-PARTITIONED parquet table. Partitioning by cell is the
    * point: a probe filters on the probed cids, so the scan reads
    * only the probed ~1/sqrt(cells) fraction of the corpus from
    * storage — at warehouse scale this layout IS the inverted file. */
  final case class IvfIndex(cells: Int, centroids: Seq[(Int, Seq[Double])], listsPath: String)

  /** Root directory for persisted IVF indexes. It defaults to
    * `ivf_index` under the stage dir, so a process that pins its stage
    * dir (`GRAFT_STAGE_DIR`) reuses its indexes across restarts and a
    * per-process stage dir takes its indexes with it. A DEPLOYMENT
    * should point this at the warehouse root (e.g.
    * `<warehouse>/_ivf_index/embeddings`) so the inverted file lives
    * next to the tables and manifest it indexes and participates in
    * the same retention/backup story. The layout
    * under the root is self-describing: one `ivf_v*` directory per
    * index version holding a cid-partitioned parquet table of
    * posting lists plus a `_centroids` parquet, and a
    * `_ivf_manifest` file mapping (corpus dir, corpus fingerprint)
    * to its version directory — so a FRESH process reuses a
    * still-current index instead of rebuilding, and every build
    * garbage-collects version dirs the manifest no longer
    * references (superseded versions AND crash leftovers).
    * Single-writer assumption, like warehouse compaction: run index
    * builds for one root from one scheduler slot. (ADVICE r5: the
    * r5 lifecycle was in-memory only — restarts rebuilt from
    * scratch and orphaned every prior `ivf_v*` dir.) */
  @volatile var ivfIndexRoot: String = graft.Staged.at("ivf_index")

  private val IvfManifestName = "_ivf_manifest"

  /** Cross-JVM writer lease file under the index root (see
    * [[graft.FsLease]]); underscore prefix keeps it invisible to the
    * posting-list scans and the ivf_v* GC. */
  private[graft] val IvfLockName = "_ivf_lock"

  /** Manifest lines: urlencode(corpusDir) \t fingerprint \t cells \t
    * version-dir-name. All manifest/version-dir I/O goes through the
    * Hadoop FileSystem API — ivfIndexRoot's documented deployment
    * target is the warehouse root, which may be hdfs:// or s3a://,
    * and the posting lists / GC deletes already use Hadoop. (ADVICE
    * r6: the r6 version used java.nio, local-FS-only.)
    *
    * A line that does not parse (wrong field count, non-numeric
    * cells) is SKIPPED, not thrown on: a corrupt manifest degrades
    * to a rebuild of the affected corpus, and the next write
    * replaces the manifest wholesale. (ADVICE r6 #3.) */
  private def readIvfManifest(fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path): Seq[(String, String, Int, String)] = {
    val mf = new org.apache.hadoop.fs.Path(root, IvfManifestName)
    if (!fs.exists(mf)) Seq.empty
    else {
      val in = fs.open(mf)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      body.split('\n').toSeq.filter(_.nonEmpty).flatMap { line =>
        line.split('\t') match {
          case Array(d, fp, cells, ver) if cells.forall(_.isDigit) && cells.nonEmpty =>
            Some((java.net.URLDecoder.decode(d, "UTF-8"), fp, cells.toInt, ver))
          case _ => None // unparseable → treat as absent, build path runs
        }
      }
    }
  }

  private def writeIvfManifest(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path,
                               entries: Seq[(String, String, Int, String)]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root, s"$IvfManifestName.tmp")
    val body = entries.map { case (d, fp, cells, ver) =>
      s"${java.net.URLEncoder.encode(d, "UTF-8")}\t$fp\t$cells\t$ver"
    }.mkString("", "\n", "\n")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // same-directory rename: readers see the old or the new manifest,
    // never a torn one. FileSystem.rename refuses an existing
    // destination on HDFS, so delete-then-rename under the per-root
    // lock (readers between the two calls see "no manifest" = rebuild,
    // never a torn file).
    val mf = new org.apache.hadoop.fs.Path(root, IvfManifestName)
    if (fs.exists(mf)) fs.delete(mf, false)
    if (!fs.rename(tmp, mf))
      throw new java.io.IOException(s"ivf manifest rename failed: $tmp -> $mf")
  }

  /** Serializes build/GC per index root within this JVM. The
    * [[graft.StateCache]] slot behind [[ivfIndex]] only serializes
    * builds per corpus dir, so two threads building indexes for
    * DIFFERENT corpora under the same root would otherwise interleave
    * the manifest read-modify-write — each writing a manifest missing
    * the other's entry, and the GC pass then deleting the other's
    * freshly built live version dir. Keyed by the qualified root URI
    * so `file:/x` and `/x` share a lock; under the default root every
    * corpus's build in this JVM takes the one lock. Cross-JVM writers
    * are fenced by the [[graft.FsLease]] lease file (round 8) — a
    * second driver fails loudly instead of corrupting. */
  private val ivfRootLocks =
    new scala.collection.concurrent.TrieMap[String, Object]

  /** Build centroids + posting lists and persist both under `path`. */
  private def buildIndex(spark: SparkSession, dir: String, path: String): IvfIndex = {
    import spark.implicits._
    val e = Dedup.embeddingsWithNorm(spark, dir)
    val n = e.count()
    val cells = ivfCells(n)
    val local = kmeansCentroidsLocal(spark, e, cells, IvfIters, Some(n))
    // repartition by cid before the partitioned write: every cell
    // lands in exactly one task, so the index is ONE parquet file
    // per cid instead of up-to-#tasks files — probe-time planning
    // and open cost scale with probed cells, not with build
    // parallelism.
    // Assignment via the bound-matrix kernel (round 17): the
    // join+min-struct form streams corpus × k rows carrying the
    // vector through an object-hash aggregate whose sort fallback
    // needs corpus × k × rowsize of spill at scale — today's sf100
    // rebuild DIED on disk there. The centroids are already
    // driver-local (`local`); the kernel is a projection on the scan.
    assignMultiKernel(e, local, math.min(ivfAssign(cells), cells)).repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(path)
    // centroids ride inside the version dir (underscore prefix =
    // invisible to the posting-list scan's file listing), so the
    // version dir is the complete, self-contained index
    local.toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_centroids")
    IvfIndex(cells, local, path)
  }

  /** Reuse-or-build against the persisted manifest under `root`.
    * All I/O (mkdirs, manifest, version-dir existence/listing, GC)
    * goes through the Hadoop FileSystem of the root's URI, so the
    * root can be hdfs://, s3a://, or a plain local path. The version
    * dir name is DERIVED (sha-256 of corpus dir + fingerprint, so a
    * crashed build's leftover dir is simply overwritten by the retry
    * of the same corpus version) rather than created as a random
    * temp dir, because Hadoop has no createTempDirectory and a
    * name-collision-free derivation is exactly what the fingerprint
    * already provides. */
  private def persistedIndex(spark: SparkSession, dir: String, fp0: String,
                             root: String): IvfIndex = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    // the index FORMAT participates in the version identity: a
    // manifest entry written by a different assignment policy (e.g.
    // pre-IVF-A single-assign lists) must read as absent, not as
    // reusable — otherwise a pinned stage root serves stale lists
    // whose recall contract no longer holds
    // policy tag, not a single A value: the r19 scale-adaptive
    // ladder must invalidate every fixed-A index (`|a2`), and any
    // future threshold change must invalidate ladder-built ones
    val fp = s"$fp0|aT${IvfAssignBase}_${IvfAssignCellThresholds.mkString("_")}"
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = ivfRootLocks.getOrElseUpdate(
      fs.makeQualified(rootPath).toString, new Object)
    lock.synchronized {
      fs.mkdirs(rootPath)
      val entries = readIvfManifest(fs, rootPath)

      // cross-JVM lease around the whole writer cycle (manifest
      // re-read + build + manifest write + GC): a second driver
      // building against this root now fails loudly instead of
      // GC-ing this build's live version dir (VERDICT r7 item 4).
      // The manifest is re-read INSIDE the lease — the pre-lease
      // `entries` read may predate another JVM's just-finished build,
      // and writing from the stale view would drop its entry.
      def rebuild(): IvfIndex = graft.FsLease.withLease(fs, rootPath, IvfLockName) {
        val fresh = readIvfManifest(fs, rootPath)
        val verName = "ivf_v" + java.security.MessageDigest.getInstance("SHA-256")
          .digest(s"$dir\n$fp".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(24)
        val verDir = new Path(rootPath, verName)
        val idx = buildIndex(spark, dir, verDir.toString)
        val kept = fresh.filterNot(_._1 == dir) :+ ((dir, fp, idx.cells, verName))
        writeIvfManifest(fs, rootPath, kept)
        // GC: any ivf_v* dir the manifest no longer references is a
        // superseded version or a crashed build — delete it. Runs
        // under the root lock + lease, so a concurrent build cannot
        // have an in-flight unreferenced dir here.
        val referenced = kept.map(_._4).toSet
        val listing = fs.listStatus(rootPath)
        if (listing != null) listing.foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("ivf_v") && !referenced.contains(name))
            fs.delete(st.getPath, true)
        }
        idx
      }

      entries.find(e => e._1 == dir && e._2 == fp) match {
        case Some((_, _, cells, ver))
            if fs.exists(new Path(new Path(rootPath, ver), "_centroids")) =>
          val verDir = new Path(rootPath, ver)
          // bounded collect: k x dim, the same budget as the build path
          val local = spark.read.parquet(new Path(verDir, "_centroids").toString)
            .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
          // the manifest's `cells` could drift from the centroids
          // actually on disk (hand-edited or corrupt entry); trusting
          // it would yield an index whose ivfProbes disagree with its
          // centroid table (ADVICE r6 #4) — fall through to a rebuild
          // on mismatch instead.
          if (local.nonEmpty && local.length == cells)
            IvfIndex(cells, local, verDir.toString)
          else rebuild()
        case _ => rebuild()
      }
    }
  }

  /** Build (or fetch the already-built) index for a corpus dir. The
    * cache holds only bounded centroid arrays + a path; the
    * corpus-sized lists live in the parquet index, never on the
    * driver. Build cost is paid once per corpus VERSION (the
    * embeddings table's listing: a regenerated or appended corpus
    * rebuilds instead of serving stale centroids and posting lists)
    * and amortizes across every subsequent probe batch — `ann_ivf`
    * times build+probe fused; `ann_ivf_probe` times the steady-state
    * regime. A rebuild's GC deletes the superseded version dir. */
  def ivfIndex(spark: SparkSession, dir: String): IvfIndex =
    graft.StateCache.stage(spark, ("Similarity.ivfIndex", dir),
        Seq(graft.Tables.path(dir, "embeddings"))) {
      persistedIndex(spark, dir, graft.Tables.fingerprint(spark, dir, "embeddings"), ivfIndexRoot)
    }

  /** The loaded posting-list frame of an index, held per session:
    * partition discovery + footer reads are driver-side metadata work
    * that would otherwise be re-paid on EVERY probe batch (measured
    * ~100 ms against 128 partition dirs) — exactly the steady-state
    * cost ann_ivf_probe exists to measure honestly. */
  private def ivfLists(spark: SparkSession, dir: String, idx: IvfIndex): DataFrame =
    graft.StateCache.session(spark, ("Similarity.ivfLists", dir), idx.listsPath)(
      spark.read.parquet(idx.listsPath))

  /** The kernel's exact accumulation order (VectorOps.sqDist:
    * acc += d*d left-to-right), so driver-side centroid ranking
    * breaks ties identically to the executor-side expression. */
  private def sqDistLocal(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** Steady-state IVF query: centroids from the driver-local index,
    * posting lists scanned from the partitioned parquet — the probe
    * cost a serving deployment pays per query batch, with the
    * one-time build amortized away.
    *
    * The query batch is BOUNDED (that is what makes it a query
    * batch), so it is collected and ranked against the driver-local
    * centroid table on the driver: the probed cell set then reaches
    * the posting-list scan as a LITERAL `cid IN (...)` partition
    * filter — static partition pruning at planning time, no
    * dynamic-pruning subquery, no corpus×k ranking join. Ranking
    * work is |queries| × cells distance computations on the driver —
    * the same arithmetic a serving tier's query router does. */
  /** Where the probe's centroid table is staged for the DuckDB
    * oracle (k x dim — trivially small; same stage-dir lifecycle as
    * the SDF oracle staging). The oracle re-derives the ENTIRE
    * steady-state probe from these values with its own engine (cell
    * assignment argmin, query cell ranking, candidate scoring,
    * top-k) — only the k-means build itself stays Spark-side, and
    * the probe's Spark output is computed FROM the very same staged
    * values the SQL reads, so there is no cross-engine FP-divergence
    * channel. */
  val CentroidStagePath: String = graft.Staged.at("ivf_centroids.parquet")

  // skip re-staging while the staged index version hasn't changed —
  // the write is tiny but would otherwise tax every timed probe run
  // (last-version semantics: a version change re-stages)
  private def stageCentroids(spark: SparkSession, idx: IvfIndex): Unit =
    graft.StateCache.stage(spark, "Similarity.centroids", Seq(idx.listsPath)) {
      import spark.implicits._
      idx.centroids.toDF("cid", "cv").coalesce(1)
        .write.mode("overwrite").parquet(CentroidStagePath)
    }

  def annIvfProbe(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndex(spark, dir)
    stageCentroids(spark, idx)
    ivfExactProbeOver(spark, dir, idx, ivfLists(spark, dir, idx))
  }

  /** The steady-state exact probe over ANY posting-list relation of
    * the index's shape — shared by `ann_ivf_probe` (the persisted
    * lists) and `retract_vectors` (the takedown-repaired lists). */
  private def ivfExactProbeOver(spark: SparkSession, dir: String,
                                idx: IvfIndex, listsAll: DataFrame): DataFrame = {
    import spark.implicits._
    val np = ivfProbes(idx.cells)
    // bounded collect: queries x dim, the probe batch itself. Read
    // straight off the pushdown-filtered scan (embeddingsWithNorm's
    // kernel-spreading repartition would add a 16-row shuffle stage
    // to a single-stage bounded read); the double promotion + norm
    // are the same expressions, so scores are bit-identical.
    graft.functions.GraftFunctions.register(spark)
    val qRows = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < QueryCount)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", sqrt(Dedup.dot("v", "v")))
      .as[(Long, Seq[Double], Double)].collect()
    // same ordering as probeLists' window: (dist, cid) ascending
    val probes = qRows.toSeq.flatMap { case (qid, qv, qn) =>
      idx.centroids
        .map { case (cid, cv) => (sqDistLocal(qv, cv), cid) }
        .sorted.take(np)
        .map { case (_, cid) => (qid, qv, qn, cid) }
    }
    val probedCids = probes.map(_._4).distinct.sorted
    val probesDf = probes.toDF("q_id", "qv", "qn", "cid")
    val lists = listsAll
      .filter(col("cid").isin(probedCids: _*))
    val scored = lists.join(broadcast(probesDf), Seq("cid"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("score", round(Dedup.cosine("qv", "v", col("qn"), col("nrm")), 6))
      // IVF-A dedup before ranking — see probeLists
      .select(col("q_id"), col("vec_id"), col("score"))
      .dropDuplicates("q_id", "vec_id")
    topkWindow(scored)
  }

  /** DuckDB twin of ann_ivf_probe over the staged centroids: cell
    * assignment by argmin (dist, cid) — the same tie rule as the
    * build's min(struct) — query cell ranking to np =
    * max(4, ceil(sqrt(cells))) probed cells (np derived in SQL from
    * the staged centroid count, the same ivfProbes arithmetic), and
    * the brute oracle's cosine/rank tail. Distances use the
    * kernel's exact left-to-right accumulation. */
  private def ivfProbeSqlFor(centroidPath: String,
                             candWhere: String = ""): String = {
    def distFold(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, len($a)+1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
         |      (x, y) -> x + y)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, p) -> a + p)) AS nrm
       |  FROM e
       |), c AS (
       |  SELECT cid, cv FROM read_parquet('$centroidPath/*.parquet')
       |), k AS (
       |  SELECT greatest(4, CAST(ceil(2 * sqrt(count(*))) AS INT)) AS np FROM c
       |), a AS (
       |  ${ivfAssignSqlFrom("c")}
       |), ad AS (
       |  SELECT vec_id, v, nrm, cid, ${distFold("v", "cv")} AS dist
       |  FROM n, c$candWhere
       |), lists AS (
       |  SELECT vec_id, v, nrm, cid FROM (
       |    SELECT vec_id, v, nrm, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM ad) t
       |  WHERE rn <= (SELECT na FROM a)
       |), qd AS (
       |  SELECT vec_id AS q_id, v AS qv, nrm AS qn, cid, ${distFold("v", "cv")} AS dist
       |  FROM n, c WHERE vec_id < $QueryCount
       |), probes AS (
       |  SELECT q_id, qv, qn, cid FROM (
       |    SELECT q_id, qv, qn, cid,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, cid) AS rn
       |    FROM qd) t
       |  WHERE rn <= (SELECT np FROM k)
       |), sc AS (
       |  SELECT DISTINCT p.q_id, l.vec_id,
       |    round(list_reduce(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * l.v[i]),
       |          (x, y) -> x + y) / (p.qn * l.nrm), 6) AS score
       |  FROM probes p JOIN lists l ON p.cid = l.cid AND p.q_id <> l.vec_id
       |)
       |SELECT q_id, vec_id, rank, score FROM (
       |  SELECT q_id, vec_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rank
       |  FROM sc) t
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
  }

  private lazy val annIvfProbeSql: String = ivfProbeSqlFor(CentroidStagePath)

  // ---- ann_pq: product-quantization ANN (asymmetric distance) ----

  /** Subspace count and per-subspace code count. m=8 x k'=32 packs a
    * vector into 8 x 5-bit codes — 5 bytes per vector at dim=64
    * float32 (256 bytes raw): the ~50x memory compression is the
    * entire point of PQ at warehouse scale. (Measured ladder on the
    * test corpora, top-10 recall vs exact L2: m=4/k16 0.26 —
    * 16 bits is below the useful floor for 64-dim data; m=8/k16
    * 0.67-0.73; m=8/k32 + 4 Lloyd iters + 100-candidate exact
    * re-rank 0.90 at both sf0.001 and sf0.01 — SimilaritySpec.) */
  val PqM = 8
  val PqK = 32
  val PqIters = 2

  /** ADC candidates re-ranked exactly per query — the "R" of the
    * paper's IVFADC-R variant: the coarse code ranking only has to
    * get the true neighbors into the top [[PqRerank]], not into the
    * top [[TopK]]; the exact pass then orders them correctly. At
    * warehouse scale this is the familiar fetch pattern: scan codes
    * (5 B/vector), fetch only the ~10k/k candidate FULL vectors. */
  val PqRerank = 10 * TopK

  /** Where the fresh PQ build stages its codebooks for the oracle —
    * version-less like [[FreshCentroidStagePath]]: a fresh k-means's
    * avg() merge order is not pinned across runs, so every call
    * re-stages the codebooks its own output was computed from. */
  val PqCodebookStagePath: String = graft.Staged.at("pq_codebooks.parquet")

  /** Subspace boundaries for dimension `dim`: balanced integer
    * split, subspace j covers [starts(j), starts(j+1)). Driver-side
    * constants — both engines receive them as plan literals, so no
    * cross-engine integer-division semantics are involved. */
  private[graft] def pqStarts(dim: Int): Seq[Int] =
    (0 to PqM).map(j => j * dim / PqM)

  /** Spark SQL literal for a double vector (D-suffixed terms;
    * Double.toString round-trips through the parser bit-exactly). */
  private def vecLitSql(xs: Seq[Double]): String =
    xs.map(x => s"${x}D").mkString("array(", ", ", ")")

  /** Column-level twins of the old `expr("vec_sqdist(...)")` string
    * forms (r20): the encoder builds m x k of these per plan, each
    * carrying a subdim-double literal, and generating + re-PARSING
    * those SQL strings on every plan construction was driver time
    * inside the timed region (the parse also built k x subdim
    * CreateArray nodes for the optimizer to re-fold per call).
    * Constructing the Catalyst nodes directly yields the same
    * operators over the same literal values — `typedlit` emits
    * exactly the folded ArrayType(Double) literal the parsed
    * `array(aD, bD…)` collapses to — so every emitted value is
    * unchanged; only plan-construction cost moves. */
  private def sqDistCol(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.VecSqDistExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** One literal Column per codeword list — built once per plan and
    * shared across the m x k encoder terms. */
  private def vecLit(xs: Seq[Double]): Column = typedlit(xs)

  /** All [[PqM]] subspace codebooks from ONE bounded sample collect
    * + driver-local Lloyd. Unlike IVF (whose training sample scales
    * with its sqrt(n) cell count, up to ~64*4096 x dim — Lloyd must
    * stay distributed), the PQ training set is CONSTANT:
    * IvfTrainPerCell x PqK = 2048 vectors (~1 MB at dim=64) no
    * matter the corpus — the same bounded-collect budget as the ANN
    * query batch (SURVEY §2E). Distributed Lloyd here buys nothing
    * and costs fixed job overhead per round: 8 sequential
    * kmeansCentroids measured 26 s at sf0.1, one combined
    * explode-dataflow 6-8 s, this ~0.5 s — all on identical math.
    * Determinism: hash-mod sample, vec_id processing order, argmin
    * ties to the lowest cid, empty cells keep their previous
    * centroid — the kmeansCentroids recipe, evaluated locally. */
  private def pqCodebooks(spark: SparkSession, e: DataFrame, n: Long,
                          starts: Seq[Int]): Seq[Seq[(Int, Seq[Double])]] = {
    import spark.implicits._
    val target = IvfTrainPerCell.toLong * PqK
    val sampled =
      if (n <= target) e
      else {
        val denom = 1000000L
        val keep = math.max(1L, target * denom / n)
        e.filter(pmod(expr("xxhash64(vec_id)"), lit(denom)) < keep)
      }
    val sample: Array[Seq[Double]] = sampled.select(col("vec_id"), col("v"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).map(_._2)
    require(sample.nonEmpty, "ann_pq: empty embeddings corpus — nothing to train on")
    (0 until PqM).map { j =>
      val subs = sample.map(v => v.slice(starts(j), starts(j + 1)).toArray)
      val sd = starts(j + 1) - starts(j)
      val k = math.min(PqK, subs.length)
      var cents = subs.take(k).map(_.clone)
      for (_ <- 1 to PqIters) {
        val sums = Array.fill(k)(new Array[Double](sd))
        val counts = new Array[Long](k)
        subs.foreach { s =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var i = 0
            while (i < sd) { val t = s(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c } // strict <: ties keep lowest cid
            c += 1
          }
          var i = 0
          while (i < sd) { sums(best)(i) += s(i); i += 1 }
          counts(best) += 1
        }
        cents = (0 until k).map { c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c))
        }.toArray
      }
      cents.zipWithIndex.map { case (cv, cid) => (cid, cv.toSeq) }.toSeq
    }
  }

  /** Product quantization (Jégou, Douze, Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): split each vector
    * into [[PqM]] subvectors, k-means each subspace independently to
    * [[PqK]] codewords, store each corpus vector as its m argmin
    * code ids, and answer queries by asymmetric distance — the exact
    * query against the quantized (reconstructed) corpus vector.
    * Squared L2 decomposes over the disjoint subspaces, so
    * dist(q, recon(codes)) IS the classic ADC sum of per-subspace
    * lookup distances, computed here as one native vec_sqdist fold
    * over the concatenated reconstruction (a single fixed IEEE op
    * sequence both engines replicate). The ADC ranking keeps the
    * top [[PqRerank]] candidates per query; those are re-ranked by
    * EXACT distance (the paper's IVFADC-R re-ranking step) — the
    * emitted distances are exact, the codes only gate which vectors
    * get the exact treatment.
    *
    * Scale shape: training reads a bounded hash-sample per subspace
    * (the kmeansCentroids budget — the build stops scaling with the
    * corpus); encoding is one codegen'd projection per corpus row
    * against m x k broadcast codeword literals (m x k x subdim
    * doubles — bytes, not data); the probe joins the BOUNDED query
    * batch (broadcast) against the coded corpus and windows per
    * query; the re-rank touches queries x PqRerank rows — noise. The
    * corpus never stores reconstructions — only the m small codes —
    * and the probe-side reconstruction is an m-lookup into the
    * broadcast codebook, exactly the storage/compute split a 100 TB
    * vector warehouse needs (scan 4 B/vector codes, fetch only the
    * candidates' full vectors). The oracle re-derives codes and
    * distances from this run's staged codebooks (same replica-SQL
    * pricing note as the ivf/semantic family). */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val e = Dedup.embeddingsWithNorm(spark, dir)
    val n = e.count()
    val dim = e.select(size(col("v")).as("d")).head().getInt(0)
    val starts = pqStarts(dim)
    val codebooks: Seq[Seq[(Int, Seq[Double])]] = pqCodebooks(spark, e, n, starts)
    // stage THIS build's codebooks for the SQL twin (j, cid, cv)
    codebooks.zipWithIndex
      .flatMap { case (cb, j) => cb.map { case (cid, cv) => (j, cid, cv) } }
      .toDF("j", "cid", "cv")
      .coalesce(1).write.mode("overwrite").parquet(PqCodebookStagePath)
    // encode: per subspace, argmin over the codeword literals; ties
    // break to the lowest cid (array_position returns the FIRST
    // match of the min — the SQL twin's ORDER BY (dist, cid))
    def codeExpr(j: Int): Column = {
      val sub = slice(col("v"), starts(j) + 1, starts(j + 1) - starts(j))
      val ds = array(codebooks(j).map { case (_, cv) => sqDistCol(sub, vecLit(cv)) }: _*)
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }
    val coded = e.select(col("vec_id"), col("v"),
      array((0 until PqM).map(codeExpr): _*).as("codes"))
    // probe: reconstruct from codes + broadcast codebook literal
    // (the warehouse stores only `codes`), then native-kernel ADC
    val cbLit = typedlit(codebooks.map(_.map(_._2)))
    val recon = flatten(transform(col("codes"),
      (c, j) => element_at(element_at(cbLit, j + 1), c + 1)))
    // v rides along only as the re-rank fetch (the warehouse stores
    // codes; candidates' full vectors are fetched by id)
    val scored = coded.withColumn("rv", recon)
      .join(broadcast(queriesOf(e)), col("q_id") =!= col("vec_id"))
      .withColumn("adist", round(Dedup.sqDist("qv", "rv"), 6))
    val cw = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("vec_id"))
    val candidates = scored.withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= PqRerank)
      .withColumn("dist", round(Dedup.sqDist("qv", "v"), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("vec_id"))
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"), col("dist"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB twin over the staged codebooks: per-subspace argmin
    * codes with the (dist, cid) tie rule, reconstruction by ordered
    * codebook lookup, and the same left-to-right ADC fold. The
    * subspace slice boundaries are re-derived with the same integer
    * arithmetic as [[pqStarts]] (j*dim/4 in BIGINT — both engines
    * floor non-negative division identically). */
  private lazy val annPqSql: String = {
    def distFold(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, len($a)+1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
         |      (x, y) -> x + y)""".stripMargin
    // `//` (integer floor division): DuckDB's `/` is FLOAT division
    val sub = s"list_slice(e.v, c.j * len(e.v) // $PqM + 1, (c.j + 1) * len(e.v) // $PqM)"
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), c AS (
       |  SELECT j, cid, cv FROM read_parquet('$PqCodebookStagePath/*.parquet')
       |), ad AS (
       |  SELECT e.vec_id, c.j, c.cid, ${distFold(sub, "c.cv")} AS dist
       |  FROM e, c
       |), codes AS (
       |  SELECT vec_id, j, cid FROM (
       |    SELECT vec_id, j, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
       |    FROM ad) t
       |  WHERE rn = 1
       |), recon AS (
       |  SELECT codes.vec_id, flatten(list(c.cv ORDER BY codes.j)) AS rv
       |  FROM codes JOIN c ON codes.j = c.j AND codes.cid = c.cid
       |  GROUP BY codes.vec_id
       |), sc AS (
       |  SELECT q.vec_id AS q_id, r.vec_id AS vec_id,
       |    round(${distFold("q.v", "r.rv")}, 6) AS adist
       |  FROM e q JOIN recon r ON q.vec_id < $QueryCount AND q.vec_id <> r.vec_id
       |), cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS crank
       |    FROM sc) t
       |  WHERE crank <= $PqRerank
       |), rr AS (
       |  SELECT cand.q_id, cand.vec_id,
       |    round(${distFold("q.v", "b.v")}, 6) AS dist
       |  FROM cand JOIN e q ON cand.q_id = q.vec_id
       |            JOIN e b ON cand.vec_id = b.vec_id
       |)
       |SELECT q_id, vec_id, rank, dist FROM (
       |  SELECT q_id, vec_id, dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS BIGINT) AS rank
       |  FROM rr) t
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
  }

  // ---- ann_ivf_pq: IVFADC — coarse cell pruning + PQ codes + exact re-rank ----

  /** Stage paths for the fused index's PQ artifacts, keyed (via the
    * memo below) on the IVF index version so a corpus regeneration
    * re-encodes: the codebooks (m x k x subdim doubles — tiny) and
    * the CODES table (vec_id, codes) partitioned by cid — the
    * 5-byte-per-vector column a 100 TB vector warehouse actually
    * scans. Both also feed the DuckDB twin. */
  val IvfPqCodebookStagePath: String = graft.Staged.at("ivfpq_codebooks.parquet")
  val IvfPqCodesStagePath: String = graft.Staged.at("ivfpq_codes.parquet")

  /** Directory-group count for the codes tables (r13, VERDICT item
    * 6). Partitioning by RAW cid makes ~sqrt(n) directories of one
    * tiny file each — 447 at sf10, and the cold probe paid a
    * 6.6–23 s listing/open seek storm over them. The codes tables
    * now partition by `pg = cid mod CodesPartGroups`: a FIXED
    * directory fan-out with large files, rows sorted by cid inside
    * each file. Static pruning survives in two layers — the probe
    * filters pg with literals (directory-level PartitionFilters) and
    * cid with literals (row-group pruning via the sorted files'
    * min/max stats). At 100 TB the layout holds: fan-out stays
    * constant while per-directory volume grows, exactly how a
    * warehouse sizes partitions. */
  val CodesPartGroups = 64

  /** The shared codes-table writer: group, sort by (pg, cid), write
    * one directory per group. */
  private def writeCodes(codes: DataFrame, path: String): Unit =
    codes.select(col("vec_id"), col("codes"), col("cid"))
      .withColumn("pg", pmod(col("cid"), lit(CodesPartGroups)))
      .repartition(col("pg"))
      .sortWithinPartitions(col("pg"), col("cid"))
      .write.mode("overwrite").partitionBy("pg").parquet(path)

  /** IVFADC with exact re-ranking (Jégou, Douze, Schmid 2011 — the
    * IVFADC-R layout FAISS ships as IVFPQ): the serving-tier ANN
    * this library's scale story converges on.
    *
    *  - COARSE: the persisted IVF index routes each query to its
    *    ivfProbes nearest cells — driver-side centroid ranking, and
    *    the probed cell set reaches every scan below as a literal
    *    `cid IN (...)` partition filter (static pruning, identical
    *    to ann_ivf_probe).
    *  - FINE: within probed cells the ranking scans the PQ CODES
    *    table, not the vectors — asymmetric distance against the
    *    m-lookup reconstruction (codegen'd vec_sqdist on the
    *    broadcast codebook literal). Codes are encoded ONCE per
    *    index version from the posting lists (amortized like the
    *    index build itself); the steady-state probe reads ~5 bytes
    *    per probed vector instead of 256.
    *  - EXACT: each query's top PqRerank ADC candidates fetch their
    *    full vectors from the posting lists BY ID (the partition
    *    filter bounds that scan to the probed cells) and are
    *    re-ranked by exact L2 — emitted distances are exact; the
    *    codes only gate who gets the exact treatment.
    *
    * Same replica-SQL oracle pricing note as the ivf/pq family: the
    * twin re-derives cell assignment from the staged centroids and
    * codes from the staged codebooks, so a broken probe, encoder,
    * ADC, or re-rank all fail the hash. Recall vs brute is pinned in
    * SimilaritySpec (the floor composes IVF's cell-miss rate with
    * PQ's coarse-ranking miss rate). */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val idx = ivfIndex(spark, dir)
    stageCentroids(spark, idx)
    ensureIvfPqArtifacts(spark, dir, idx)
    ivfPqProbe(spark, dir, idx, readIvfPqCodebooksCached(spark, idx.listsPath),
      spark.read.parquet(IvfPqCodesStagePath))
  }

  /** One-time (per index version) PQ build: train codebooks on the
    * bounded sample, encode the posting lists, persist both. Shared
    * by the fused entry and the append-maintenance entry. */
  private def ensureIvfPqArtifacts(spark: SparkSession, dir: String, idx: IvfIndex): Unit =
    graft.StateCache.stage(spark, "Similarity.ivfPqCodes", Seq(idx.listsPath)) {
      import spark.implicits._
      val e = Dedup.embeddingsWithNorm(spark, dir)
      val n = e.count()
      val dim = e.select(size(col("v")).as("d")).head().getInt(0)
      val starts = pqStarts(dim)
      val codebooks = pqCodebooks(spark, e, n, starts)
      codebooks.zipWithIndex
        .flatMap { case (cb, j) => cb.map { case (cid, cv) => (j, cid, cv) } }
        .toDF("j", "cid", "cv")
        .coalesce(1).write.mode("overwrite").parquet(IvfPqCodebookStagePath)
      // positional codebooks (cid == position, pqCodebooks'
      // construction) — the same shape readIvfPqCodebooks returns,
      // so the build-time and append-time encoders are one function
      val cbs = codebooks.map(_.map(_._2))
      writeCodes(ivfLists(spark, dir, idx)
        .select(col("cid"), col("vec_id"), pqCodesExpr(cbs, starts).as("codes")),
        IvfPqCodesStagePath)
    }

  /** The staged codebooks as positional (j, code) → codeword lists —
    * m x k x subdim doubles, the bounded-collect class. */
  private def readIvfPqCodebooks(spark: SparkSession): Seq[Seq[Seq[Double]]] = {
    import spark.implicits._
    graft.Tables.parquetCached(spark, IvfPqCodebookStagePath)
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toSeq }
  }

  // collected codebooks per index VERSION (idx.listsPath — the same
  // key the codes staging uses): the bytes are deterministic per
  // version, so steady-state probe runs skip the re-collect job +
  // plan. Bounded (m x k x subdim doubles), pure driver data — not a
  // DataFrame, so no session binding needed.
  private def readIvfPqCodebooksCached(spark: SparkSession, version: String): Seq[Seq[Seq[Double]]] =
    graft.StateCache("Similarity.pqCodebooks", version)(readIvfPqCodebooks(spark))

  /** The PQ encoder as one codegen'd projection over a `v` vector
    * column: per subspace, argmin over the codeword literals (ties
    * to the lowest code — array_position returns the first match of
    * the min, the SQL twin's ORDER BY (dist, code)). */
  private def pqCodesExpr(codebooks: Seq[Seq[Seq[Double]]], starts: Seq[Int]): Column = {
    def codeExpr(j: Int): Column = {
      val sub = slice(col("v"), starts(j) + 1, starts(j + 1) - starts(j))
      val ds = array(codebooks(j).map(cv => sqDistCol(sub, vecLit(cv))): _*)
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }
    array((0 until PqM).map(codeExpr): _*)
  }

  /** The steady-state IVFADC probe over a given CODES relation:
    * coarse route on the driver (same arithmetic/tie rule as
    * ann_ivf_probe), ADC over pruned codes, exact re-rank over
    * pruned lists. */
  private def ivfPqProbe(spark: SparkSession, dir: String, idx: IvfIndex,
                         cbRead: Seq[Seq[Seq[Double]]], codesIn: DataFrame): DataFrame = {
    import spark.implicits._
    val np = ivfProbes(idx.cells)
    val qRows = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < QueryCount)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .as[(Long, Seq[Double])].collect()
    val probes = qRows.toSeq.flatMap { case (qid, qv) =>
      idx.centroids
        .map { case (cid, cv) => (sqDistLocal(qv, cv), cid) }
        .sorted.take(np)
        .map { case (_, cid) => (qid, qv, cid) }
    }
    val probedCids = probes.map(_._3).distinct.sorted
    val probesDf = probes.toDF("q_id", "qv", "cid")
    val cbLit = typedlit(cbRead)
    val recon = flatten(transform(col("codes"),
      (c, j) => element_at(element_at(cbLit, j + 1), c + 1)))
    // two literal pruning layers on the codes side: pg prunes
    // directories, cid prunes row groups inside the sorted files
    // (and stays the exact row filter). A codes relation without pg
    // (a caller passing an ungrouped frame) just skips layer one.
    val probedPgs = probedCids.map(_ % CodesPartGroups).distinct
    val codes = {
      val c = codesIn.filter(col("cid").isin(probedCids: _*))
      if (codesIn.columns.contains("pg")) c.filter(col("pg").isin(probedPgs: _*)) else c
    }
    val scored = codes.withColumn("rv", recon)
      .join(broadcast(probesDf), Seq("cid"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adist", round(Dedup.sqDist("qv", "rv"), 6))
      // IVF-A: both arrival paths carry the same codes, hence a
      // bit-identical adist — dedup before the rerank-cut window so
      // a twice-reached candidate doesn't eat two PqRerank slots
      .select(col("q_id"), col("qv"), col("vec_id"), col("adist"))
      .dropDuplicates("q_id", "vec_id")
    val cw = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("vec_id"))
    val candidates = scored.withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= PqRerank)
      .select(col("q_id"), col("qv"), col("vec_id"))
    val fetch = ivfLists(spark, dir, idx)
      .filter(col("cid").isin(probedCids: _*))
      .select(col("vec_id"), col("v"))
      .dropDuplicates("vec_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("vec_id"))
    candidates.join(fetch, Seq("vec_id"))
      .withColumn("dist", round(Dedup.sqDist("qv", "v"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"), col("dist"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB twin: probe CTEs from the staged centroids (assignment
    * argmin + query cell ranking — ann_ivf_probe's recipe), codes
    * re-derived from the staged codebooks for vectors in probed
    * cells only (the (dist, cid) tie rule), ADC against the ordered
    * reconstruction, PqRerank cut, exact re-rank — every stage of
    * the Spark plan has a checked SQL twin. */
  private lazy val annIvfPqSql: String = {
    def distFold(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, len($a)+1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
         |      (x, y) -> x + y)""".stripMargin
    val sub = s"list_slice(l.v, cb.j * len(l.v) // $PqM + 1, (cb.j + 1) * len(l.v) // $PqM)"
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), c AS (
       |  SELECT cid, cv FROM read_parquet('$CentroidStagePath/*.parquet')
       |), k AS (
       |  SELECT greatest(4, CAST(ceil(2 * sqrt(count(*))) AS INT)) AS np FROM c
       |), a AS (
       |  ${ivfAssignSqlFrom("c")}
       |), ad AS (
       |  SELECT vec_id, v, cid, ${distFold("v", "cv")} AS dist
       |  FROM e, c
       |), lists AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT vec_id, v, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM ad) t
       |  WHERE rn <= (SELECT na FROM a)
       |), qd AS (
       |  SELECT vec_id AS q_id, v AS qv, cid, ${distFold("v", "cv")} AS dist
       |  FROM e, c WHERE vec_id < $QueryCount
       |), probes AS (
       |  SELECT q_id, qv, cid FROM (
       |    SELECT q_id, qv, cid,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, cid) AS rn
       |    FROM qd) t
       |  WHERE rn <= (SELECT np FROM k)
       |), pl AS (
       |  SELECT l.vec_id, l.v, l.cid FROM lists l
       |  WHERE l.cid IN (SELECT DISTINCT cid FROM probes)
       |), cbook AS (
       |  SELECT j, cid, cv FROM read_parquet('$IvfPqCodebookStagePath/*.parquet')
       |), cdist AS (
       |  SELECT l.vec_id, cb.j, cb.cid AS code, ${distFold(sub, "cb.cv")} AS dist
       |  FROM (SELECT DISTINCT vec_id, v FROM pl) l, cbook cb
       |), codes AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT vec_id, j, code,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
       |    FROM cdist) t
       |  WHERE rn = 1
       |), recon AS (
       |  SELECT codes.vec_id, pl.cid, flatten(list(cb.cv ORDER BY codes.j)) AS rv
       |  FROM codes JOIN cbook cb ON codes.j = cb.j AND codes.code = cb.cid
       |             JOIN pl ON pl.vec_id = codes.vec_id
       |  GROUP BY codes.vec_id, pl.cid
       |), sc AS (
       |  SELECT DISTINCT p.q_id, p.qv, r.vec_id,
       |    round(${distFold("p.qv", "r.rv")}, 6) AS adist
       |  FROM probes p JOIN recon r ON p.cid = r.cid AND p.q_id <> r.vec_id
       |), cand AS (
       |  SELECT q_id, qv, vec_id FROM (
       |    SELECT q_id, qv, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS crank
       |    FROM sc) t
       |  WHERE crank <= $PqRerank
       |), rr AS (
       |  SELECT cand.q_id, cand.vec_id,
       |    round(${distFold("cand.qv", "b.v")}, 6) AS dist
       |  FROM cand JOIN e b ON cand.vec_id = b.vec_id
       |)
       |SELECT q_id, vec_id, rank, dist FROM (
       |  SELECT q_id, vec_id, dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS BIGINT) AS rank
       |  FROM rr) t
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
  }

  // ---- ann_ivf_pq_append: incremental codes maintenance ----

  /** Where the BASE codes — the old corpus's (vec_id < the 90%
    * split) cid-partitioned codes table, i.e. what yesterday's build
    * would have persisted — are staged, keyed on the index version
    * like the full codes table. */
  val IvfPqCodesBasePath: String = graft.Staged.at("ivfpq_codes_base.parquet")

  // the resolved base-codes DataFrame per (session, index version) —
  // partition discovery + footer reads over the CodesPartGroups
  // directories are driver metadata work that would otherwise be
  // re-paid on EVERY append run (the same steady-state cost
  // [[ivfLists]] removes for the posting lists)
  private def ivfPqBaseCodes(spark: SparkSession, version: String): DataFrame =
    graft.StateCache.session(spark, "Similarity.ivfPqBaseCodes", version)(
      spark.read.parquet(IvfPqCodesBasePath))

  /** Encode ONLY the fresh slice against the persisted artifacts:
    * assignment by the broadcast-centroid argmin (the posting lists'
    * own tie rule), codes by the shared [[pqCodesExpr]] encoder over
    * the pushdown-filtered embeddings scan. Per-row deterministic
    * given (centroids, codebooks), so append-encoded rows are
    * IDENTICAL to what the full re-encode produces for those ids —
    * the property the append==full spec pins. */
  private[graft] def ivfPqSliceCodes(spark: SparkSession, dir: String,
                                     idx: IvfIndex, split: Long): DataFrame = {
    import spark.implicits._
    val starts = pqStarts(idx.centroids.head._2.length)
    val cbs = readIvfPqCodebooksCached(spark, idx.listsPath)
    assignMultiKernel(
        Dedup.embeddingsWithNorm(spark, dir).filter(col("vec_id") >= lit(split)),
        idx.centroids, math.min(ivfAssign(idx.cells), idx.cells))
      .select(col("cid"), col("vec_id"), pqCodesExpr(cbs, starts).as("codes"))
  }

  /** Incremental IVFPQ maintenance (VERDICT r11 item 6): the
    * append-only regime a 100 TB vector warehouse actually runs. The
    * fused entry re-encodes the WHOLE corpus whenever the index
    * version moves; here the persisted cid-partitioned codes table
    * carries the old corpus and a fresh append encodes ONLY the new
    * slice — assignment + m argmins per new vector, zero touches of
    * existing codes — before the identical IVFADC probe runs over
    * (base ∪ appended). Output is pinned equal to ann_ivf_pq (same
    * probe over append-maintained vs re-encoded codes — equality is
    * exactly the claim that append maintenance loses nothing), and
    * the oracle is the same end-to-end twin. The physical append
    * mechanics (mode("append") into the cid partitions) are
    * spec-exercised; the graded entry unions lazily so repeated runs
    * stay idempotent. */
  def annIvfPqAppend(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val idx = ivfIndex(spark, dir)
    stageCentroids(spark, idx)
    ensureIvfPqArtifacts(spark, dir, idx)
    val split = semanticSplit(Tables.embeddings(spark, dir)).getOrElse(Long.MaxValue)
    // the base table is staged once per index version — the steady
    // state READS it; only the slice is encoded per run
    graft.StateCache.stage(spark, "Similarity.ivfPqBase", Seq(idx.listsPath)) {
      writeCodes(spark.read.parquet(IvfPqCodesStagePath)
        .filter(col("vec_id") < lit(split)), IvfPqCodesBasePath)
    }
    val codes = ivfPqBaseCodes(spark, idx.listsPath)
      .select(col("vec_id"), col("codes"), col("cid"), col("pg"))
      .unionByName(ivfPqSliceCodes(spark, dir, idx, split)
        .select(col("vec_id"), col("codes"), col("cid"))
        .withColumn("pg", pmod(col("cid"), lit(CodesPartGroups))))
    ivfPqProbe(spark, dir, idx, readIvfPqCodebooksCached(spark, idx.listsPath), codes)
  }

  // ---- dedup_semantic: SemDeDup-style clustered embedding dedup ----
  /** Same cosine cut as the brute dedup_embedding baseline, so the
    * two entries answer the same question at two scale points. */
  val SemanticThreshold: Double = Dedup.CosineThreshold

  /** Cells each vector is assigned to. Single assignment (the
    * SemDeDup paper's form) measured 0.20-0.22 recall against the
    * brute pair set on the test corpora — sqrt(n) k-means cells
    * subdivide the natural embedding clusters, so most near-dup
    * pairs straddle a boundary. Multi-assignment to the 4 nearest
    * cells (pairs compared when they SHARE any cell) measured
    * 0.97/0.98 recall at sf0.001/sf0.01 for 4x the per-vector
    * replication — the same overlap move IVF probing and LSH
    * multi-probe already make. */
  val SemanticAssign = 4

  /** Top-P cell assignment WITHOUT a corpus x k shuffle: P chained
    * min-struct aggregations, each excluding the already-chosen
    * cells — the generalization of [[assign]]'s partial-aggregated
    * argmin. Shuffle volume is P x corpus rows (each round's groupBy
    * is map-side combined); the corpus x k distance compute is paid
    * P times, the irreducible price of P-way assignment. (The
    * tempting window-over-(vec, cell) form shuffles corpus x k rows
    * — 4096x corpus at the cell cap — which is exactly the
    * non-plan [[assign]]'s docs rule out.) */
  private[graft] def assignMulti(e: DataFrame, centroids: DataFrame, p: Int): DataFrame = {
    var cur = e.select(col("vec_id"), col("v"), col("nrm"),
      array().cast("array<int>").as("cids"))
    for (_ <- 1 to p) {
      cur = cur.join(broadcast(centroids))
        .filter(!array_contains(col("cids"), col("cid")))
        .withColumn("dc", struct(sqDist("v", "cv").as("dist"), col("cid").as("cid")))
        .groupBy(col("vec_id"))
        .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
          first(col("cids")).as("cids"), min(col("dc")).as("m"))
        .select(col("vec_id"), col("v"), col("nrm"),
          array_append(col("cids"), col("m.cid")).as("cids"))
    }
    cur.select(col("vec_id"), col("v"), col("nrm"), explode(col("cids")).as("cid"))
  }

  /** KERNEL form of [[assignMulti]] (round 17 — the second half of
    * the sf100 semantic fix): the chained form streams corpus × k
    * rows CARRYING THE 520 B VECTOR through an object-hash aggregate
    * per round — 4 × 2.8 B such rows at sf100, whose sort-based
    * fallback died with SPILL_OUT_OF_MEMORY at 32 g. The centroid
    * matrix is driver-local anyway (idx.centroids — the bounded
    * collect the IVF family already budgets), so the top-P cells are
    * ONE in-row loop over the bound matrix
    * ([[graft.functions.TopCellsExpr]], the PpjoinPrefixExpr
    * bound-object pattern): no corpus × k rows, no aggregation, no
    * shuffle — a projection on the scan. Identical (dist, cid) tie
    * rule, nearest-first order — spec-pinned equal to the chained
    * form row-for-row. */
  private[graft] def assignMultiKernel(e: DataFrame, cents: Seq[(Int, Seq[Double])],
                                       p: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cids = cents.map(_._1).toArray
    val mat = cents.map(_._2.toArray).toArray
    val cells = ColumnBridge.column(graft.functions.TopCellsExpr(
      ColumnBridge.expression(col("v")), cids, mat, math.min(p, cents.size)))
    e.select(col("vec_id"), col("v"), col("nrm"), explode(cells).as("cid"))
  }

  /** The SCALE PATH for embedding near-dup detection, after SemDeDup
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the corpus
    * with the persisted IVF index's k-means centroids, then compare
    * pairs only within a shared cell. dedup_embedding is the
    * documented brute all-pairs baseline (O(n²), the verification
    * oracle for ANN); this entry is what a 100 TB pipeline actually
    * runs — with cells ~ sqrt(n) and P-way assignment, pair work
    * totals ~P²·n^1.5 and each cell's quadratic is bounded, while
    * the bucket self-join shuffles on cid (no corpus-wide cross
    * pairs ever materialized). Candidate ids are deduped BEFORE the
    * exact cosine (the LSH pipeline's shape); the miss set
    * (near-dups sharing no cell) is the SemDeDup trade —
    * SimilaritySpec pins containment-in-brute (every emitted pair is
    * exact) and the measured recall floor. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    dedupSemanticPairs(spark, dir, bRestrict = None)

  /** Fresh-crawl form (round 9, VERDICT r8 item 4): near-dup pairs
    * that TOUCH the new slice (vec_id >= the 90% split — the same
    * fixed-fraction convention as Dedup.incrementalSplit), against
    * the whole corpus through the SAME persisted IVF centroids. The
    * b-side assignment pipeline runs over ONLY the new slice — its
    * embeddings scan is pushdown-filtered to the split (pinned by
    * PlanAuditSpec) — so the nightly cost is P×new assignment plus
    * the shared-cell join of new×corpus-within-cells, never a
    * corpus×corpus sweep. Because per-row assignment is independent
    * (a chained argmin over broadcast centroids), the emitted pairs
    * EQUAL the full sweep's pairs restricted to vec_b in the slice
    * (spec-pinned), exactly as dedup_incremental relates to
    * dedup_ngram_jaccard. (The corpus a-side re-derives its own
    * multi-assignment here; a production deployment would persist
    * the multi-assignments next to the index's single-assignment
    * posting lists and pay only the new-slice compute.) */
  def dedupSemanticIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = Dedup.embeddingsWithNorm(spark, dir)
    val restrict = semanticSplit(e)
      .map(split => col("vec_id") >= lit(split))
      .getOrElse(lit(false))
    dedupSemanticPairs(spark, dir, bRestrict = Some(restrict))
  }

  /** The b-side slice split: vec_id >= max(vec_id)*9/10 — integer
    * arithmetic so both engines cut identically; None on an empty
    * corpus (no slice, no pairs). One bounded one-row collect. */
  private[graft] def semanticSplit(e: DataFrame): Option[Long] = {
    val row = e.agg(max(col("vec_id"))).head
    if (row.isNullAt(0)) None else Some(row.getLong(0) * 9 / 10)
  }

  /** Where the corpus-side P-way cell MULTI-ASSIGNMENT — (vec_id, v,
    * nrm, cid), one row per assigned cell — is persisted, keyed on
    * the index version (idx.listsPath encodes the corpus
    * fingerprint) plus the assignment width. This is the
    * "multi-assignments persisted next to the index's
    * single-assignment posting lists" the round-9 docs promised: the
    * steady-state incremental sweep READS the corpus side instead of
    * re-running the P chained argmin rounds over the whole corpus
    * every night — the nightly cost drops to P x slice assignment
    * plus the shared-cell join. Deterministic (chained argmin over
    * the same broadcast centroids; doubles round-trip parquet
    * losslessly), so persisted and live assignments are identical —
    * the incremental==restricted-full spec pins it. */
  val SemanticMultiStagePath: String = graft.Staged.at("semantic_multi.parquet")

  private def persistedMulti(spark: SparkSession, e: DataFrame,
                             idx: IvfIndex, p: Int): DataFrame = {
    graft.StateCache.stage(spark, "Similarity.multi", Seq(idx.listsPath), p) {
      assignMultiKernel(e, idx.centroids, p)
        .write.mode("overwrite").parquet(SemanticMultiStagePath)
    }
    graft.Tables.parquetCached(spark, SemanticMultiStagePath)
  }

  private def dedupSemanticPairs(spark: SparkSession, dir: String,
                                 bRestrict: Option[Column]): DataFrame =
    dedupSemanticPairsImpl(spark, dir, bRestrict, grouped = bRestrict.isEmpty)

  /** `grouped = false` forces the pre-r17 bucket-JOIN enumeration —
    * the spec's reference for the grouped kernel's equality pin. The
    * incremental sweep keeps the join form regardless: its b side is
    * slice-sized, so candidate volume is slice×cell, not Σ cell². */
  private[graft] def dedupSemanticPairsImpl(spark: SparkSession, dir: String,
                                            bRestrict: Option[Column],
                                            grouped: Boolean): DataFrame = {
    val idx = ivfIndex(spark, dir)
    stageCentroids(spark, idx)
    val e = Dedup.embeddingsWithNorm(spark, dir)
    // cap with the REAL centroid count, not the requested cell count:
    // kmeansCentroids seeds from train.limit(k), so a degenerate corpus
    // (< SemanticAssign embeddings) yields fewer centroids than
    // idx.cells — the kernel caps its keep-count the same way so the
    // DuckDB twin's least(P, count(c)) still agrees
    val p = math.min(SemanticAssign, idx.centroids.size)
    // the full sweep times the fused pipeline (both sides from ONE
    // live multi relation, shared stages); the incremental sweep is
    // the steady-state regime — corpus side read from the persisted
    // multi-assignment, slice side assigned live. Assignment is the
    // in-row top-P kernel over the bound centroid matrix
    // ([[assignMultiKernel]]) — the chained aggregate form died at
    // sf100 (see its doc).
    val multi = bRestrict.fold(assignMultiKernel(e, idx.centroids, p))(_ =>
      persistedMulti(spark, e, idx, p))
    // the incremental b side assigns ONLY the slice — the filter sits
    // below the assignment pipeline and pushes to the b-side scan;
    // per-row independence makes this equal to filtering `multi`
    val multiB = bRestrict.fold(multi)(r => assignMultiKernel(e.filter(r), idx.centroids, p))
    // Vectors ride THROUGH the bucket join so the exact cosine +
    // threshold run INSIDE the joined stream (codegen-pipelined, no
    // materialization of the candidate pair set): the only shuffles
    // are the two cid exchanges of the P x corpus multi relation,
    // and the near-dup threshold is selective enough that the
    // dedup-across-shared-cells DISTINCT sees survivors, not
    // candidates. (The first cut deduped candidate IDs before
    // scoring, LSH-style — right when scoring dominates, but here
    // the 64-dim kernel dot is cheaper than exchanging the
    // candidate set: pair-id distinct + two joins-back measured
    // 21.9 s at sf1 vs 369 s DuckDB brute; this form drops the
    // entry to ~1.6 s. Duplicated candidates pay a redundant dot,
    // bit-identical, collapsed by the final distinct.)
    require(!grouped || bRestrict.isEmpty,
      "grouped enumeration implements the full sweep only — the incremental slice keeps the join form")
    if (grouped) {
      // GROUPED pair enumeration (round 17 — the sf100 lesson): the
      // within-cell self-join carried two 520-byte vectors through
      // every candidate row — ~2×10¹⁰ rows at 2M vectors × 4-way
      // assignment — and the SMJ sort died with SPILL_OUT_OF_MEMORY
      // at 32 g. Each cell now collects into one array row (~cell ×
      // 520 B, low MBs) and a native loop
      // ([[graft.functions.PairKernels.cellPairs]]) emits only
      // threshold-passing pairs: candidates are loop iterations,
      // never rows, and the distinct sees the near-dup-sized
      // survivor set. Arithmetic is bit-identical to the join form
      // (same dot/divide/round ops) — spec-pinned equal.
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val members = multi.groupBy(col("cid"))
        .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("ms"))
      val pairs = ColumnBridge.column(graft.functions.CellPairsExpr(
        ColumnBridge.expression(col("ms")), SemanticThreshold))
      members.select(explode(pairs).as("p"))
        .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
          col("p.cosine").as("cosine"))
        .distinct()
        .orderBy(col("vec_a"), col("vec_b"))
    } else {
      val a = multi.select(col("cid"), col("vec_id").as("vec_a"),
        col("v").as("va"), col("nrm").as("na"))
      val b = multiB.select(col("cid"), col("vec_id").as("vec_b"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("cid"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos", Dedup.cosine("va", "vb", col("na"), col("nb")))
        .filter(col("cos") >= SemanticThreshold)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
        .distinct()
        .orderBy(col("vec_a"), col("vec_b"))
    }
  }

  /** DuckDB twin over the staged centroids: top-P cell assignment
    * (rank by the probe oracle's (dist, cid) rule — the chained
    * min-excluding aggregation picks exactly the P smallest), shared-
    * cell candidate pairs deduped, then the brute oracle's cosine —
    * the whole clustered-dedup pipeline re-derived cross-engine from
    * the same staged doubles the Spark plan used. */
  private lazy val dedupSemanticSql: String = semanticSqlWith("")

  /** The incremental twin: the identical re-derivation with the same
    * b-side slice restriction the Spark plan pushes to its scan —
    * integer-division split, so both engines cut the same row. */
  private lazy val dedupSemanticIncrementalSql: String = semanticSqlWith(
    "\n      AND b.vec_id >= (SELECT MAX(vec_id) * 9 // 10 FROM embeddings)")

  private def semanticSqlWith(bPredicate: String): String = {
    def distFold(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, len($a)+1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
         |      (x, y) -> x + y)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, p) -> a + p)) AS nrm
       |  FROM e
       |), c AS (
       |  SELECT cid, cv FROM read_parquet('$CentroidStagePath/*.parquet')
       |), k AS (
       |  SELECT least($SemanticAssign, count(*)) AS np FROM c
       |), ad AS (
       |  SELECT vec_id, cid, ${distFold("v", "cv")} AS dist
       |  FROM n, c
       |), multi AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM ad) t
       |  WHERE rn <= (SELECT np FROM k)
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM multi a JOIN multi b ON a.cid = b.cid AND a.vec_id < b.vec_id$bPredicate
       |)
       |SELECT vec_a, vec_b,
       |  round(list_reduce(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i]),
       |        (p, q) -> p + q) / (x.nrm * y.nrm), 6) AS cosine
       |FROM cand JOIN n x ON vec_a = x.vec_id JOIN n y ON vec_b = y.vec_id
       |WHERE list_reduce(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i]),
       |      (p, q) -> p + q) / (x.nrm * y.nrm) >= $SemanticThreshold
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** The fused fresh-build's oracle: the identical steady-state-probe
    * re-derivation, but over the centroids THIS run's build staged —
    * so the k-means itself stays Spark-side (its avg() merge order
    * is not pinned across runs) while everything downstream of the
    * centroids (cell assignment, query cell ranking, candidate
    * scoring, top-k) is hash-verified cross-engine. */
  private lazy val annIvfSql: String = ivfProbeSqlFor(FreshCentroidStagePath)

  /** DuckDB twin of ann_recall, composed from the three already-
    * exact oracles (brute, LSH, IVF-probe) as parenthesized
    * subqueries — the same overlap counts and the same double
    * division, so the gate's numbers are hash-verified too. */
  private lazy val annRecallSql: String =
    s"""WITH brute AS (
       |  SELECT q_id, vec_id FROM ($annTopkBruteSql) t
       |), lshp AS (
       |  SELECT q_id, vec_id FROM ($annTopkLshSql) t
       |), ivfp AS (
       |  SELECT q_id, vec_id FROM ($annIvfProbeSql) t
       |), tot AS (SELECT count(*) AS total FROM brute),
       |m_ivf AS (SELECT count(*) AS matched FROM ivfp JOIN brute USING (q_id, vec_id)),
       |m_lsh AS (SELECT count(*) AS matched FROM lshp JOIN brute USING (q_id, vec_id))
       |SELECT method, matched, total, recall FROM (
       |  SELECT 'ivf' AS method, m.matched, t.total,
       |    CAST(m.matched AS DOUBLE) / t.total AS recall FROM m_ivf m, tot t
       |  UNION ALL
       |  SELECT 'lsh' AS method, m.matched, t.total,
       |    CAST(m.matched AS DOUBLE) / t.total AS recall FROM m_lsh m, tot t) u
       |ORDER BY method""".stripMargin

  // ---- ann_recall: the driver-visible quality gate ----
  // The LSH/IVF oracles verify their entries' outputs bit-exactly
  // but always contain k results per query, whatever their QUALITY —
  // a recall regression (worse candidates, same machinery) would
  // sail through green. This entry measures recall against the brute
  // oracle and THROWS below the floor, so a quality drop turns the
  // CORRECTNESS row into an err instead of a silent pass.
  //
  // Floors are measured-minus-margin, not aspirational: both methods
  // measure ~0.89 at sf0.01 AND sf0.1 (SimilaritySpec pins the two
  // SFs), so 0.80 trips on any change that costs ~a tenth of the
  // quality, while leaving headroom for the ±0.03-0.05 recall
  // wobble that reshuffled candidate sets show across corpus
  // regenerations. (Round 4 shipped 0.6/0.7 — slack enough that a
  // third of the quality could vanish silently; VERDICT r4 item 3.)
  val RecallFloorLsh = 0.80
  val RecallFloorIvf = 0.80
  // PQ measures 0.90 at sf0.001 AND sf0.01 (SimilaritySpec pins
  // both) — same measured-minus-margin rule as the lsh/ivf floors.
  val RecallFloorPq = 0.80
  // IVFADC composes IVF's cell-miss rate with PQ's coarse-ranking
  // miss rate, so its floor sits below either component's
  // (measured-minus-margin; SimilaritySpec pins two SFs).
  val RecallFloorIvfPq = 0.70

  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // tiny (queries x k) frame consumed by both overlap joins —
    // materialize once, broadcast-friendly
    val brute = annTopkBrute(spark, dir)
      .select(col("q_id"), col("vec_id")).localCheckpoint(true)
    val total = brute.count()
    // an empty brute result would make every recall 0/0 = NaN, and
    // NaN < floor is false — the gate would pass green on a dead
    // pipeline. Fail the entry outright instead.
    require(total > 0, "ann_recall: brute-force oracle returned no rows — ANN pipeline is not functional")
    def leg(method: String, approx: DataFrame, floor: Double): (String, Long, Long, Double) = {
      val matched = approx.select(col("q_id"), col("vec_id"))
        .join(brute, Seq("q_id", "vec_id"), "left_semi").count()
      val recall = matched.toDouble / total
      if (recall < floor) throw new IllegalStateException(
        f"ann_recall: $method recall $recall%.3f fell below the $floor floor " +
          f"($matched of $total brute top-k pairs recovered)")
      (method, matched, total, recall)
    }
    // The two legs are INDEPENDENT given the checkpointed brute frame
    // (separate plans, separate counts) and the entry's wall time was
    // the serial sum of two multi-job pipelines — overlap them from
    // driver threads so each leg's straggler tail back-fills the
    // other's idle cores (guide §2.6). Results are order-pinned by
    // construction (fixed Seq order, then the presentation sort), and
    // a floor violation in either leg still fails the entry.
    // annIvfProbe's index staging is memo-guarded (StateCache) and
    // annTopkLsh is a pure lazy plan, so the two threads share no
    // mutable state. A DEDICATED 2-thread pool, not the
    // global ForkJoinPool (ADVICE r20): both worker threads are
    // created during the submit calls ON THIS THREAD, so the
    // SparkSession/SQLConf InheritableThreadLocals are guaranteed to
    // flow (the global pool spawns workers lazily from arbitrary
    // parents); setActiveSession makes it explicit. Both legs run
    // under one job group, and a failed first leg makes a best-effort
    // cancel of the sibling's jobs and awaits it before rethrowing, so
    // a sibling the cancel reaches cannot overlap the next harness
    // entry's timing.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Success, Try}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val group = s"ann_recall_legs_${System.nanoTime()}"
    def spawn(method: String, approx: => DataFrame, floor: Double) = Future {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      spark.sparkContext.setJobGroup(group, s"ann_recall $method leg", interruptOnCancel = true)
      try leg(method, approx, floor)
      finally spark.sparkContext.clearJobGroup()
    }
    try {
      val ivfLeg = spawn("ivf", annIvfProbe(spark, dir), RecallFloorIvf)
      val lshLeg = spawn("lsh", annTopkLsh(spark, dir), RecallFloorLsh)
      val first = Try(Await.result(ivfLeg, Duration.Inf))
      // best-effort cancel, then await
      if (first.isFailure) spark.sparkContext.cancelJobGroup(group)
      val second = Try(Await.result(lshLeg, Duration.Inf))
      (first, second) match {
        case (Success(a), Success(b)) =>
          Seq(a, b).toDF("method", "matched", "total", "recall").orderBy(col("method"))
        case _ =>
          throw first.failed.getOrElse(second.failed.get)
      }
    } finally pool.shutdown()
  }

  // ---- retract_vectors: takedown through the vector warehouse ----

  /** Takedown-repaired copies of the two vec-keyed persisted
    * artifacts (the [[graft.operators.Retract]] family's vector
    * half). The INDEX VERSION itself — centroids and PQ codebooks —
    * is a TRAINED artifact like the BPE merges table and stays;
    * what must repair is the per-vector state: the cid-partitioned
    * posting lists and the pg-partitioned PQ codes. Assignment and
    * encoding are per-row deterministic, so the exact repair is
    * delete-only — and because both tables are PARTITIONED, the
    * rewrite is PARTITION-SCOPED: only directories that actually
    * contain a retracted vector rewrite (dynamic partition
    * overwrite); untouched cells keep their original files
    * byte-for-byte (spec-pinned via file listings). At 100 TB that
    * is the difference between a takedown costing a corpus rewrite
    * and costing a few posting lists. */
  val RetractedListsPath: String = graft.Staged.at("retract_ivf_lists.parquet")
  val RetractedCodesPath: String = graft.Staged.at("retract_ivfpq_codes.parquet")

  private def copyDir(spark: SparkSession, from: String, to: String): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(from)
    val dst = new Path(to)
    val fs = src.getFileSystem(conf)
    fs.delete(dst, true)
    FileUtil.copy(fs, src, fs, dst, false, conf)
  }

  /** Rewrite ONLY the partitions of `table` (partitioned on
    * `partCol`) that contain a retracted vec_id, in place at `path`
    * (a copy of the source table): dynamic partition overwrite for
    * partitions with survivors, explicit directory delete for
    * partitions whose every row was retracted (dynamic overwrite
    * cannot emit an empty partition). Returns the affected partition
    * values (bounded by the partition fan-out). */
  private def repairPartitioned(spark: SparkSession, table: DataFrame,
                                retv: DataFrame, partCol: String,
                                path: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val hit = table.join(broadcast(retv), Seq("vec_id"))
      .groupBy(col(partCol)).agg(count(lit(1)).as("n_ret"))
    val survivors = table.join(broadcast(retv), Seq("vec_id"), "left_anti")
      .groupBy(col(partCol)).agg(count(lit(1)).as("n_kept"))
    // bounded collect: one row per AFFECTED partition (<= fan-out)
    val affected = hit.join(survivors, Seq(partCol), "left")
      .select(col(partCol).cast("long"),
        coalesce(col("n_kept"), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (emptied, rewritten) = affected.partition(_._2 == 0L)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (rewritten.nonEmpty) {
      val vals = rewritten.map(_._1)
      // dynamic overwrite scoped to THIS write via the writer option
      // (not the session conf — a concurrent overwrite in the same
      // session must not silently inherit dynamic semantics)
      table
        .filter(col(partCol).cast("long").isin(vals: _*))
        .join(broadcast(retv), Seq("vec_id"), "left_anti")
        .repartition(col(partCol))
        .sortWithinPartitions(col(partCol), col("vec_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path)
    }
    emptied.foreach { case (v, _) =>
      fs.delete(new Path(path, s"$partCol=$v"), true)
    }
    affected.map(_._1).toSeq
  }

  /** Stage (once per index version) the repaired posting lists and
    * PQ codes for `dir`'s takedown set, with a count gate proving
    * the repair equals delete-only semantics before anything reads
    * it. The source tables here are oracle-stage COPIES; a real
    * warehouse runs the same dynamic overwrite against the table in
    * place. */
  private def repairVectorState(spark: SparkSession, dir: String, idx: IvfIndex): Unit =
    graft.StateCache.stage(spark, "Similarity.vecRetract", Seq(idx.listsPath)) {
      ensureIvfPqArtifacts(spark, dir, idx)
      val retv = Tables.embeddings(spark, dir)
        .filter(Retract.takedownPredOn(col("vec_id"))).select(col("vec_id"))
      copyDir(spark, idx.listsPath, RetractedListsPath)
      // the copy carries the source's _centroids sidecar; the
      // repaired LISTS dir must stay scan-clean (underscore dirs are
      // invisible to scans, so this is hygiene, not correctness)
      val lists = spark.read.parquet(idx.listsPath)
      repairPartitioned(spark, lists, retv, "cid", RetractedListsPath)
      copyDir(spark, IvfPqCodesStagePath, RetractedCodesPath)
      val codes = spark.read.parquet(IvfPqCodesStagePath)
      repairPartitioned(spark, codes, retv, "pg", RetractedCodesPath)
      // gates: exact delete-only row counts, checked at repair time
      // so a broken empty-partition path can never serve a probe
      val nLists = lists.count()
      val nCodes = codes.count()
      val nRetL = lists.join(broadcast(retv), Seq("vec_id")).count()
      val nRetC = codes.join(broadcast(retv), Seq("vec_id")).count()
      val gotL = spark.read.parquet(RetractedListsPath).count()
      val gotC = spark.read.parquet(RetractedCodesPath).count()
      require(gotL == nLists - nRetL,
        s"retract_vectors: repaired lists hold $gotL rows, want ${nLists - nRetL}")
      require(gotC == nCodes - nRetC,
        s"retract_vectors: repaired codes hold $gotC rows, want ${nCodes - nRetC}")
    }

  /** The vector warehouse's takedown entry: the steady-state exact
    * IVF probe served from the REPAIRED posting lists — retracted
    * vectors can no longer be returned by any query, under the SAME
    * index version (centroids unchanged; queries are probe INPUTS
    * and may be any vector, retracted or not — the takedown governs
    * what the warehouse can serve, not what a caller may ask).
    * Oracle: the ann_ivf_probe replica SQL with the takedown filter
    * on the CANDIDATE side — full-recompute-minus-the-set. The PQ
    * codes repair is spec-pinned (row equality + partition-scoped
    * file-listing proof) rather than driver-priced: the ADC oracle
    * already carries the replica-SQL fairness note and adds no new
    * failure channel beyond the lists'. */
  def retractVectors(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndex(spark, dir)
    stageCentroids(spark, idx)
    repairVectorState(spark, dir, idx)
    ivfExactProbeOver(spark, dir, idx, spark.read.parquet(RetractedListsPath))
  }

  private lazy val retractVectorsSql: String = ivfProbeSqlFor(CentroidStagePath,
    s"\n  WHERE NOT (${Retract.takedownPredSqlOn("vec_id")})")

  /** Test hooks for the partition-scoped claims. */
  private[graft] def retractRepairedPaths(spark: SparkSession, dir: String): (String, String) = {
    val idx = ivfIndex(spark, dir)
    repairVectorState(spark, dir, idx)
    (idx.listsPath, IvfPqCodesStagePath)
  }

  /** Registered via [[Retract.queries]] so the retraction family
    * lists as one unit. */
  private[operators] def retractQueries: Seq[GraftQuery] = Seq(
    GraftQuery("retract_vectors", Some(retractVectorsSql), retractVectors))

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("ann_topk_brute", Some(annTopkBruteSql), annTopkBrute),
    GraftQuery("ann_topk_lsh", Some(annTopkLshSql), annTopkLsh),
    // ann_ivf self-stages each build's centroids (see
    // FreshCentroidStagePath), so the fused fresh-build path is
    // hash-verified too — the r7 rows-only choice existed only
    // because the oracle would otherwise bet on last-ulp equality of
    // TWO independent k-means builds; staging the checked run's own
    // centroids removes that channel entirely.
    GraftQuery("ann_ivf", Some(annIvfSql), annIvf),
    GraftQuery("ann_ivf_probe", Some(annIvfProbeSql), annIvfProbe),
    GraftQuery("ann_pq", Some(annPqSql), annPq),
    GraftQuery("ann_ivf_pq", Some(annIvfPqSql), annIvfPq),
    GraftQuery("ann_ivf_pq_append", Some(annIvfPqSql), annIvfPqAppend),
    GraftQuery("ann_recall", Some(annRecallSql), annRecall),
    GraftQuery("dedup_semantic", Some(dedupSemanticSql), dedupSemantic),
    GraftQuery("dedup_semantic_incremental", Some(dedupSemanticIncrementalSql),
      dedupSemanticIncremental))
}
