package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits (SURVEY.md §2E): the 100 TB properties the
  * small-SF correctness runs can't see. Each assertion pins a plan
  * shape that must survive a 100x scale-up — filters reaching the
  * parquet scan, pruned read schemas, no broadcast of linearly
  * scaling tables, partial aggregation, top-k without a global sort.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Pre-AQE physical plan — static broadcasts (hints) are visible
    * here; AQE's runtime re-plans are not, which is the point: only
    * bounded dims may be STATICALLY broadcast. */
  private def staticPlan(df: DataFrame): String =
    df.queryExecution.sparkPlan.toString

  test("q6: filters are pushed to the parquet scan and the schema is pruned") {
    val plan = formatted(operators.Relational.q6Filter(spark, dir))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") || plan.contains("IsNotNull(l_shipdate"),
      s"no shipdate pushdown:\n$plan")
    // projection pruning: the 16-column lineitem scan must read only
    // the 4 referenced columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_shipdate") && readSchema.contains("l_discount"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      s"unpruned scan: $readSchema")
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val plan = formatted(operators.Relational.q1Agg(spark, dir))
    assert(plan.contains("partial_sum") || plan.contains("Partial"), plan)
  }

  /** Build a plan as if every table were too big to auto-broadcast —
    * the 100 TB situation. Only explicit broadcast() hints survive. */
  private def planAtScale(df: => DataFrame): String = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try staticPlan(df) finally spark.conf.set(key, old)
  }

  test("q5 at scale: only the hinted bounded dims (nation, region) broadcast") {
    val plan = planAtScale(operators.Relational.q5MultiJoin(spark, dir))
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts == 2, s"expected exactly the 2 hinted broadcasts, got $broadcasts:\n$plan")
    // customer/supplier/orders joins fall back to shuffle joins
    assert(plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) >= 3,
      s"linear-table joins are not shuffle joins at scale:\n$plan")
  }

  test("q3 at scale: no broadcast at all (customer scales linearly)") {
    val plan = planAtScale(operators.Relational.q3JoinAgg(spark, dir))
    assert(!plan.contains("BroadcastHashJoin"),
      s"q3 broadcasts a linearly-scaling table at scale:\n$plan")
  }

  test("q_topk compiles to TakeOrderedAndProject (no global sort)") {
    val plan = staticPlan(operators.Relational.qTopk(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_semi_anti scans customer and orders once each") {
    val plan = formatted(operators.Relational.qSemiAnti(spark, dir))
    assert("customer\\.parquet".r.findAllIn(plan).size <= 1, s"customer scanned twice:\n$plan")
    assert("orders\\.parquet".r.findAllIn(plan).size <= 1, s"orders scanned twice:\n$plan")
  }

  test("text ops are selection-only plans (no shuffle before the presentation sort)") {
    val plan = staticPlan(operators.TextOps.textQuality(spark, dir))
    // a single Exchange for the final orderBy is fine; aggregation/join
    // shuffles are not
    assert(!plan.contains("SortMergeJoin") && !plan.contains("HashAggregate"), plan)
  }

  test("lsh signature projection is fully codegen'd (no interpreted lambdas)") {
    val e = operators.Dedup.embeddingsWithNorm(spark, dir)
    val plan = operators.Similarity.lshSignature(e).queryExecution.executedPlan.toString
    // the round-2 aggregate(zip_with(...)) form ran nbits x dim
    // interpreted lambda calls per corpus row
    assert(!plan.contains("aggregate(") && !plan.contains("zip_with"),
      s"signature projection still uses higher-order functions:\n$plan")
    assert(plan.contains("vec_lsh_sign"), plan)
  }

  test("tfidf aggregations are partial (map-side combined) and the documents scan is pruned") {
    val plan = formatted(operators.Curation.tfidfTopTerms(spark, dir))
    assert(plan.contains("partial_count") || plan.contains("Partial"), plan)
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("lang") && !readSchemas.contains("source"),
      s"unpruned documents scan: $readSchemas")
  }

  test("sample_stratified: window input bounded by the quantile pre-cut, counts join broadcast-only") {
    val plan = planAtScale(operators.Curation.sampleStratified(spark, dir))
    // the r9 pre-cut needs the per-stratum counts joined back — that
    // join must be the broadcast of a bounded agg, never a corpus
    // shuffle join
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"counts join shuffles the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    // the stratum window's input is the pre-cut filtered stream: the
    // 32-bit md5-prefix threshold must appear as a Filter below it —
    // the output<<input corpus sort this audit used to tolerate is gone
    assert(plan.contains("conv(substring(md5"),
      s"quantile pre-cut filter missing below the stratum window:\n$plan")
    // two windows: the corpus stratum window + the undercut guard
    // over the quota-sized result
    assert(plan.linesIterator.count(_.contains("Window [")) == 2, plan)
  }

  test("dedup and ANN operators leave no executor storage behind (no persists at all)") {
    // round 5 removed the per-call persist + unpersist pattern
    // entirely — the shared relations are exchange-reused stages
    // with no storage footprint, so a long session sweeping many
    // corpora cannot accumulate executor storage (ADVICE r3/r4)
    spark.catalog.clearCache()
    val dir = "/root/testdata/sf0.001"
    operators.Dedup.dedupNgramJaccard(spark, dir).count()
    operators.Dedup.dedupMinhashLsh(spark, dir).count()
    operators.Similarity.annTopkLsh(spark, dir).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "an operator left a persisted relation in the cache manager")
  }

  test("near-dup pipelines execute the shingle kernel once: the post-kernel exchange is reused") {
    // the multi-consumer shingle relation is shared through ONE
    // hash(doc_id) exchange ABOVE the kernel; if consumer branches
    // stop canonicalizing to it (pruning divergence, inferred-filter
    // divergence — both round-5 regressions), every branch re-runs
    // the corpus-wide kernel
    // audited on the grid INPUT plan (the r13 merge runs behind a
    // LogicalRDD barrier; this is the single query the merge's
    // toRdd executes, where reuse must fire)
    val df = operators.Dedup.dedupNgramJaccardPairs(
      spark, "/root/testdata/sf0.001", gridInputOnly = true)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val kernels = "graft_hash_shingles".r.findAllIn(plan).size
    assert(plan.contains("ReusedExchange"), s"no exchange reuse in final plan:\n$plan")
    assert(kernels <= 1, s"shingle kernel appears $kernels times in the final plan:\n$plan")
  }

  test("no inferred filter drags a kernel below its spreading exchange into the scan stage") {
    // InferFiltersFromGenerate/Constraints substitute expensive
    // kernel expressions into inferred predicates and sink them to
    // the (often single-task) pre-shuffle scan — excluded /
    // nullability-proofed in round 5; this pins the property
    // the dedup sweeps are audited on the grid's INPUT plan — the
    // r13 InternalRow merge hides the upstream scans behind a
    // LogicalRDD barrier in the final frame's executedPlan
    for ((name, df) <- Seq(
        "dedup_ngram_jaccard" ->
          operators.Dedup.dedupNgramJaccardPairs(spark, dir, gridInputOnly = true),
        "dedup_minhash_lsh" ->
          operators.Dedup.dedupMinhashLsh(spark, dir, gridInputOnly = true),
        "tfidf_top_terms" -> operators.Curation.tfidfTopTerms(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      val scanFilters = plan.linesIterator.filter(_.contains("DataFilters:")).mkString("\n")
      assert(!scanFilters.contains("graft_"),
        s"$name pushes a graft kernel into the scan stage:\n$scanFilters")
    }
  }

  test("lsh candidate join carries the length prefilter (round 12)") {
    // the provably-safe n_min >= t*n_max cut must sit IN the banded
    // join condition (pruning before any shingle array ships to the
    // verify grid), for both the full and the incremental form — a
    // dropped carry column or filter silently re-admits every
    // mismatched-length band collision at scale
    for ((name, df) <- Seq(
        "dedup_minhash_lsh" ->
          operators.Dedup.dedupMinhashLsh(spark, dir, gridInputOnly = true),
        "dedup_minhash_incremental" ->
          operators.Dedup.dedupMinhashLshIncremental(spark, dir, gridInputOnly = true))) {
      val joins = df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Join") && l.contains("bh")).mkString("\n")
      assert(joins.contains("greatest") && joins.contains("least"),
        s"$name banded join lost the length prefilter:\n$joins")
    }
  }

  test("ivf probe prunes the posting-list scan statically — no DPP subquery, no ranking join") {
    val dir = "/root/testdata/sf0.001"
    val df = operators.Similarity.annIvfProbe(spark, dir)
    val plan = formatted(df)
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"probe scan not partition-pruned:\n$plan")
    assert(!plan.contains("dynamicpruning"),
      s"probe still pays a dynamic-pruning subquery:\n$plan")
  }

  test("ivf-pq probe prunes BOTH pruned scans (codes and fetch) statically") {
    val dir = "/root/testdata/sf0.001"
    val df = operators.Similarity.annIvfPq(spark, dir)
    val plan = formatted(df)
    // two statically-pruned scans feed the probe: the ADC codes scan
    // (pg-grouped since r13 — literal pg IN (...) partition filter,
    // plus the cid IN predicate pushed into the sorted files for
    // row-group pruning) and the exact-re-rank vector fetch (still
    // cid-partitioned, literal cid IN (...))
    val prunedPg = "PartitionFilters: \\[pg".r.findAllIn(plan).size
    val prunedCid = "PartitionFilters: \\[cid".r.findAllIn(plan).size
    assert(prunedPg >= 1, s"codes scan lost its pg partition filter:\n$plan")
    assert(prunedCid >= 1, s"fetch scan lost its cid partition filter:\n$plan")
    assert(plan.contains("PushedFilters: [In(cid"),
      s"codes scan lost the pushed cid row-group predicate:\n$plan")
    assert(!plan.contains("dynamicpruning"),
      s"ivf-pq probe still pays a dynamic-pruning subquery:\n$plan")
  }

  test("ivf cell assignment aggregates its argmin — no corpus x k window sort") {
    val e = operators.Dedup.embeddingsWithNorm(spark, "/root/testdata/sf0.001")
    val cents = operators.Similarity.kmeansCentroids(spark, e, 4, 1)
    val plan = operators.Similarity.assignCells(e, cents).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"assign plans a window:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial_first"),
      s"assign argmin is not partially aggregated:\n$plan")
  }

  test("text_repetition aggregates partially and prunes the documents scan") {
    val plan = formatted(operators.TextOps.textRepetition(spark, dir))
    assert(plan.contains("partial_count") || plan.contains("Partial"), plan)
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("lang") && !readSchemas.contains("source"),
      s"unpruned documents scan: $readSchemas")
  }

  test("text_unigram_lm tokenizes the corpus once, shares per-doc via exchange reuse") {
    val df = operators.TextOps.textUnigramLm(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the per-doc relation's repartition is the share point between
    // the corpus-moment aggregate and the output projection — its
    // exchange must be reused, and the corpus-wide explode must
    // appear ONCE in the final plan (the naive vocabulary-pass form
    // tokenized the corpus three times)
    assert(plan.contains("ReusedExchange"),
      s"per-doc exchange not reused between moments and projection:\n$plan")
    val explodes = "Generate explode".r.findAllIn(plan).size
    assert(explodes <= 1, s"corpus tokenized $explodes times in the final plan:\n$plan")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("lang") && !readSchemas.contains("source"),
      s"unpruned documents scan: $readSchemas")
  }

  test("ann_pq: one corpus pass, encode below the broadcast query join, no cartesian") {
    val sp = operators.Similarity.annPq(spark, dir).queryExecution.sparkPlan
    val plan = sp.toString
    assert(!plan.contains("CartesianProduct"),
      s"pq probe degenerates to a cartesian product:\n$plan")
    // the non-equi (q_id != vec_id) join must broadcast the BOUNDED
    // query batch, never a corpus side
    val bnlj = plan.indexOf("BroadcastNestedLoopJoin")
    assert(bnlj >= 0, s"query join is not a broadcast join:\n$plan")
    // the m x k argmin encode is per-CORPUS-row work: it must sit
    // below the join (sparkPlan prints children after parents), not
    // be re-evaluated per (query, vector) pair above it
    val encode = plan.indexOf("vec_sqdist(slice")
    assert(encode > bnlj,
      s"pq encode floated above the query join (re-encoded per query):\n$plan")
  }

  test("dedup_semantic at scale: grouped cell kernel, assignment is a projection — no candidate join at all") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val sp = operators.Similarity.dedupSemantic(spark, dir).queryExecution.sparkPlan
      val plan = sp.toString
      // round 17: candidates are loop iterations inside the grouped
      // cell kernel — the corpus pair path has NO join of any kind
      // (the cid-keyed join form OOM'd at sf100 carrying vectors
      // through ~2e10 candidate rows)
      assert(!plan.contains("CartesianProduct"),
        s"semantic dedup degenerates to a cartesian product at scale:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"),
        s"the grouped kernel path must not plan a join:\n$plan")
      assert(plan.contains("graft_cell_pairs"),
        s"pair enumeration is not the grouped cell kernel:\n$plan")
      assert(plan.linesIterator.exists(l =>
        l.contains("ObjectHashAggregate") && l.contains("collect_list")),
        s"cell members are not gathered by the grouped aggregate:\n$plan")
      // top-P assignment must be the bound-matrix kernel — neither a
      // corpus x k window nor the chained object-aggregate rounds
      // (whose sort fallback died at sf100)
      assert(plan.contains("graft_top_cells"),
        s"assignment is not the bound-matrix kernel:\n$plan")
      assert(!plan.contains("Window"), s"multi-assignment plans a window:\n$plan")
    } finally spark.conf.set(key, old)
  }

  test("dedup_semantic_incremental: b-side assignment reads only the slice, scale shape intact") {
    val df = operators.Similarity.dedupSemanticIncremental(spark, dir)
    val plan = formatted(df)
    // the b-side pipeline's embeddings scan must carry the slice
    // restriction as a PUSHED filter — the nightly cost is P x new,
    // not a second P x corpus assignment
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(vec_id")),
      s"slice restriction not pushed to the b-side embeddings scan:\n$plan")
    // and the full entry's at-scale guarantees carry over: cid-keyed
    // pair join, no cartesian, no corpus x k window
    val atScale = planAtScale(operators.Similarity.dedupSemanticIncremental(spark, dir))
    assert(!atScale.contains("CartesianProduct"), atScale)
    assert(atScale.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) && l.contains("cid")),
      s"pair join is not a cid-keyed shuffle join:\n$atScale")
    assert(!atScale.contains("Window"), s"multi-assignment plans a window:\n$atScale")
  }

  test("dedup_minhash_incremental: slice restriction is pushed to the b-side documents scan") {
    // grid INPUT plan — the final frame's executedPlan stops at the
    // r13 merge's LogicalRDD barrier
    val plan = formatted(
      operators.Dedup.dedupMinhashLshIncremental(spark, dir, gridInputOnly = true))
    // the b branch is a SEPARATE filtered scan — the fresh crawl is
    // sketched alone, so its restriction must reach parquet as a
    // pushed doc_id predicate (the a side keeps the full pipeline)
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(doc_id")),
      s"slice restriction not pushed to the b-side documents scan:\n$plan")
    // candidate generation stays a banded equi-join at scale — no
    // cartesian anywhere in the incremental plan
    val atScale = planAtScale(
      operators.Dedup.dedupMinhashLshIncremental(spark, dir, gridInputOnly = true))
    assert(!atScale.contains("CartesianProduct"), atScale)
    assert(!atScale.contains("BroadcastNestedLoopJoin"), atScale)
  }

  test("decontaminate_fuzzy: broadcast bench, sketch-only corpus side, zero corpus-side exchange") {
    val plan = formatted(
      operators.Dedup.decontaminateFuzzy(spark, dir, gridInputOnly = true))
    // bench side (bounded) is the STATIC broadcast build of the band
    // join; corpus side reads the persisted sketch table, never the
    // documents text
    assert(plan.contains("BroadcastExchange"),
      s"bench bands must broadcast:\n$plan")
    assert(plan.contains("minhash_sketch"),
      s"corpus side must read the persisted sketch table:\n$plan")
    // only the bench slice touches the documents parquet — with the
    // slice restriction pushed to that scan
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(doc_id")),
      s"bench slice restriction not pushed to the documents scan:\n$plan")
    // the corpus side must reach the broadcast join WITHOUT any
    // shuffle: the only Exchanges in the candidate subtree are the
    // bench broadcast and the grid's own cell bucketing
    val exchanges = "Exchange \\(\\d+\\)".r.findAllIn(plan).length
    val broadcasts = "BroadcastExchange".r.findAllIn(plan).length
    assert(exchanges - broadcasts <= 2,
      s"corpus-side shuffle crept in (got ${exchanges - broadcasts} non-broadcast exchanges, " +
        s"expected <= 2 = bench-sketch spread + grid cell bucketing):\n$plan")
    val atScale = planAtScale(
      operators.Dedup.decontaminateFuzzy(spark, dir, gridInputOnly = true))
    assert(!atScale.contains("CartesianProduct"), atScale)
    assert(!atScale.contains("BroadcastNestedLoopJoin"), atScale)
  }

  test("shard_shuffle: one shard-ix window exchange plus presentation sort, pruned scan") {
    val plan = formatted(operators.Pack.shardShuffle(spark, dir))
    val exchanges = "Exchange \\(\\d+\\)".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"shard placement must shuffle once on shard_ix plus the presentation range, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), "placement is scan -> window, no join")
    // the token-measure kernel must sit BELOW the window exchange
    // (the sampling-replay argument for skipping the Present
    // boundary depends on it)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("lang"),
      s"unpruned documents scan: $readSchema")
  }

  test("shard_shuffle_incremental: kernel only over the pushed slice scan, measures from parquet") {
    val plan = formatted(operators.Pack.shardShuffleIncremental(spark, dir))
    // fresh slice: restriction pushed to the one documents scan
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(doc_id")),
      s"slice restriction not pushed to the documents scan:\n$plan")
    // old docs: persisted measure table, never the documents text
    assert(plan.contains("shard_measure"),
      s"old-doc measures must come from the persisted table:\n$plan")
    assert("graft_text_stats|GraftTextStats".r.findAllIn(plan).size <= 2,
      s"the token kernel must run only on the fresh slice branch:\n$plan")
  }

  test("dedup_simhash_incremental: slice pushed to the b-side scan, a side reads persisted sigs") {
    val plan = formatted(operators.Dedup.dedupSimhashIncremental(spark, dir))
    // b side tokenizes ONLY the fresh slice: the restriction must
    // reach the documents parquet as a pushed doc_id predicate
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(doc_id")),
      s"slice restriction not pushed to the b-side documents scan:\n$plan")
    // a side reads the persisted signature table, not the corpus
    assert(plan.contains("simhash_sigs"),
      s"a side does not read the persisted signature table:\n$plan")
    val atScale = planAtScale(operators.Dedup.dedupSimhashIncremental(spark, dir))
    assert(!atScale.contains("CartesianProduct"), atScale)
    assert(!atScale.contains("BroadcastNestedLoopJoin"), atScale)
  }

  test("minhash signature kernel stays below the band explode (one eval per doc, not per band)") {
    val plan = formatted(operators.Dedup.dedupMinhashLsh(spark, dir, gridInputOnly = true))
    // the per-row kernel must be evaluated in a projection BENEATH
    // the 16-way band Generate: collapsed above it, every doc pays
    // 16 kernel evaluations and the allocation churn that entails
    val sigLines = plan.linesIterator.filter(_.contains("graft_minhash_sig")).toSeq
    assert(sigLines.nonEmpty, s"kernel absent from the plan:\n$plan")
    assert(!sigLines.exists(_.contains("band")),
      s"signature kernel collapsed into a per-band projection:\n${sigLines.mkString("\n")}")
  }

  test("sample_mixture at scale: quota join is the broadcast of a bounded agg, one corpus window") {
    val plan = planAtScale(operators.Curation.sampleMixture(spark, dir))
    // the corpus side must never shuffle-join: quotas (one row per
    // stratum) and the scalar S broadcast explicitly; the only
    // corpus-wide exchange is the stratum window's
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"mixture quota join shuffles the corpus:\n$plan")
    // three windows since r9: the corpus stratum window (its input
    // bounded by the quantile pre-cut — assert the threshold filter
    // is present), the largest-remainder rank over the K-row quota
    // frame, and the undercut guard over the quota-sized result
    assert(plan.contains("conv(substring(md5"),
      s"quantile pre-cut filter missing below the stratum window:\n$plan")
    assert(plan.linesIterator.count(_.contains("Window [")) == 3,
      s"expected stratum + quota-rank + guard windows:\n$plan")
  }

  test("sample_importance at scale: bounded count tables broadcast, top-k without a corpus sort") {
    val plan = planAtScale(operators.Curation.sampleImportance(spark, dir))
    // the ≤B-row bucket count tables and the 1-row totals must be
    // the ONLY join build sides; the corpus feature stream never
    // shuffle-joins
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"importance scoring shuffles the corpus into a join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"totals join degenerated to a cartesian product:\n$plan")
    // selection is top-k (per-partition keep-k + driver merge), not
    // a corpus-wide sort; the rank window runs over the k survivors
    assert(plan.contains("TakeOrderedAndProject"),
      s"importance selection sorts the corpus:\n$plan")
    assert(plan.linesIterator.count(_.contains("Window [")) == 1,
      s"expected exactly the k-row rank window:\n$plan")
  }

  test("documents scan for dedup_exact prunes to the text column") {
    val plan = formatted(operators.Dedup.dedupExact(spark, dir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unpruned documents scan: $readSchema")
  }

  test("dedup_substring: pushed length predicate, partial aggregates, pruned scan, no join") {
    val plan = formatted(operators.Dedup.dedupSubstring(spark, dir))
    // the n_chars >= K cut must reach the parquet scan
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(n_chars"),
      s"n_chars predicate not pushed:\n${plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
    // window aggregate map-side combined before its exchange
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      "window aggregate is not partial (no map-side combine)")
    // the complement form has NO join anywhere — the round-12 lesson
    // (the wh join-back re-shipped the per-doc window relation, and
    // its outer-join replacement benched a Catalyst-pruned plan)
    assert(!plan.contains("Join"), "substring profile must stay join-free")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unpruned documents scan: $readSchema")
  }

  test("dedup_substring_clean: window kernel runs once (windowed total, no wh join-back)") {
    val df = operators.Dedup.dedupSubstringClean(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the totals-aggregate + wh-join formulation measurably exploded
    // the corpus twice; the count-over-wh window keeps one consumer
    val kernels = "graft_window_hashes".r.findAllIn(plan).size
    assert(kernels == 1, s"window kernel appears $kernels times:\n$plan")
    // the only join left is the per-doc position-array attach
    assert(!plan.contains("SortMergeJoin [wh") && !plan.contains("BroadcastHashJoin [wh"),
      s"positions still join back on wh:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(n_chars"),
      "n_chars predicate not pushed to the documents scan")
  }

  test("dedup_substring_clean_incremental: slice predicate and total-cut pushed to both scans") {
    val plan = formatted(operators.Dedup.dedupSubstringCleanIncremental(spark, dir))
    // the slice restriction must reach the documents parquet scan
    assert(plan.contains("GreaterThanOrEqual(doc_id"),
      s"slice predicate not pushed to the documents scan:\n${plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
    // the duplicated-window cut must reach the persisted totals scan
    assert(plan.contains("GreaterThanOrEqual(total,2"),
      "total >= 2 not pushed into the persisted window-total table scan")
    // kernel once: the strip stage reuses the one slice explode
    val kernels = "graft_window_hashes".r.findAllIn(plan).size
    assert(kernels == 1, s"window kernel appears $kernels times:\n$plan")
  }

  test("pack_sequences: one bucket window exchange, partial agg over the span explode, pruned scan") {
    val plan = formatted(operators.Pack.packSequences(spark, dir))
    // exactly two exchanges: the bucket-key window shuffle and the
    // presentation range sort — the span aggregate must NOT add a
    // third (its grouping key extends the window partitioning only
    // when the planner fails to combine; pin the count so a
    // regression to three shuffles of the span relation is loud)
    val exchanges = "Exchange \\(\\d+\\)".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 exchanges (window + presentation sort), got $exchanges:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      "span aggregate is not map-side combined")
    assert(!plan.contains("Join"), "packing arithmetic must stay join-free")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"unpruned documents scan: $readSchema")
  }

  test("split_leakage_free: doc side reads doc_id only — labels carry the text cost") {
    val plan = formatted(operators.Curation.splitLeakageFree(spark, dir))
    // the documents scan must prune to doc_id: cluster labels come
    // from the staged pair list, never from re-reading text here
    val scanBlocks = plan.split("\\(\\d+\\) Scan parquet ").toSeq.tail
    val docScans = scanBlocks.filter(_.contains("documents.parquet"))
    assert(docScans.nonEmpty)
    docScans.foreach { b =>
      val rs = b.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(rs.contains("doc_id") && !rs.contains("text"),
        s"split's documents scan is not pruned to doc_id: $rs")
    }
  }

  test("tfidf_incremental: tokenization only over the pushed fresh slice, counts from parquet") {
    val plan = formatted(operators.Curation.tfidfIncremental(spark, dir))
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(doc_id")),
      s"slice restriction not pushed to the documents scan:\n$plan")
    assert(plan.contains("tfidf_tf"),
      s"old-doc counts must come from the persisted table:\n$plan")
    // EVERY text-reading documents scan carries the pushed slice
    // predicate — tokenization never touches old docs' text. (The
    // tf subtree prints twice in the static plan — df agg + score
    // join — and collapses to one execution via AQE exchange reuse,
    // same as the full entry; so pin the predicate on each scan
    // rather than the scan count.)
    val scanBlocks = plan.split("\\(\\d+\\) Scan parquet ").toSeq.tail
    val textScans = scanBlocks.filter(b =>
      b.linesIterator.exists(l => l.contains("ReadSchema") && l.contains("text")))
    assert(textScans.nonEmpty)
    textScans.foreach { b =>
      assert(b.contains("GreaterThanOrEqual(doc_id"),
        s"a text scan without the slice predicate (old text being tokenized?):\n$b")
    }
  }

  test("shard_shuffle_bpe: same two-exchange layout plan with the BPE kernel below the window") {
    val plan = formatted(operators.Pack.shardShuffleBpe(spark, dir))
    val exchanges = "Exchange \\(\\d+\\)".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"BPE layout must keep shard_shuffle's shape (window + presentation), got $exchanges:\n$plan")
    assert(!plan.contains("Join"), "placement is scan -> window, no join")
    assert("graft_bpe_token_count|BpeTokenCount".r.findAllIn(plan).size <= 1,
      s"the BPE kernel must run once, below the window exchange:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("lang"),
      s"unpruned documents scan: $readSchema")
  }

  test("text_pii_redact: pure projection — boundary + presentation exchanges only, pruned scan") {
    val plan = formatted(operators.TextOps.textPiiRedact(spark, dir))
    val exchanges = "Exchange \\(\\d+\\)".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"redaction must only shuffle to present (boundary + sort), got $exchanges:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      "redaction is a pure projection")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"unpruned documents scan: $readSchema")
  }

  test("docs_chunk: only presentation exchanges, one codegen span") {
    val plan = formatted(operators.Pack.docsChunk(spark, dir))
    // two exchanges since r13: the materialization boundary (hash)
    // that pins the explode+md5 pass to ONE execution, then the
    // presentation sort's range exchange — a bare sort's bound
    // sampling re-ran the whole projection (graft.Present)
    val exchanges = "Exchange \\(\\d+\\)".r.findAllIn(plan).length
    assert(exchanges == 2, s"chunking must only shuffle to present (boundary + sort), got $exchanges:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"), "chunking is a pure projection")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"unpruned documents scan: $readSchema")
  }

  test("q_band_join: candidate-free kernel plan — one bucket shuffle, no join, no nested loop") {
    val plan = formatted(operators.Relational.qBandJoin(spark, dir))
    // a non-equi band predicate alone plans as
    // BroadcastNestedLoopJoin (O(n²) compares, driver-sized
    // broadcast — fatal at 100 TB); the kernel path must not
    // contain ANY join — candidates never exist as rows
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"band join degenerated to a nested loop:\n$plan")
    assert(plan.contains("MapPartitions"),
      s"band kernel path absent (no MapPartitions):\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("BroadcastHashJoin"),
      s"kernel path still contains a join — candidate rows exist:\n$plan")
    // the join FORM remains the dense-data fallback: it must keep
    // planning as an equi join, never a nested loop
    val fb = formatted(operators.Relational.qBandJoinJoinForm(spark, dir))
    assert(!fb.contains("BroadcastNestedLoopJoin") && !fb.contains("CartesianProduct"),
      s"fallback band join degenerated to a nested loop:\n$fb")
    assert(fb.contains("SortMergeJoin") || fb.contains("ShuffledHashJoin") ||
      fb.contains("BroadcastHashJoin"), s"no equi join in the fallback:\n$fb")
    // the ±eps predicate must filter pairs INSIDE the join (join
    // condition), not in a post-join filter over the 3x candidates
    assert(fb.contains("Join") && fb.toLowerCase.contains("abs"),
      s"band predicate not attached to the fallback join:\n$fb")
  }

  test("q_skew_join: the fact side salts before the join (no unsalted hot-key shuffle)") {
    val plan = staticPlan(operators.Relational.qSkewJoin(spark, dir))
    // the join key must be (l_returnflag, __salt) — a plain
    // l_returnflag-only shuffle join puts 1/3 of the fact table on
    // one reducer at any scale
    assert(plan.contains("__salt"), s"salt column absent from the static plan:\n$plan")
  }

  test("retract_docs: repaired state from parquet, only the fresh slice's text scan survives") {
    val plan = formatted(operators.Retract.retractDocs(spark, dir))
    // the repaired term counts arrive as a parquet scan of the
    // retract_* state table — not a re-tokenization of old text
    assert(plan.contains("retract_tfidf_tf"),
      s"retract_docs does not read the repaired term-count state:\n$plan")
    // the only text-bearing documents scan is the fresh slice's,
    // carrying the pushed split predicate (the md5 takedown half is
    // not stats-pushable; the range half is)
    val docScans = plan.linesIterator.filter(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(doc_id")).toSeq
    assert(docScans.nonEmpty,
      s"fresh-slice scan without a pushed split predicate:\n$plan")
  }

  test("retract_substring_profile: repaired window totals from parquet, slice-only kernel") {
    val plan = formatted(operators.Retract.retractSubstringProfile(spark, dir))
    assert(plan.contains("retract_substring_windows"),
      s"profile does not read the repaired window-total state:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(doc_id")),
      s"slice restriction not pushed to the documents scan:\n$plan")
  }

  test("retract_clusters: label propagation sees pair-graph relations only (no text, no corpus scan)") {
    // Final-plan half: connectedComponents returns its labels as a
    // local relation (or, past the driver bound, a checkpoint), so
    // the lineage of its edges is gone from the final plan and the
    // staged inputs are audited on the edge plan below; here we pin
    // only what survives — the full-label scan and the absence of
    // any text-bearing read.
    val plan = formatted(operators.Retract.retractClusters(spark, dir))
    assert(!plan.contains("ReadSchema: struct<doc_id:bigint,text"),
      s"retract_clusters reads document text:\n$plan")
    assert(plan.contains("cluster_labels_full"),
      s"expected the staged full labels as an input:\n$plan")

    // Edge half: the edge relation handed to the closure
    // must derive from the staged pair list + full labels + a
    // doc_id-pruned documents scan — never document text. This is
    // the pair-graph-only property at the lineage point where it is
    // structurally visible.
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val ret = docs.filter(operators.Retract.takedownPred).select(col("doc_id"))
    val parts = operators.Retract.touchedRelabel(
      operators.Retract.FullClusterLabels.table(spark, dir),
      operators.Dedup.ClusterSignal.table(spark, dir), ret)
    val edgePlan = formatted(parts.touchedEdges)
    assert(edgePlan.contains("cluster_signal_pairs") && edgePlan.contains("cluster_labels_full"),
      s"closure input does not derive from the staged pair signal + full labels:\n$edgePlan")
    assert(!edgePlan.contains("ReadSchema: struct<doc_id:bigint,text"),
      s"closure input reads document text:\n$edgePlan")
  }
}
