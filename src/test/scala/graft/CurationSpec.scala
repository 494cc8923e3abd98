package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  import operators.Curation

  test("connected components: chains, cliques, and singleton-free output") {
    import spark.implicits._
    // two components: a 5-chain (propagation must cross 4 hops) and
    // a triangle; vertex 100 is isolated (no edges → not emitted)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("a", "b")
    val labels = Curation.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("pointer jumping resolves a 200-vertex chain inside the round cap") {
    import spark.implicits._
    // plain min-label propagation needs diameter-1 = 199 rounds — far
    // past the cap of 20 rounds; the jump (lab(v) := lab(lab(v)))
    // halves distance-to-root per round, so ~log2(200) rounds
    // suffice. This pins the doubling behavior, not just the answer,
    // so the chain is forced onto the distributed loop (bound -1).
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Curation.connectedComponents(chain, -1L)
    assert(!onDriver(out))
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 200)
    assert(labels.values.forall(_ == 0L), "chain must resolve to the single min root")
  }

  /** Whether a components frame came from the driver route (a local
    * relation) rather than the loop (a checkpoint). */
  private def onDriver(labels: DataFrame): Boolean = labels.queryExecution.logical
    .collectFirst { case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l }.nonEmpty

  private def edgeFrame(edges: Seq[(Long, Long)], nullable: Boolean): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(edges.map { case (a, b) => Row(a, b) }.asJava, StructType(Seq(
      StructField("a", LongType, nullable), StructField("b", LongType, nullable))))
  }

  private def labelSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  /** Edge lists of disjoint components (chains up to 200, stars,
    * cliques, self-loops, random graphs) under shuffled ids, some
    * negative, with duplicated and reversed edges mixed in; zero
    * components is the empty list. A chain's ids ascend or descend
    * along it: on a long chain in shuffled id order the loop does not
    * converge within its 20-round cap, and the loop is the reference
    * here (the driver route's answer on such a chain is pinned by its
    * own test below). */
  private val edgeLists: Gen[(Seq[(Long, Long)], Boolean)] = {
    // (edges over local vertex ids, whether ids follow vertex order)
    val shape: Gen[(Seq[(Int, Int)], Boolean)] = Gen.oneOf(
      Gen.chooseNum(1, 200).map(n => ((0 until n).map(i => (i, i + 1)), true)),
      Gen.chooseNum(1, 30).map(n => ((1 to n).map(i => (0, i)), false)),
      Gen.chooseNum(2, 8).map(n => (for (i <- 0 until n; j <- i + 1 until n) yield (i, j), false)),
      Gen.const((Seq((0, 0)), false)),
      Gen.chooseNum(2, 40).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, n), Gen.chooseNum(0, n))).map(e => (e, false))))
    for {
      comps <- Gen.chooseNum(0, 4).flatMap(Gen.listOfN(_, shape))
      seed <- Gen.long
      nullable <- Gen.oneOf(true, false)
    } yield {
      val rnd = new scala.util.Random(seed)
      val pool = rnd.shuffle((-1000L to 1000L).toVector)
      var used = 0
      val edges = comps.flatMap { case (c, ordered) =>
        val local = c.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val drawn = pool.slice(used, used + local.size)
        val ids = if (!ordered) drawn
          else if (rnd.nextBoolean()) drawn.sorted else drawn.sorted.reverse
        used += local.size
        val id = local.zip(ids).toMap
        c.map { case (x, y) => (id(x), id(y)) }
      }
      val extra = edges.filter(_ => rnd.nextInt(4) == 0)
        .map(e => if (rnd.nextBoolean()) e else e.swap)
      (rnd.shuffle(edges ++ extra), nullable)
    }
  }

  test("the driver route equals the distributed loop on generated edge lists") {
    PropertySpec.forAllSampled(edgeLists, trials = 24) { case (edges, nullable) =>
      val df = edgeFrame(edges, nullable)
      val driver = Curation.connectedComponents(df)
      val loop = Curation.connectedComponents(df, -1L)
      assert(onDriver(driver) && !onDriver(loop))
      assert(driver.schema == loop.schema)
      assert(labelSet(driver) == labelSet(loop), s"edges $edges")
    }
    val empty = edgeFrame(Nil, nullable = true)
    assert(Curation.connectedComponents(empty).collect().isEmpty)
    assert(Curation.connectedComponents(empty, -1L).collect().isEmpty)
  }

  test("the driver bound: exactly bound edges on the driver, one more on the loop") {
    val bound = 40
    val chain = (0L to bound.toLong).map(i => (i * 3 + 7, i * 3 + 10))
    val atBound = Curation.connectedComponents(edgeFrame(chain.take(bound), false), bound)
    val past = Curation.connectedComponents(edgeFrame(chain, false), bound)
    assert(onDriver(atBound) && !onDriver(past))
    assert(labelSet(atBound) == chain.take(bound).flatMap(e => Seq(e._1, e._2)).map(_ -> 7L).toSet)
    assert(labelSet(past) == chain.flatMap(e => Seq(e._1, e._2)).map(_ -> 7L).toSet)
    // a null vertex id fails loudly on either route
    val withNull = spark.createDataFrame(java.util.List.of(Row(1L, 2L), Row(2L, null)),
      StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
    Seq(bound.toLong, -1L).foreach { b =>
      intercept[IllegalArgumentException](Curation.connectedComponents(withNull, b))
    }
  }

  test("the driver route resolves a 200-vertex chain in shuffled id order") {
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((1L to 200L).toVector)
    val chain = ids.zip(ids.tail)
    val out = Curation.connectedComponents(edgeFrame(chain, nullable = false))
    assert(onDriver(out))
    assert(labelSet(out) == ids.map(_ -> 1L).toSet)
  }

  test("dedup_clusters resolves its components on the driver in at most 2 jobs") {
    Curation.dedupClusters(spark, dir) // stages the pair signal and its schema memo
    val (labels, jobs) = LookupSpec.jobsOf(spark)(Curation.dedupClusters(spark, dir))
    assert(jobs <= 2, s"$jobs jobs to resolve components")
    assert(onDriver(labels))
  }

  test("dedup_clusters: every near-dup pair lands in one cluster rooted at its min doc") {
    val pairs = operators.Dedup.dedupNgramJaccard(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val roots = Curation.dedupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty && roots.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(roots(a) == roots(b), s"pair ($a,$b) split across clusters")
      assert(roots(a) <= a && roots(a) <= b, s"root ${roots(a)} not the min of its cluster")
    }
    // roots are themselves members labeled with themselves
    roots.values.foreach(r => assert(roots(r) == r))
  }

  test("dedup_clusters_incremental equals the full recompute restricted to touched components") {
    val split = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
    // full recompute over all pairs
    val full = Curation.dedupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // components touched by a slice pair (either endpoint)
    val sliceEndpoints = operators.Dedup.NgramPairs.table(spark, dir)
      .filter(col("doc_b") >= lit(split))
      .collect().flatMap(r => Seq(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet
    assert(sliceEndpoints.nonEmpty, "corpus must plant cross-split near-dups")
    val touchedRoots = sliceEndpoints.map(full)
    val expected = full.filter { case (_, root) => touchedRoots(root) }
    val got = Curation.dedupClustersIncremental(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"incremental fold diverged: ${got.size} rows vs expected ${expected.size}")
    // and it must be a strict subset of the full output when some
    // component is untouched (otherwise the restriction is vacuous)
    assert(got.size <= full.size)
  }

  test("split_leakage_free: no near-dup pair straddles the split, sides are md5(root), ratio sane") {
    import org.apache.spark.sql.functions._
    val split = operators.Curation.splitLeakageFree(spark, dir)
    val rows = split.collect()
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.length == nDocs, "every document must get a side")
    // the leakage property, checked on the PAIRS (not just clusters):
    // both endpoints of every near-dup pair share a side
    val side = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    val pairs = operators.Dedup.NgramPairs.table(spark, dir)
      .select("doc_a", "doc_b").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { p =>
      val (a, b) = (p.getLong(0), p.getLong(1))
      assert(side(a) == side(b), s"near-dup pair ($a, $b) straddles the split")
    }
    // side derives from the cluster root by the shared md5 convention
    rows.foreach { r =>
      val root = r.getLong(1)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(root.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val expect = if (java.lang.Long.parseLong(hex, 16) % 10 < 9) "train" else "val"
      assert(r.getString(2) == expect, s"doc ${r.getLong(0)}: side != md5(root) rule")
    }
    // ~90/10: loose band, the point is both sides are populated sanely
    val nVal = rows.count(_.getString(2) == "val")
    assert(nVal > nDocs / 50 && nVal < nDocs / 4, s"val fraction off: $nVal of $nDocs")
  }

  test("cluster signal routing: ngram below the budget line, minhash above, forced routes honored") {
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def route(): Staged = operators.Dedup.signalSource(new Staged.Call(spark, dir))
    val ngram = pairsOf(operators.Dedup.NgramPairs.table(spark, dir))
    // default at test scale: the grid's predicted shuffle is far
    // below any sane disk budget — the signal IS the ngram list
    assert(pairsOf(operators.Dedup.ClusterSignal.table(spark, dir)) == ngram)
    assert(route() == operators.Dedup.NgramPairs)
    try {
      // sizing model says DNF (budget forced to one byte): the
      // signal reroutes to the minhash sweep
      spark.conf.set("graft.clusters.gridShuffleBudgetBytes", "1")
      val rerouted = pairsOf(operators.Dedup.ClusterSignal.table(spark, dir))
      assert(route() == operators.Dedup.MinhashPairs)
      assert(rerouted == pairsOf(operators.Dedup.dedupMinhashLshStaged(spark, dir)))
    } finally spark.conf.unset("graft.clusters.gridShuffleBudgetBytes")
    // flip-flop back to the default route re-stages (last-version
    // memo): consumers never read a stale rerouted signal
    assert(pairsOf(operators.Dedup.ClusterSignal.table(spark, dir)) == ngram)
  }

  /** The file names of a staged output: new on every re-stage. */
  private def listingOf(path: String): Seq[String] = new java.io.File(path).list().toSeq.sorted

  test("a reroute re-stages every staging that reads the cluster signal") {
    import operators.{Dedup, Retract}
    def stageAll(): Unit = {
      Curation.ClusterLabels.table(spark, dir)
      Curation.SplitSides.table(spark, dir)
      Retract.FullClusterLabels.table(spark, dir)
    }
    val outputs = Seq(Curation.ClusterLabels.path, Curation.SplitSides.path,
      Retract.FullClusterLabels.path)
    stageAll()
    val before = outputs.map(listingOf)
    stageAll()
    assert(outputs.map(listingOf) == before, "a warm call must not re-stage")
    // both routes give the same rows on this corpus, so only the
    // outputs' listings can show that the downstream stagings re-ran
    val signal = listingOf(Dedup.ClusterSignal.path)
    try {
      spark.conf.set("graft.clusters.gridShuffleBudgetBytes", "1")
      stageAll()
      assert(listingOf(Dedup.ClusterSignal.path) != signal, "the signal did not re-stage")
      outputs.zip(before).foreach { case (out, was) =>
        assert(listingOf(out) != was, s"$out was not re-staged after the reroute")
      }
    } finally spark.conf.unset("graft.clusters.gridShuffleBudgetBytes")
  }

  test("rewriting documents in place re-stages every staging that reads it") {
    import operators.{Dedup, Retract}
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    def staged(path: String): Set[String] = rows(spark.read.parquet(path))
    def snapshot(d: String): Map[String, Set[String]] = Map(
      "NgramPairs" -> rows(Dedup.NgramPairs.table(spark, d)),
      "ClusterSignal" -> rows(Dedup.ClusterSignal.table(spark, d)),
      "ClusterLabels" -> rows(Curation.ClusterLabels.table(spark, d)),
      "SplitSides" -> rows(Curation.SplitSides.table(spark, d)),
      "FullClusterLabels" -> rows(Retract.FullClusterLabels.table(spark, d)),
      "decontaminateFuzzyStaged" -> {
        Dedup.decontaminateFuzzyStaged(spark, d); staged(Dedup.DeconFuzzyPairs.path)
      },
      "dedupMinhashLshStaged" -> {
        Dedup.dedupMinhashLshStaged(spark, d); staged(Dedup.MinhashPairs.path)
      },
      "dedupMinhashIncrementalStaged" -> {
        Dedup.dedupMinhashIncrementalStaged(spark, d); staged(Dedup.MinhashIncrPairs.path)
      },
      "streamDedupDocsStaged" -> {
        streaming.Streams.streamDedupDocsStaged(spark, d)
        staged(streaming.Streams.StreamDocPairs.path)
      },
      "dedupClusters" -> rows(Curation.dedupClusters(spark, d)))
    val tmp = tempDir("graft_rewrite")
    val corpus = tmp.resolve("corpus")
    val docs = corpus.resolve("documents.parquet")
    java.nio.file.Files.createDirectories(corpus)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/documents.parquet"), docs)
    val first = snapshot(corpus.toString)
    // rewrite the one-file table in place, keeping the even doc_ids
    val even = tmp.resolve("even").toString
    spark.read.parquet(docs.toString).filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.parquet(even)
    val part = new java.io.File(even).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, docs, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val served = snapshot(corpus.toString)
    StateCache.dropAll()
    val live = snapshot(corpus.toString)
    assert(live("NgramPairs") != first("NgramPairs"), "the rewrite moved no pairs")
    live.keys.foreach(k => assert(served(k) == live(k), s"$k served its pre-rewrite state"))
  }

  test("sticky split: old sides kept, fresh clusters md5-ruled, cross-side merge flags flipped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // entry over the real corpus: no near-dup pair straddles, and
    // every unflipped old doc keeps its persisted side
    val inc = operators.Curation.splitLeakageFreeIncremental(spark, dir).collect()
    val side = inc.map(r => r.getLong(0) -> r.getString(2)).toMap
    operators.Dedup.NgramPairs.table(spark, dir).select("doc_a", "doc_b").collect()
      .foreach { p =>
        assert(side(p.getLong(0)) == side(p.getLong(1)),
          s"near-dup pair (${p.getLong(0)}, ${p.getLong(1)}) straddles the sticky split")
      }
    val prev = operators.Curation.SplitSides.table(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    inc.filter(r => prev.contains(r.getLong(0))).foreach { r =>
      if (!r.getBoolean(3))
        assert(side(r.getLong(0)) == prev(r.getLong(0)),
          s"unflipped old doc ${r.getLong(0)} changed side")
      else assert(side(r.getLong(0)) != prev(r.getLong(0)))
    }
    // constructed cross-side merge: clusters {1,2} (train) and
    // {3,4} (val) merged by a fresh doc 10 into one cluster rooted
    // at 1 — the cluster takes doc 1's side (min old member) and
    // docs 3,4 flip; the all-fresh cluster {20} follows md5(20)
    val withRoot = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 1L), (20L, 20L))
      .toDF("doc_id", "cluster_root")
    val old = Seq((1L, "train"), (2L, "train"), (3L, "val"), (4L, "val"))
      .toDF("doc_id", "side")
    val out = operators.Curation.stickySides(withRoot, old).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(out(1L) == ("train", false) && out(2L) == ("train", false))
    assert(out(3L) == ("train", true) && out(4L) == ("train", true),
      s"cross-side merge must flip the minority members: $out")
    assert(out(10L) == ("train", false), "fresh doc joins the merged cluster's side")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("20".getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 8)
    val expect20 = if (java.lang.Long.parseLong(hex, 16) % 10 < 9) "train" else "val"
    assert(out(20L) == (expect20, false), "all-fresh cluster must follow the md5 rule")
  }

  test("importance resampling: entry shape, and target near-dups outrank the pool median") {
    val top = Curation.sampleImportance(spark, dir).collect()
    assert(top.length == Curation.ImportanceTarget)
    val weights = top.map(_.getAs[Double]("weight"))
    assert(weights.zip(weights.tail).forall { case (a, b) => a >= b },
      "weights must be non-increasing in rank order")
    assert(top.map(_.getAs[Long]("sample_rank")).toSeq == (1L to top.length).toSeq)

    // semantic pin: a pool doc that near-duplicates a TARGET-slice
    // doc shares its bigram profile, so its importance weight must
    // sit in the upper half of the pool distribution — the property
    // DSIR selection exists to deliver
    val scored = Curation.importanceScored(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("weight")).toMap
    val split = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
    val dupPoolDocs = operators.Dedup.dedupNgramJaccardIncremental(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .collect { case (a, _) if a < split => a }.distinct
    val dupWeights = dupPoolDocs.flatMap(scored.get)
    assert(dupWeights.nonEmpty, "corpus must plant cross-split near-dups")
    val all = scored.values.toArray.sorted
    val median = all(all.length / 2)
    assert(dupWeights.sum / dupWeights.size > median,
      s"cross-split near-dups (mean ${dupWeights.sum / dupWeights.size}) " +
        s"should outrank the pool median ($median)")
  }

  test("mixture sample: quotas follow floor(N*sqrt(n)/S) and flatten dominant strata") {
    import spark.implicits._
    // hand-checked skew: counts 16/4/1 -> sqrt 4/2/1, S=7; with
    // N=200 the quotas are floor(200*4/7)=114, floor(200*2/7)=57,
    // floor(200*1/7)=28 — capped by each stratum's actual size
    val docs = (0 until 16).map(i => (i.toLong, s"a $i", "aa")) ++
      (16 until 20).map(i => (i.toLong, s"b $i", "bb")) ++
      Seq((20L, "c 20", "cc"))
    val tmp = tempDir("graft_mix").toString
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Curation.sampleMixture(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val perLang = out.groupBy(_._1).map { case (l, rows) => l -> rows.length }
    // quotas exceed the tiny strata, so every stratum is taken whole —
    // the QUOTA arithmetic is pinned against the real corpus below
    assert(perLang == Map("aa" -> 16, "bb" -> 4, "cc" -> 1), perLang.toString)

    // real corpus: en dominates; sqrt-weighting must FLATTEN — en's
    // sampled share strictly below its raw share, rare langs above
    val real = Curation.sampleMixture(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val counts = Tables.documents(spark, dir).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = real.groupBy(_._1).map { case (l, rows) => l -> rows.length.toDouble }
    val rawShareEn = counts("en").toDouble / counts.values.sum
    val mixShareEn = sampled("en") / sampled.values.sum
    if (rawShareEn > 1.0 / counts.size + 0.01)
      assert(mixShareEn < rawShareEn,
        s"sqrt mixing did not flatten: en raw $rawShareEn -> sampled $mixShareEn")
    // determinism: same permutation every run
    val again = Curation.sampleMixture(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(real.toSeq == again.toSeq)
  }

  test("mixture backfill: quota sum hits the target exactly via largest remainder") {
    import spark.implicits._
    // 1000/500/100 — floor-only quotas lose 2 rows (198 of 200); the
    // two largest-remainder strata must each get one back
    val docs = (0 until 1000).map(i => (i.toLong, s"a $i", "aa")) ++
      (1000 until 1500).map(i => (i.toLong, s"b $i", "bb")) ++
      (1500 until 1600).map(i => (i.toLong, s"c $i", "cc"))
    val tmp = tempDir("graft_mix_bf").toString
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Curation.sampleMixture(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the contract: Σ quota = min(target, corpus) EXACTLY — here every
    // stratum exceeds its quota, so the drawn sample hits it too
    assert(out.length == Curation.MixtureTarget, s"sample size ${out.length}")
    // replicate the engine arithmetic step by step: dec-6 exact sum,
    // double shares, floor bases, largest-remainder ranks
    val ns = Map("aa" -> 1000, "bb" -> 500, "cc" -> 100)
    val s = ns.values.map(n => BigDecimal(math.sqrt(n))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val xs = ns.map { case (l, n) => l -> Curation.MixtureTarget * math.sqrt(n) / s }
    val base = xs.map { case (l, x) => l -> math.floor(x).toLong }
    val d = (Curation.MixtureTarget - base.values.sum).toInt
    assert(d > 0, s"test corpus must exercise the backfill (deficit $d)")
    val byRemainder = xs.toSeq.sortBy { case (l, x) => (-(x - math.floor(x)), l) }.map(_._1)
    val quota = base ++ byRemainder.take(d).map(l => l -> (base(l) + 1L))
    val perLang = out.groupBy(_._1).map { case (l, rows) => l -> rows.length.toLong }
    assert(perLang == quota, s"per-stratum fills $perLang != backfilled quotas $quota")
  }

  test("stratified sample is deterministic and respects the per-stratum quota") {
    val s1 = Curation.sampleStratified(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val s2 = Curation.sampleStratified(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(s1.toSeq == s2.toSeq) // same permutation every run
    val perLang = s1.groupBy(_._1).map { case (l, rows) => l -> rows.length }
    assert(perLang.values.forall(_ <= Curation.SampleQuota))
    // sf0.001 has 100 docs per language — every stratum fills its quota
    assert(perLang.values.forall(_ == Curation.SampleQuota), perLang.toString)
  }

  test("corpus_drift: rates sum consistently and a planted skew term tops the ranking") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // entry over the real corpus: sane shape
    val rows = operators.Curation.corpusDrift(spark, dir).collect()
    assert(rows.length == 20)
    val drifts = rows.map(_.getDouble(3))
    assert(drifts.map(math.abs).sliding(2).forall(p => p.head >= p.last),
      "not ordered by |drift| desc")
    // constructed corpus: fresh slice floods one term — it must rank first
    val docs = ((0L to 8L).map(i => (i, "alpha beta gamma")) :+
      (10000L, "zzzflood zzzflood zzzflood zzzflood alpha")).toDF("doc_id", "text")
    val tmp = tempDir("graft_drift").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = operators.Curation.corpusDrift(spark, tmp).collect()
    assert(out.head.getString(0) == "zzzflood",
      s"planted flood term not ranked first: ${out.take(3).mkString(", ")}")
    assert(out.head.getLong(1) == 0L && out.head.getLong(2) == 4L)
    assert(out.head.getDouble(3) == 0.8, s"flood drift: ${out.head.getDouble(3)}")
  }

  test("tfidf_incremental equals the full recompute row-for-row") {
    val full = operators.Curation.tfidfTopTerms(spark, dir)
      .collect().map(_.toString).toSeq
    val inc = operators.Curation.tfidfIncremental(spark, dir)
      .collect().map(_.toString).toSeq
    assert(inc.nonEmpty)
    assert(inc == full)
  }

  test("tfidf: ubiquitous terms never outrank document-specific ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha common common"),
      (2L, "beta common"),
      (3L, "gamma common common")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
    val tmp = tempDir("graft_tfidf").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val top = Curation.tfidfTopTerms(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    // rank-1 term of every doc is its unique word, despite "common"
    // having the higher raw term frequency in docs 1 and 3
    val rank1 = top.filter(_._4 == 1L).map(t => t._1 -> t._2).toMap
    assert(rank1 == Map(1L -> "alpha", 2L -> "beta", 3L -> "gamma"), top.mkString(", "))
  }

  test("decontamination flags exactly the corpus docs leaked into the benchmark slice") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // ids 0..8 are corpus, 9..10 the benchmark slice (split = 10*9/10 = 9).
    // Doc 2's text is copied into benchmark doc 9 (with a suffix) —
    // classic eval-set leakage; every other corpus doc is distinct
    // prose sharing no 16-char window with the benchmark.
    val leak = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (Seq(
      0L -> "completely unrelated first document with its own words",
      1L -> "another separate piece of text that stands alone here",
      2L -> leak,
      3L -> "yet more filler content that overlaps with nothing else",
      4L -> "spark catalyst plans optimize declarative queries nicely",
      5L -> "parquet files store columnar data with statistics pages",
      6L -> "shuffle exchanges partition rows across executor cores",
      7L -> "broadcast joins ship the small side to every task slot",
      8L -> "window functions rank rows within their partitions",
      9L -> (leak + " EVAL-SUFFIX"),
      10L -> "an uncontaminated benchmark question about other topics"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
    val tmp = tempDir("graft_decon").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Curation.textDecontaminate(spark, tmp).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L), s"flagged: ${out.mkString(", ")}")
    // the leaked doc is a strict prefix of its benchmark copy, so
    // every one of its shingles is contained: containment == 1.0
    assert(out.head.getAs[Double]("containment") == 1.0)
    assert(out.head.getAs[Long]("n_contaminated") == out.head.getAs[Long]("n_shingles"))
    // plan shape: the benchmark side broadcasts; no corpus-vs-corpus
    // join exists anywhere in the operator
    val plan = Curation.textDecontaminate(spark, tmp).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus-sized join in the decontamination plan:\n$plan")
  }

  test("curate_pipeline composes its stages faithfully") {
    import org.apache.spark.sql.functions.{col, length => slen}
    val out = Curation.curatePipeline(spark, dir).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val ids = out.map(_._2).toSet
    val docs = Tables.documents(spark, dir)
    // 1. every emitted doc passes the quality gates (spot the length window)
    val lens = docs.filter(col("doc_id").isin(ids.toSeq: _*))
      .select(slen(col("text"))).collect().map(_.getInt(0))
    assert(lens.forall(l => l >= Curation.CurateMinChars && l <= Curation.CurateMaxChars))
    // 2. no two emitted docs share exact content
    val texts = docs.filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("text")).collect().map(_.getString(0))
    assert(texts.distinct.length == texts.length, "exact duplicates survived curation")
    // 3. no emitted doc is a non-root member of a near-dup cluster
    val nonRoots = Curation.dedupClusters(spark, dir)
      .filter(col("cluster_root") =!= col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(ids.intersect(nonRoots).isEmpty, "near-dup non-roots survived curation")
    // 4. per-language quota respected, ranks contiguous from 1
    out.groupBy(_._1).foreach { case (_, rows) =>
      val ranks = rows.map(_._3).sorted
      assert(ranks.length <= Curation.SampleQuota)
      assert(ranks.toSeq == (1L to ranks.length).toSeq)
    }
  }

  test("corpus_drift on a degenerate corpus (empty old side) yields finite drift, not NaN") {
    // a doc_id-0-only corpus makes the 90% split 0, so EVERY doc is
    // "fresh" and t_old = 0 — the zero-total guard (ADVICE r13) must
    // keep drift a number with a pinned ordering
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((0L, "solo words here")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val tmp = tempDir("drift0").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = operators.Curation.corpusDrift(spark, tmp).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val d = r.getAs[Double]("drift")
      assert(!d.isNaN && !d.isInfinite, s"drift must be finite, got $d")
    }
    // every term is fresh-only: drift = its fresh rate exactly
    assert(out.map(_.getAs[Double]("drift")).forall(_ > 0))
  }

  test("decontaminate_bloom emits exactly text_decontaminate's rows") {
    // the bloom is a prefilter only — false positives die in the
    // exact confirm join, false negatives cannot exist, so the two
    // entries must agree row-for-row
    val exact = Curation.textDecontaminate(spark, dir).collect().toSeq
    val bloom = Curation.decontaminateBloom(spark, dir).collect().toSeq
    assert(exact.nonEmpty && bloom == exact)
  }

  test("native bloomProbe column decides exactly like BloomFilter.mightContainLong") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // pin the codegen'd BloomFilterMightContain path to the driver-
    // side call the old UDF made, over members AND non-members
    val members = (0L until 500L).map(_ * 7919L)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(members.size, 0.01)
    members.foreach(bloom.putLong)
    val probes = (0L until 5000L).toDF("g")
    val gotHits = probes.filter(Curation.bloomProbe(bloom, col("g")))
      .as[Long].collect().toSet
    val wantHits = (0L until 5000L).filter(bloom.mightContainLong).toSet
    assert(gotHits == wantHits && members.filter(_ < 5000L).toSet.subsetOf(gotHits))
  }
}
