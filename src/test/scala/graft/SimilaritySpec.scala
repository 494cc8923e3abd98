package graft

import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  import operators.Similarity

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val brute = pairs(Similarity.annTopkBrute(spark, dir))

  test("brute top-k returns exactly k neighbors per query") {
    assert(brute.size == Similarity.QueryCount * Similarity.TopK)
  }

  test("lsh recall against brute force clears the floor") {
    val lsh = pairs(Similarity.annTopkLsh(spark, dir))
    val recall = (lsh & brute).size.toDouble / brute.size
    // 4x4-bit bands with hamming-1 multi-probe: measured ~0.89 on
    // this data (single-probe was ~0.37); the operator floor (measured-minus-margin) guards regressions.
    assert(recall >= Similarity.RecallFloorLsh, s"lsh recall $recall < ${Similarity.RecallFloorLsh}")
  }

  test("ivf recall against brute force clears the floor") {
    val ivf = pairs(Similarity.annIvf(spark, dir))
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= Similarity.RecallFloorIvf, s"ivf recall $recall < ${Similarity.RecallFloorIvf}")
  }

  /** Exact squared-L2 top-k — the right baseline for PQ, which
    * approximates L2 (cosine brute would conflate metric mismatch
    * with quantization loss). */
  private def exactL2Top(d: String): Set[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    val e = operators.Dedup.embeddingsWithNorm(spark, d)
    val q = e.filter(col("vec_id") < Similarity.QueryCount)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d"), col("vec_id"))
    pairs(e.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("d", operators.Dedup.sqDist("qv", "v"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Similarity.TopK)
      .select(col("q_id"), col("vec_id")))
  }

  test("pq recall against exact L2 top-k clears the floor at two SFs") {
    for (d <- Seq(dir, "/root/testdata/sf0.01")) {
      val exact = exactL2Top(d)
      val pq = pairs(Similarity.annPq(spark, d))
      val recall = (pq & exact).size.toDouble / exact.size
      info(s"pq recall at $d: $recall")
      assert(recall >= Similarity.RecallFloorPq,
        s"pq recall $recall < ${Similarity.RecallFloorPq} at $d")
    }
  }

  test("ivf-pq recall against exact L2 top-k clears the floor at two SFs") {
    for (d <- Seq(dir, "/root/testdata/sf0.01")) {
      val exact = exactL2Top(d)
      val ip = pairs(Similarity.annIvfPq(spark, d))
      val recall = (ip & exact).size.toDouble / exact.size
      info(s"ivf-pq recall at $d: $recall")
      assert(recall >= Similarity.RecallFloorIvfPq,
        s"ivf-pq recall $recall < ${Similarity.RecallFloorIvfPq} at $d")
    }
  }

  test("ivf-pq append maintenance: slice codes equal the full re-encode, physically appendable, same probe output") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // force artifacts + base staging, and capture the two outputs
    val fullOut = Similarity.annIvfPq(spark, dir).collect().map(_.toString).toSeq
    val appendOut = Similarity.annIvfPqAppend(spark, dir).collect().map(_.toString).toSeq
    // the probe over append-maintained codes is the probe over
    // re-encoded codes — append maintenance loses nothing
    assert(appendOut == fullOut)

    val split = Tables.embeddings(spark, dir)
      .agg(max(col("vec_id"))).head.getLong(0) * 9 / 10
    // sort by (vec_id, cid): IVF-A gives each vector one code row
    // PER assigned cell, so vec_id alone is not a total order
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("vec_id"), col("codes"), col("cid"))
        .as[(Long, Seq[Int], Int)].collect().sortBy(t => (t._1, t._3)).toSeq
    val full = key(spark.read.parquet(Similarity.IvfPqCodesStagePath))
    val idx = Similarity.ivfIndex(spark, dir)
    val slice = Similarity.ivfPqSliceCodes(spark, dir, idx, split)
    assert(slice.count() > 0, "slice must be non-empty for the test to mean anything")
    // per-row determinism: base ∪ slice-encode == full re-encode
    val base = key(spark.read.parquet(Similarity.IvfPqCodesBasePath))
    assert((base ++ key(slice.toDF())).sortBy(t => (t._1, t._3)) == full)

    // physical append mechanics: mode("append") into the grouped pg
    // partitions (the production codes layout) reproduces the full
    // table
    val pg = pmod(col("cid"), lit(Similarity.CodesPartGroups))
    val tmp = tempDir("graft_ivfpq_append_test").toString
    spark.read.parquet(Similarity.IvfPqCodesBasePath)
      .select(col("vec_id"), col("codes"), col("cid")).withColumn("pg", pg)
      .repartition(col("pg"))
      .write.mode("overwrite").partitionBy("pg").parquet(tmp)
    slice.select(col("vec_id"), col("codes"), col("cid")).withColumn("pg", pg)
      .repartition(col("pg"))
      .write.mode("append").partitionBy("pg").parquet(tmp)
    assert(key(spark.read.parquet(tmp)) == full)
  }

  test("ivf cell count scales with corpus size and stays bounded") {
    assert(Similarity.ivfCells(100) == 16)       // floor
    assert(Similarity.ivfCells(1000000) == 1000) // ~sqrt(n)
    assert(Similarity.ivfCells(Long.MaxValue) == 4096) // broadcastable cap
  }

  test("ivf probed fraction SHRINKS as the corpus grows (nprobe ~ sqrt(cells))") {
    // round-2 policy probed cells/4 = a constant 25% of the corpus at
    // any scale; an index must probe a vanishing fraction
    val fractions = Seq(10000L, 1000000L, 100000000L).map { n =>
      val cells = Similarity.ivfCells(n)
      Similarity.ivfProbes(cells).toDouble / cells
    }
    assert(fractions == fractions.sorted.reverse, s"fractions not decreasing: $fractions")
    // 2/sqrt(cells) under the r18 2x-probe policy (the faithful
    // near-uniform re-anchor), cells capped at 4096 to bound the
    // broadcast centroid table: 128/4096 ≈ 0.031 at 1e8 vectors
    assert(fractions.last < 0.04, s"at 1e8 vectors still probing ${fractions.last}")
  }

  test("IVF-A assignment ladder: postings scale with index size on integer thresholds") {
    import operators.Similarity.ivfAssign
    // driver scales unchanged (sf0.01 = 44 cells, sf1 = 141): the
    // r18 A=2 configuration and its sf1 oracle dumps stand
    assert(ivfAssign(16) == 2 && ivfAssign(44) == 2 && ivfAssign(141) == 2)
    // exact integer boundaries — the SQL twins compare the same
    // integers to the same centroid counts
    assert(ivfAssign(291) == 2 && ivfAssign(292) == 3)
    assert(ivfAssign(776) == 3 && ivfAssign(777) == 4)
    assert(ivfAssign(447) == 3)  // sf10 (200k vectors)
    assert(ivfAssign(1414) == 4) // sf100 (2M vectors)
    assert(ivfAssign(4096) == 6) // frozen at the cells cap
  }

  test("ivf recall holds at the larger sf0.1 corpus too (probe policy, not luck)") {
    val big = "/root/testdata/sf0.1"
    val bruteBig = pairs(Similarity.annTopkBrute(spark, big))
    val ivfBig = pairs(Similarity.annIvf(spark, big))
    val recall = (ivfBig & bruteBig).size.toDouble / bruteBig.size
    assert(recall >= Similarity.RecallFloorIvf, s"ivf recall at sf0.1 $recall < ${Similarity.RecallFloorIvf}")
  }

  test("single-cell assignment kernel equals the join+min-struct form") {
    import spark.implicits._
    val idx = Similarity.ivfIndex(spark, dir)
    val e = operators.Dedup.embeddingsWithNorm(spark, dir)
    val kern = Similarity.assignMultiKernel(e, idx.centroids, 1)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val joined = Similarity.assignCells(e, idx.centroids.toDF("cid", "cv"))
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(kern.nonEmpty && kern == joined)
  }

  test("top-cells assignment kernel equals the chained min-struct rounds") {
    import spark.implicits._
    val idx = Similarity.ivfIndex(spark, dir)
    val e = operators.Dedup.embeddingsWithNorm(spark, dir)
    val p = math.min(Similarity.SemanticAssign, idx.centroids.size)
    val kern = Similarity.assignMultiKernel(e, idx.centroids, p)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val chained = Similarity.assignMulti(e, idx.centroids.toDF("cid", "cv"), p)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(kern.nonEmpty && kern == chained)
  }

  test("cell-pair kernel NaN contract: zero-norm vectors pass the threshold like Spark SQL >=") {
    // a zero-norm vector makes cos = 0/0 = NaN; the pinned join form
    // uses Spark SQL `>=`, which orders NaN above every value, so
    // the kernel must emit the pair too (Java `>=` alone would drop
    // it) and round6 must pass NaN through like Spark's round
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def m(id: Long, v: Array[Double]): GenericInternalRow = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      new GenericInternalRow(Array[Any](id, new GenericArrayData(v.map(x => x: Any)), nrm))
    }
    val ms = new GenericArrayData(Array[Any](
      m(1L, Array(1.0, 0.0)), m(2L, Array(0.0, 0.0))))
    val out = functions.PairKernels.cellPairs(ms, 0.9)
    assert(out.numElements() == 1)
    val r = out.getStruct(0, 3)
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L && r.getDouble(2).isNaN)
    assert(functions.PairKernels.round6(Double.NaN).isNaN)
    // and the Spark-side ground truth the contract mirrors
    val sql = spark.sql("SELECT CAST('NaN' AS DOUBLE) >= 0.9").collect()(0).getBoolean(0)
    assert(sql, "Spark SQL NaN >= ordering changed — revisit the kernel contract")
  }

  test("grouped cell-pair kernel equals the within-cell join form row for row") {
    val grouped = Similarity.dedupSemantic(spark, dir).collect().map(_.toString).toSeq
    val joined = Similarity.dedupSemanticPairsImpl(spark, dir, None, grouped = false)
      .collect().map(_.toString).toSeq
    assert(grouped.nonEmpty && grouped == joined)
  }

  test("semantic dedup: every emitted pair is exact, and multi-assign recall clears the floor") {
    val brute = operators.Dedup.dedupEmbedding(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brutePairs = brute.map(t => (t._1, t._2))
    val sem = Similarity.dedupSemantic(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // precision is 1 by construction (candidates are exact-verified)
    // AND scores are bit-identical to the brute baseline's
    sem.foreach(t => assert(brute.contains(t), s"pair $t not in the brute >=threshold set"))
    // recall: single assignment measured 0.20-0.22 (cells subdivide
    // the natural clusters); 4-way multi-assign measured 0.97/0.98
    // at sf0.001/sf0.01. Floor is measured-minus-margin, covering
    // the k-means wobble band across corpus regenerations.
    val recall = sem.count(t => brutePairs.contains((t._1, t._2))).toDouble / brutePairs.size
    assert(recall >= 0.85, s"semantic dedup recall $recall < 0.85")
  }

  test("incremental semantic dedup equals the full sweep restricted to the new slice") {
    val e = operators.Dedup.embeddingsWithNorm(spark, dir)
    val split = Similarity.semanticSplit(e).get
    val full = Similarity.dedupSemantic(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val inc = Similarity.dedupSemanticIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // per-row assignment independence makes the incremental form
    // EXACTLY the full sweep's pairs whose b side sits in the slice
    // (pairs are enumerated vec_a < vec_b, so "vec_b in slice" is
    // "the pair touches the slice") — same rows, same scores, same
    // order, not merely a subset
    assert(inc.toSeq == full.filter(_._2 >= split).toSeq)
    assert(inc.forall(_._2 >= split))
    // the slice split must leave the entry non-degenerate on the test
    // corpus: some pairs touch the newest 10% of ids
    assert(inc.nonEmpty, "no pair touches the new slice — test corpus too small?")
  }

  test("semantic dedup pairs compose with cluster resolution (the keeper pipeline)") {
    import org.apache.spark.sql.functions.col
    // the curation flow a pipeline actually runs: near-dup pairs →
    // connected components → one canonical keeper per group
    val pairs = Similarity.dedupSemantic(spark, dir)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))
    val roots = operators.Curation.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rawPairs = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rawPairs.nonEmpty && roots.nonEmpty)
    rawPairs.foreach { case (a, b) =>
      assert(roots(a) == roots(b), s"pair ($a,$b) split across clusters")
      assert(roots(a) <= a && roots(a) <= b)
    }
  }

  test("ivf centroids are k x dim and cells partition the corpus usefully") {
    val e = operators.Dedup.embeddingsWithNorm(spark, dir)
    val n = e.count()
    val cells = Similarity.ivfCells(n)
    val centroids = Similarity.kmeansCentroids(spark, e, cells, Similarity.IvfIters)
    val cents = centroids.collect()
    assert(cents.length == cells)
    assert(cents.forall(_.getSeq[Double](1).length == 64))
    // probing must examine well under the whole corpus, or IVF
    // degrades to brute force
    val cellSizes = Similarity.assignCells(e, centroids)
      .groupBy("cid").count().collect().map(_.getLong(1))
    assert(cellSizes.sum == n)
    val probed = cellSizes.sorted.reverse.take(Similarity.ivfProbes(cells)).sum
    assert(probed < n * 0.8, s"largest cells hold $probed of $n vectors")
  }

  test("probe over the persisted index returns exactly the fused build+probe results") {
    // k-means is deterministic (hash-sample + first-k seeds), so the
    // memoized index and a fresh build must agree — and the
    // cid-partitioned parquet round-trip must not perturb scores
    val fused = Similarity.annIvf(spark, dir).collect().map(_.toString).toSet
    val probed = Similarity.annIvfProbe(spark, dir).collect().map(_.toString).toSet
    assert(probed == fused)
  }

  test("the persisted IVF index layout supports partition pruning on cid") {
    val idx = Similarity.ivfIndex(spark, dir)
    val plan = spark.read.parquet(idx.listsPath)
      .filter(org.apache.spark.sql.functions.col("cid") === 1)
      .queryExecution.executedPlan.toString
    // a probe that filters on its probed cells must read ONLY those
    // cells' partitions — the layout property that makes the index
    // an inverted file at scale
    assert(plan.contains("PartitionFilters: [isnotnull(cid") || plan.contains("PartitionFilters: [(cid"),
      s"cid filter not applied as a partition filter:\n$plan")
  }

  test("ann_recall reports both methods above their floors and throws on regression") {
    val rows = Similarity.annRecall(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("ivf", "lsh"))
    rows.foreach { r =>
      val floor = if (r.getString(0) == "ivf") Similarity.RecallFloorIvf else Similarity.RecallFloorLsh
      assert(r.getDouble(3) >= floor, s"${r.getString(0)} recall ${r.getDouble(3)}")
    }
  }

  test("default root: the index lives under the stage dir, is reused after dropAll, and a rebuild GCs") {
    import java.nio.file.{Files, Paths}
    val corpus = tempDir("graft_ivf_corpus_default")
    val emb = corpus.resolve("embeddings.parquet").toFile
    Files.copy(Paths.get(dir, "embeddings.parquet"), emb.toPath)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def tempIndexDirs(): Set[String] = tmp.list().filter(_.startsWith("graft_ivf_index")).toSet
    def maxMtime(d: String): Long =
      Files.walk(Paths.get(d)).toArray.map(p => p.asInstanceOf[java.nio.file.Path].toFile.lastModified).max
    val before = tempIndexDirs()
    val first = Similarity.ivfIndex(spark, corpus.toString)
    val made = tempIndexDirs() -- before
    assert(made.isEmpty, s"the default root built an index under java.io.tmpdir: $made")
    assert(first.listsPath.startsWith(graft.sources.SdfQueries.StageDir + "ivf_index/"),
      s"${first.listsPath} is not under the stage dir")
    val probed = Similarity.annIvfProbe(spark, corpus.toString).collect().toSeq
    assert(Similarity.ivfIndex(spark, corpus.toString) eq first, "an unchanged corpus must hit")

    // a cold cache reuses the persisted version dir instead of rebuilding
    val builtAt = maxMtime(first.listsPath)
    StateCache.dropAll()
    val reused = Similarity.ivfIndex(spark, corpus.toString)
    assert(reused.listsPath == first.listsPath && reused.centroids == first.centroids)
    assert(maxMtime(first.listsPath) == builtAt, "reuse rewrote the version dir (rebuild, not reuse)")

    assert(emb.setLastModified(emb.lastModified + 5000))
    val second = Similarity.ivfIndex(spark, corpus.toString)
    assert(second.listsPath != first.listsPath, "a moved fingerprint must rebuild")
    assert(!Files.exists(Paths.get(first.listsPath)), "superseded version dir not GC'd")
    assert(second.centroids == first.centroids, "same data, same deterministic k-means")
    // the session's posting-list frame must follow the rebuild: a
    // frame over the deleted lists would fail the scan
    assert(Similarity.annIvfProbe(spark, corpus.toString).collect().toSeq == probed)
  }

  test("persisted root: fresh-process reuse without rebuild, fingerprint-change GC") {
    import java.nio.file.{Files, Paths}
    val root = tempDir("graft_ivf_root")
    val corpus = tempDir("graft_ivf_corpus")
    Files.copy(Paths.get(dir, "embeddings.parquet"), corpus.resolve("embeddings.parquet"))
    def verDirs(): Seq[java.io.File] =
      root.toFile.listFiles().toSeq.filter(_.getName.startsWith("ivf_v"))
    def maxMtime(d: java.io.File): Long =
      Files.walk(d.toPath).toArray.map(p => p.asInstanceOf[java.nio.file.Path].toFile.lastModified).max
    val defaultRoot = Similarity.ivfIndexRoot
    try {
      StateCache.dropAll()
      // `file:` scheme: the manifest/version-dir lifecycle must run
      // through the Hadoop FileSystem API, not java.nio — the root's
      // documented deployment target is an hdfs:// or s3a:// warehouse
      Similarity.ivfIndexRoot = s"file:$root"
      val first = Similarity.ivfIndex(spark, corpus.toString)
      assert(Files.exists(root.resolve("_ivf_manifest")), "manifest not written")
      assert(verDirs().size == 1, s"expected one version dir, got ${verDirs()}")
      val v1 = verDirs().head
      val builtAt = maxMtime(v1)

      // fresh process: in-memory memos gone, on-disk root intact —
      // the index must be REUSED from the manifest, not rebuilt
      StateCache.dropAll()
      val second = Similarity.ivfIndex(spark, corpus.toString)
      assert(second.cells == first.cells && second.centroids == first.centroids,
        "reloaded index differs from the built one")
      assert(maxMtime(v1) == builtAt, "reuse path rewrote the version dir (rebuild, not reuse)")

      // corpus change: fingerprint shifts → rebuild under a new
      // version dir, superseded dir garbage-collected
      assert(corpus.resolve("embeddings.parquet").toFile
        .setLastModified(corpus.resolve("embeddings.parquet").toFile.lastModified + 5000))
      StateCache.dropAll()
      val third = Similarity.ivfIndex(spark, corpus.toString)
      assert(verDirs().size == 1, s"superseded version dir not GC'd: ${verDirs()}")
      assert(verDirs().head.getName != v1.getName, "fingerprint change did not produce a new version dir")
      assert(third.centroids == first.centroids, "same data, same deterministic k-means — centroids must match")
    } finally {
      Similarity.ivfIndexRoot = defaultRoot
      StateCache.dropAll()
    }
  }

  test("concurrent builds for different corpora under one root keep both manifest entries") {
    import java.nio.file.{Files, Paths}
    // the manifest read-modify-write plus GC must be serialized per
    // root: unsynchronized, each builder writes a manifest missing
    // the other's entry and the GC pass deletes the other's freshly
    // built live version dir (ADVICE r6, medium)
    val root = tempDir("graft_ivf_root_conc")
    val corpora = (0 until 2).map { i =>
      val c = tempDir(s"graft_ivf_corpus_$i")
      Files.copy(Paths.get(dir, "embeddings.parquet"), c.resolve("embeddings.parquet"))
      // distinct mtimes -> distinct fingerprints -> distinct version dirs
      assert(c.resolve("embeddings.parquet").toFile
        .setLastModified(1700000000000L + i * 60000L))
      c.toString
    }
    val defaultRoot = Similarity.ivfIndexRoot
    try {
      StateCache.dropAll()
      Similarity.ivfIndexRoot = root.toString
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val built = Await.result(
        Future.sequence(corpora.map(c => Future(Similarity.ivfIndex(spark, c)))), 5.minutes)
      assert(built.map(_.listsPath).distinct.size == 2)
      built.foreach(idx => assert(new java.io.File(idx.listsPath).exists,
        s"live version dir GC'd by the concurrent build: ${idx.listsPath}"))
      val versions = root.toFile.listFiles().filter(_.getName.startsWith("ivf_v")).map(_.getName)
      assert(versions.length == 2, s"expected both version dirs, got ${versions.toSeq}")
      // a fresh process resolves BOTH corpora from the one manifest
      StateCache.dropAll()
      corpora.zip(built).foreach { case (c, first) =>
        val again = Similarity.ivfIndex(spark, c)
        assert(again.listsPath == first.listsPath && again.centroids == first.centroids)
      }
    } finally {
      Similarity.ivfIndexRoot = defaultRoot
      StateCache.dropAll()
    }
  }

  test("lsh signatures are deterministic") {
    val e = operators.Dedup.embeddingsWithNorm(spark, dir)
    val a = Similarity.lshSignature(e).select("vec_id", "sig").orderBy("vec_id").collect()
    val b = Similarity.lshSignature(e.repartition(5)).select("vec_id", "sig").orderBy("vec_id").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }
}
