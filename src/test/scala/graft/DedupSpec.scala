package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  import operators.Dedup

  test("minhash-lsh finds exactly the exact-jaccard pairs on test data") {
    // At this corpus the planted near-dups are far above threshold
    // (J >= 0.92) and everything else is far below (J < 0.5), so
    // 16x4 banded LSH must reach full recall — and precision is
    // guaranteed by the exact verification step.
    val exact = Dedup.dedupNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dedupMinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("verify grid is partition-invariant: gridSide override changes no pair") {
    // the B x B verification grid is pure layout — any B must yield
    // the identical pair set and scores (pins the
    // graft.verify.gridSide deployment knob and the grid's
    // replicate/cogroup bookkeeping, including the diagonal-cell
    // dedup, at a B where cells hold most of the corpus)
    val auto = Dedup.dedupNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.conf.set("graft.verify.gridSide", "2")
    try {
      val b2 = Dedup.dedupNgramJaccard(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(auto.nonEmpty && b2 == auto)
    } finally spark.conf.unset("graft.verify.gridSide")
  }

  test("staged ngram pair list equals the live pair pipeline") {
    val live = Dedup.dedupNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val staged = Dedup.NgramPairs.table(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    assert(staged.nonEmpty && staged == live,
      "materialized pair signals must match a fresh pipeline run bit-for-bit")
  }

  test("incremental dedup is exactly the full pair set restricted to new doc_b") {
    import org.apache.spark.sql.functions.max
    val full = Dedup.dedupNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val split = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
    val inc = Dedup.dedupNgramJaccardIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == full.filter(_._2 >= split),
      s"incremental pairs diverge from the restricted full set (split=$split)")
    assert(inc.nonEmpty && inc != full, "split must actually restrict on this corpus")
  }

  test("minhash incremental is exactly the full LSH pair set restricted to new doc_b") {
    import org.apache.spark.sql.functions.max
    val full = Dedup.dedupMinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val split = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
    val inc = Dedup.dedupMinhashLshIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // signatures and band hashes are per-row deterministic, so the
    // b-side slice restriction commutes with candidate generation:
    // same rows, same scores, same order — not merely a subset
    assert(inc.toSeq == full.filter(_._2 >= split).toSeq,
      s"incremental minhash pairs diverge from the restricted full set (split=$split)")
    assert(inc.nonEmpty && inc.length != full.length,
      "split must actually restrict on this corpus")
  }

  test("fuzzy decontamination is exactly the exact cross-slice pair set") {
    // same full-recall corpus argument as the LSH test above: the
    // planted near-dups are far above threshold, so the banded
    // train-vs-bench join must surface exactly the pairs the exact
    // ngram sweep finds with doc_a in the corpus and doc_b in the
    // bench slice — persisted-sketch corpus side and all.
    val split = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
    val exact = Dedup.dedupNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => p._1 < split && p._2 >= split).toSet
    val fuzzy = Dedup.decontaminateFuzzy(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    fuzzy.foreach { case (a, b, _) =>
      assert(a < split && b >= split,
        s"pair ($a, $b) violates the train-vs-bench restriction (split=$split)") }
    assert(fuzzy == exact,
      s"fuzzy decontamination diverges from the exact cross-slice set (split=$split)")
    assert(fuzzy.nonEmpty, "corpus must actually plant cross-slice near-dups")
  }

  test("staged fuzzy-decontamination pair list equals the live pipeline") {
    val live = Dedup.decontaminateFuzzy(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val staged = Dedup.decontaminateFuzzyStaged(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(staged == live)
  }

  test("grouped simhash pair kernel equals the band-join form row for row") {
    val grouped = Dedup.dedupSimhash(spark, dir).collect().map(_.toString).toSeq
    val joined = Dedup.dedupSimhashJoinForm(spark, dir).collect().map(_.toString).toSeq
    assert(grouped.nonEmpty && grouped == joined)
    // multi-block coverage: blockSize 4 forces every bucket above 4
    // members through the bipartite block path; union across block
    // pairs must reproduce the single-triangle result exactly
    val blocked = Dedup.dedupSimhashBlocked(spark, dir, blockSize = 4)
      .collect().map(_.toString).toSeq
    assert(blocked == joined)
  }

  test("simhash incremental is exactly the full pair set restricted to new doc_b") {
    import org.apache.spark.sql.functions.max
    val full = Dedup.dedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val split = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
    val inc = Dedup.dedupSimhashIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // the persisted a-side signatures equal the live pipeline's
    // (deterministic token hashing), so the slice restriction
    // commutes: same rows, same hamming distances, same order
    assert(inc.toSeq == full.filter(_._2 >= split).toSeq,
      s"incremental simhash pairs diverge from the restricted full set (split=$split)")
  }

  test("persisted simhash signature table equals the live signatures") {
    val live = Dedup.simhashSignatures(Tables.documents(spark, dir))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val staged = Dedup.SimhashSigs.table(spark, dir)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(staged == live)
  }

  test("verify grid side: balance floor on small corpora, memory-driven rise on big ones") {
    val g8 = 8L << 30
    // small corpus: the sqrt(2p) balance floor governs
    assert(Dedup.gridSideFor(0L, g8, 32) == 8)
    assert(Dedup.gridSideFor(10L << 20, g8, 32) == 8)
    // the round-11 OOM shape: ~1.2 GB of shingle hashes, 8 GB heap,
    // 32 concurrent tasks — B must rise so one cell map fits the
    // per-task budget (maxHeap/4/parallelism since round 13)
    val b = Dedup.gridSideFor(1200L << 20, g8, 32)
    assert(b > 8, s"B=$b did not rise for a heap-exceeding corpus")
    val budget = g8 / 4 / 32
    assert(2.0 * (1200L << 20) / b <= budget, s"cell map at B=$b still exceeds the budget")
    // more heap relaxes B back toward the floor
    assert(Dedup.gridSideFor(1200L << 20, 48L << 30, 32) == 8)
  }

  test("grid cell tokens route each cell to its own partition under Spark's hash()") {
    // the one-cell-per-partition memory model depends on
    // pmod(murmur3(token_c), b²) == c under Spark's own
    // HashPartitioning — pin the seed-42 int-hash contract
    import spark.implicits._
    for (bsq <- Seq(4, 25, 169)) {
      val toks = Dedup.cellTokens(bsq)
      assert(toks.length == bsq)
      val routed = toks.toSeq.zipWithIndex.toDF("t", "cell")
        .select(col("cell"), expr(s"pmod(hash(t), $bsq)").as("p"))
        .filter(col("cell") =!= col("p")).count()
      assert(routed == 0, s"bsq=$bsq: ${routed} cells route to a foreign partition")
    }
  }

  test("minhash signatures are deterministic across partitionings") {
    val docs = Tables.documents(spark, dir)
    val a = Dedup.minhashSignatures(docs).orderBy("doc_id").collect()
    val b = Dedup.minhashSignatures(docs.repartition(7)).orderBy("doc_id").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("simhash: identical docs collide, near-dups are close, disjoint docs are far") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy cat again and again today"),
      (4L, "completely different words about spark shuffles partitions and codegen"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) < java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)))
  }

  test("dedup_exact groups duplicate content") {
    import spark.implicits._
    val docs = Seq((10L, "same text"), (11L, "same text"), (12L, "other text"))
      .toDF("doc_id", "text")
    val out = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(10L -> 2L, 12L -> 1L))
  }

  test("embedding cosine is symmetric-bounded and the exact pairs clear the threshold") {
    val pairs = Dedup.dedupEmbedding(spark, dir).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= Dedup.CosineThreshold && r.getDouble(2) <= 1.0)
    }
  }

  test("no dedup candidate generation uses a cartesian product (except the documented baseline)") {
    val plans = Seq(
      "dedup_ngram_jaccard" -> Dedup.dedupNgramJaccard(spark, dir),
      "dedup_minhash_lsh" -> Dedup.dedupMinhashLsh(spark, dir),
      "dedup_simhash" -> Dedup.dedupSimhash(spark, dir))
    plans.foreach { case (name, df) =>
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("CartesianProduct") && !physical.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains an all-pairs join:\n$physical")
    }
  }

  test("a null doc_id fails loudly instead of being remapped to a sentinel") {
    import spark.implicits._
    // two null-id docs remapped to one sentinel identity would emit
    // spurious pairs; the contract is "no null doc_ids" and a
    // violation must throw, not guess (ADVICE r5 #4)
    val docs = Seq((Option(1L), "aaaa bbbb cccc dddd eeee"),
      (Option.empty[Long], "aaaa bbbb cccc dddd eeee"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] { Dedup.sharedShingleArrays(docs).collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("null doc_id")),
      s"expected the null-doc_id raise_error, got: ${messages(ex)}")
    // a well-formed corpus is untouched by the guard, and
    // shingle-less docs (text shorter than one shingle) are dropped
    // at the source — they can never join a candidate pair, and the
    // raw-column predicate keeps the exclusion identical across
    // every consumer branch (no post-kernel filter to push down)
    val ok = Dedup.sharedShingleArrays(
      Seq((1L, "aaaa bbbb cccc dddd eeee"), (2L, "bbbb cccc dddd eeee ffff"),
        (3L, "too short")).toDF("doc_id", "text"))
    assert(ok.count() == 2)
  }

  test("window-hash kernel: rolling update equals direct per-window hashing") {
    // the Rabin-Karp rolling recurrence must reproduce the direct
    // polynomial of every window — a wrong P^(k-1) or a sign slip
    // corrupts all windows past the first; checked on text with
    // repeats, multibyte code points, and lengths around k
    import graft.functions.TextKernels
    val P = 0x100000001b3L
    def direct(s: String, k: Int): Seq[Long] = {
      val cps = s.codePoints().toArray
      (0 to cps.length - k).map { i =>
        var h = 0L
        (i until i + k).foreach(j => h = h * P + cps(j))
        h
      }
    }
    for (s <- Seq("abcabcabcabc", "the quick brown fox", "ééé日本語テキストのサンプル", "ab");
         k <- Seq(2, 3, 5)) {
      val got = TextKernels.windowHashes(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), k)
      val want = direct(s, k)
      assert(got.toLongArray().toSeq == want, s"text='$s' k=$k")
    }
    // shorter than one window -> empty, exactly length(s) - k + 1 otherwise
    assert(TextKernels.windowHashes(
      org.apache.spark.unsafe.types.UTF8String.fromString("ab"), 3).numElements() == 0)
  }

  test("dedup_substring: planted spans are duplicated, unique text is not") {
    // two docs sharing a long exact span + one unique doc: shared
    // windows are duplicated in BOTH docs, every window of the
    // unique doc is clean; the internal-repeat doc duplicates
    // against ITSELF (Lee et al.'s criterion counts total
    // occurrences, not distinct docs)
    import spark.implicits._
    val k = Dedup.SubstringK
    val span = "zqxwvutsrqponmlkjihgfedcba0123456789ABCDEFGHIJ" // 46 chars, > k
    val docs = Seq(
      (0L, s"left $span right"),
      (1L, s"other $span tail"),
      (2L, "completely unique text with no repeated windows at all, long enough to have windows"),
      (3L, span + span) // self-repeat
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val tmp = java.nio.file.Files.createTempDirectory("substr").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.dedupSubstring(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 2: zero duplicated windows
    assert(out(2L)._2 == 0L)
    // docs 0 and 1: exactly the shared region's k-windows are
    // duplicated — and the shared region includes the flanking
    // SPACES both docs put around the span (" span " = 48 chars ->
    // 48-k+1 windows), a reminder that exact-substring dedup sees
    // characters, not tokens
    val shared = s" $span "
    assert(out(0L)._2 == (shared.length - k + 1).toLong)
    assert(out(1L)._2 == (shared.length - k + 1).toLong)
    // doc 3 duplicates against itself: every window of the doubled
    // span that appears twice counts; at least the two full-span
    // copies' windows are dup (window counts are per POSITION)
    assert(out(3L)._2 > 0L)
    // n_windows bookkeeping: length - k + 1 per doc
    assert(out(0L)._1 == (s"left $span right".length - k + 1).toLong)
  }

  test("substring incremental is exactly the full profile restricted to the slice") {
    // family convention: the fresh-crawl form must equal the full
    // sweep filtered to slice docs — totals count the WHOLE corpus
    // either way, so a slice doc duplicated only against old text
    // still profiles as duplicated
    val full = Dedup.dedupSubstring(spark, dir)
    // split over the DOCUMENTS table's max id (the operator's own
    // convention), not the profile's — a short max-id doc is absent
    // from the profile but still moves the split
    val split = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
    val want = full.filter(col("doc_id") >= split).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val got = Dedup.dedupSubstringIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.nonEmpty && got == want)
  }

  test("clean incremental is exactly the full cleaner restricted to the slice") {
    val full = Dedup.dedupSubstringClean(spark, dir)
    val split = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
    val want = full.filter(col("doc_id") >= split).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    val got = Dedup.dedupSubstringCleanIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(got.nonEmpty && got == want)
  }

  test("strip kernel: interval merge, adjacency, full cover, multibyte, empty pass-through") {
    import graft.functions.TextKernels
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def strip(s: String, ps: Seq[Int], k: Int): String =
      TextKernels.stripDupWindows(UTF8String.fromString(s),
        new GenericArrayData(ps.toArray.asInstanceOf[Array[Int]].map(Int.box): Array[Any]), k)
        .toString
    def spans(ps: Seq[Int], k: Int): Int =
      TextKernels.dupSpanCount(
        new GenericArrayData(ps.toArray.asInstanceOf[Array[Int]].map(Int.box): Array[Any]), k)
    val t = "0123456789abcdefghij" // 20 chars
    assert(strip(t, Seq(), 3) == t && spans(Seq(), 3) == 0)
    // one window [2,5)
    assert(strip(t, Seq(2), 3) == "01" + "56789abcdefghij" && spans(Seq(2), 3) == 1)
    // overlap [2,5)+[4,7) merges to [2,7)
    assert(strip(t, Seq(2, 4), 3) == "01" + "789abcdefghij" && spans(Seq(2, 4), 3) == 1)
    // adjacency [2,5)+[5,8) merges (contiguous duplicated run)
    assert(strip(t, Seq(2, 5), 3) == "01" + "89abcdefghij" && spans(Seq(2, 5), 3) == 1)
    // gap > 0 chars between covers -> two spans
    assert(strip(t, Seq(2, 8), 3) == "01" + "567" + "bcdefghij" && spans(Seq(2, 8), 3) == 2)
    // full cover -> empty
    assert(strip("abcd", Seq(0, 1), 3) == "" && spans(Seq(0, 1), 3) == 1)
    // code points, not UTF-16 units: é and 日 are single positions
    assert(strip("ééé日本語xx", Seq(1, 4), 3) == "é" + "x")
  }

  test("dedup_substring_clean: planted spans are removed, clean docs pass through byte-identical") {
    import spark.implicits._
    val k = Dedup.SubstringK
    val span = "zqxwvutsrqponmlkjihgfedcba0123456789ABCDEFGHIJ" // 46 > k
    val unique = "completely unique text with no repeated windows at all, long enough to have windows"
    val docs = Seq(
      (0L, s"left $span right"),
      (1L, s"other $span tail"),
      (2L, unique),
      (3L, "shorty") // below k: untouched by construction
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val tmp = java.nio.file.Files.createTempDirectory("substrclean").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.dedupSubstringClean(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // clean/short docs: byte-identical pass-through
    assert(out(2L) == ((unique.length.toLong, 0L, 0L, md5hex(unique))))
    assert(out(3L) == ((6L, 0L, 0L, md5hex("shorty"))))
    // planted docs: the duplicated region is " span " (flanking
    // spaces shared); covered chars = union of its k-windows =
    // exactly that region; the kept text is the complement
    val sharedLen = span.length + 2
    val clean0 = "left" + " right".drop(1) // "left" + the chars after the removed " span "
    val expect0 = s"left $span right".patch(4, "", sharedLen)
    assert(clean0 == expect0) // sanity of the hand calculation itself
    assert(out(0L) == ((expect0.length.toLong, sharedLen.toLong, 1L, md5hex(expect0))))
    val expect1 = s"other $span tail".patch(5, "", sharedLen)
    assert(out(1L) == ((expect1.length.toLong, sharedLen.toLong, 1L, md5hex(expect1))))
  }

  /** The sparse verify route's plan carries its `array_intersect`
    * pair join; the grid routes' plans do not. */
  private def verifyRoute(df: org.apache.spark.sql.DataFrame): String =
    if (df.queryExecution.analyzed.exists(_.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ArrayIntersect])))) "sparse"
    else "grid"

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("sparse staged verify path emits exactly the classic grid's pairs") {
    // the large-volume regime (candidates staged, docs side pruned
    // to candidate-touched ids, B sized to the touched volume) is
    // pure plumbing — force it with a zero volume floor and pin
    // equality on the minhash and sliced-ngram families
    val classicLsh = pairsOf(Dedup.dedupMinhashLsh(spark, dir))
    val classicInc = pairsOf(Dedup.dedupMinhashLshIncremental(spark, dir))
    // Run the sparse path with its orphan-candidate audit on: the
    // "cannot happen by construction" invariant (every candidate's
    // doc ids exist in the shingle relation) stays loud here, where
    // the grid paths throw natively.
    spark.conf.set("graft.verify.auditSparse", "true")
    try {
      val lshDf = Dedup.dedupMinhashLsh(spark, dir, false, 0L, Dedup.DenseCandRatio)
      val incDf = Dedup.dedupMinhashLshIncremental(spark, dir, false, 0L, Dedup.DenseCandRatio)
      val sparseLsh = pairsOf(lshDf)
      val sparseInc = pairsOf(incDf)
      assert(classicLsh.nonEmpty && sparseLsh == classicLsh)
      assert(classicInc.nonEmpty && sparseInc == classicInc)
      // this corpus's banded candidates are near-dup-rate sparse, so
      // the density check must have picked the pair join
      assert(verifyRoute(lshDf) == "sparse" && verifyRoute(incDf) == "sparse")
    } finally spark.conf.unset("graft.verify.auditSparse")
  }

  test("density-aware routing: a near-dup-saturated corpus routes banded verify to the grid") {
    // r16 (VERDICT r14 item 3): banded→sparse used to be family-
    // static; a crawl where the same page recurs dozens of times
    // makes the BANDED candidate relation dense (every copy collides
    // with every copy in every band — quadratic rows over a linear
    // corpus), the regime the grid's bounded replication exists for.
    // Plant exactly that corpus: 24 near-identical docs (tiny suffix
    // edits, Jaccard >= threshold) + a few distinct ones. Band
    // collisions ≈ 16 bands × C(24,2) ≈ 4.4k rows over 30 docs —
    // two orders past the 4 rows/doc line.
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home " * 4
    val docs = ((0 until 24).map(i => (i.toLong, base + ("x" * (i % 3)))) ++
      Seq((100L, "entirely unrelated content about spark partitions and shuffles"),
        (101L, "another distinct document concerning columnar storage formats"),
        (102L, "a third unique text on approximate membership structures")))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val tmp = java.nio.file.Files.createTempDirectory("densecorpus").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // a zero volume floor engages the above-floor regime, where a
    // grid route is the dense-grid one
    val autoDf = Dedup.dedupMinhashLsh(spark, tmp, false, 0L, Dedup.DenseCandRatio)
    assert(verifyRoute(autoDf) == "grid", "dense banded corpus routed sparse, expected dense-grid")
    val auto = pairsOf(autoDf)
    assert(auto.nonEmpty)
    // pairs identical whichever way the router decides: force the
    // sparse path on the same corpus by raising the density line
    val sparseDf = Dedup.dedupMinhashLsh(spark, tmp, false, 0L, 1e18)
    assert(verifyRoute(sparseDf) == "sparse")
    val sparse = pairsOf(sparseDf)
    assert(sparse == auto)
  }

  test("zero candidate pairs: verify grid returns empty, not an AQE partition-count crash") {
    // A duplicate-free corpus is the NORMAL case for
    // decontaminate_fuzzy (clean corpus, no leakage) and possible
    // for every dedup entry — and with AQE's empty-relation
    // propagation a runtime-empty candidate relation can collapse
    // through the grid's RepartitionByExpression into a 0/1-partition
    // local scan, breaking zipPartitions' equal-count contract
    // (ADVICE r13). Docs with fully disjoint character sets share no
    // shingle, so the PPJoin candidate join is empty by construction.
    import spark.implicits._
    val docs = Seq(
      (0L, "a" * 80),
      (1L, "b" * 80),
      (2L, "c" * 80),
      (3L, "d" * 80)
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val tmp = java.nio.file.Files.createTempDirectory("nocand").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(Dedup.dedupNgramJaccard(spark, tmp).collect().isEmpty)
    assert(Dedup.dedupMinhashLsh(spark, tmp).collect().isEmpty)
    // degenerate twin: every doc SHORTER than ShingleN — the shingle
    // relation itself is empty, so emptiness is visible a stage
    // earlier in the plan
    val shorts = Seq((0L, "aa"), (1L, "bb"), (2L, "cc"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val tmp2 = java.nio.file.Files.createTempDirectory("nocand2").toString
    shorts.write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    assert(Dedup.dedupNgramJaccard(spark, tmp2).collect().isEmpty)
    assert(Dedup.dedupMinhashLsh(spark, tmp2).collect().isEmpty)
  }
}
