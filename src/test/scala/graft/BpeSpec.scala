package graft

import graft.functions.BpeCodec
import graft.operators.Bpe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def codecOf(merges: Seq[(String, String)]): BpeCodec =
    new BpeCodec(merges.flatMap { case (l, r) => Seq(l, r) }.toArray)

  test("trainMerges learns the hand-checkable sequence and tie-breaks deterministically") {
    // vocab {aaab: 2}: pair counts round 1 — (a,a) weighted 2 at two
    // positions = 4, (a,b) = 2 → merge (a,a) → [aa, a, b].
    // round 2 — (aa,a) = 2, (a,b) = 2: tie broken lexicographically
    // on (lhs, rhs) ascending → ("a","b") < ("aa","a") → merge (a,b)
    // → [aa, ab]. round 3 — (aa,ab) = 2 → merge. round 4 — no pairs.
    val merges = Bpe.trainMerges(Seq(("aaab", 2L)), 10)
    assert(merges == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))

    // MinPairCount: a pair seen once is never learned
    assert(Bpe.trainMerges(Seq(("xy", 1L)), 10).isEmpty)
  }

  test("codec encodes known words under hand merges (sequential-replace semantics)") {
    val c = codecOf(Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    def n(s: String) = c.tokenCount(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    assert(n("aaab") == 1)       // a a a b → aa a b → aa ab → aaab
    assert(n("aab") == 2)        // a a b → aa b; (a,b) no longer adjacent
    assert(n("aaa") == 2)        // left-to-right non-overlap: aa, a
    assert(n("aaaa") == 2)       // a a a a → aa aa; no (aa,aa) rule
    assert(n("b") == 1)
    assert(n("") == 0)
    assert(n("aaab aab b") == 4) // per-word, space-separated
  }

  test("codec equals the replace-chain reference form on the real corpus") {
    val docs = Tables.documents(spark, dir)
    val merges = Bpe.MergeTable.table(spark, dir).orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty, "training should learn merges on the real corpus")
    val codec = codecOf(merges)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val kernel = ColumnBridge.column(graft.functions.BpeTokenCountExpr(
      ColumnBridge.expression(col("c")), codec))
    val both = docs.select(col("doc_id"), Bpe.cleanedCol(col("text")).as("c"))
      .select(col("doc_id"), kernel.as("k"),
        Bpe.replaceChainCount(col("c"), merges).as("ref"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"doc ${r.getLong(0)}: kernel ${r.getLong(1)} != replace-chain ${r.getLong(2)}"))
  }

  test("entry emits consistent counts and BPE compresses below char tokenization") {
    val out = operators.Bpe.textTokensBpe(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nWords, nAlnum, nTokens, nTokens64) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nWords > 0)
      // every word is ≥1 token and ≤ its char count
      assert(nTokens >= nWords, s"doc ${r.getLong(0)}: fewer tokens than words")
      assert(nTokens <= nAlnum, s"doc ${r.getLong(0)}: more tokens than chars")
      // a rank-prefix vocabulary can only split MORE finely
      assert(nTokens64 >= nTokens && nTokens64 <= nAlnum,
        s"doc ${r.getLong(0)}: sub-vocab count $nTokens64 outside [$nTokens, $nAlnum]")
    }
    // learned merges must actually compress on the corpus they came from
    val avgCpt = out.map(_.getDouble(5)).sum / out.length
    assert(avgCpt > 1.5, s"mean chars-per-token $avgCpt — merges are not compressing")
  }

  test("corpus training saturates below the 4k cap; every vocabulary word is one token") {
    // the synthetic corpus carries ~31 distinct words, so the
    // learnable merge count is Σ(len(w)-1)-bounded — training must
    // terminate naturally, far under BpeMerges, with the whole
    // vocabulary collapsed to single symbols (the documented
    // saturation regime the 4k cap exposes)
    val merges = Bpe.MergeTable.table(spark, dir).orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.length < Bpe.BpeMerges,
      s"training hit the ${Bpe.BpeMerges} cap on a 31-word corpus — saturation logic broken")
    assert(merges.length > Bpe.SubVocabRanks,
      "corpus must learn beyond the 64-rank sub-vocabulary or n_tokens_64 stops discriminating")
    val out = operators.Bpe.textTokensBpe(spark, dir).collect()
    out.foreach { r =>
      assert(r.getLong(3) == r.getLong(1),
        s"doc ${r.getLong(0)}: saturated vocab must emit one token per word " +
          s"(n_tokens ${r.getLong(3)} != n_words ${r.getLong(1)})")
    }
    // the pinned 64-merge sub-vocabulary still splits sub-word
    // corpus-wide — this is the column where a kernel defect cannot
    // hide behind saturation
    assert(out.map(_.getLong(4)).sum > out.map(_.getLong(1)).sum,
      "64-rank counts degenerate to word counts across the corpus")
  }

  test("n_tokens_64 equals the replace-chain under the 64-rank merge prefix") {
    val docs = Tables.documents(spark, dir)
    val merges = Bpe.mergesList(spark, dir)
    val sub = merges.take(Bpe.SubVocabRanks)
    val codec64 = Bpe.codecOf(sub)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val kernel = ColumnBridge.column(graft.functions.BpeTokenCountExpr(
      ColumnBridge.expression(col("c")), codec64))
    val bad = docs.select(Bpe.cleanedCol(col("text")).as("c"))
      .select(kernel.as("k"), Bpe.replaceChainCount(col("c"), sub).as("ref"))
      .filter(col("k") =!= col("ref")).count()
    assert(bad == 0, s"$bad rows where the 64-rank kernel diverges from the replace chain")
  }

  test("4k-scale vocabulary: training reaches the cap and the kernel matches the replace fold") {
    // a rich deterministic pseudo-vocabulary (seeded) whose
    // Σ(len(w)-1) exceeds BpeMerges — training must RUN to the 4096
    // cap (the realistic-tokenizer regime the corpus cannot reach),
    // and the codec must agree with the defining sequential-replace
    // form at full 4k depth. Plain-string reference: java
    // String.replace is literal and left-to-right, exactly the
    // oracle's replace() semantics.
    val rnd = new scala.util.Random(42)
    val words = (0 until 1600).map { _ =>
      val len = 7 + rnd.nextInt(6)
      (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    val counts = words.map(w => (w, 5L))
    val merges = Bpe.trainMerges(counts, Bpe.BpeMerges)
    assert(merges.length == Bpe.BpeMerges,
      s"expected training to reach the ${Bpe.BpeMerges}-merge cap, got ${merges.length}")
    def refCount(w: String): Long = {
      if (w.isEmpty) return 0L
      var s = w.flatMap(c => s"_${c}_")
      merges.foreach { case (l, r) => s = s.replace(s"_${l}__${r}_", s"_${l}${r}_") }
      (s.length - s.replace("__", "_").length) + 1L
    }
    val codec = Bpe.codecOf(merges)
    def kc(s: String) = codec.tokenCount(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    // in-vocabulary words, unseen words sharing the alphabet, and
    // multi-word strings
    val probes = words.take(50) ++ Seq("zzzzzzzzzz", "a", "", "qqq qqq qqq") ++
      (0 until 50).map(_ => (0 until 8).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    probes.foreach { p =>
      val expect = p.split(" ").filter(_.nonEmpty).map(refCount).sum
      assert(kc(p) == expect, s"'$p': kernel ${kc(p)} != replace-fold $expect at 4k merges")
    }
  }

  test("graft_bpe_clean equals the defining regex normalization byte-for-byte") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // corpus rows plus run-collapse / boundary / unicode edges: the
    // replace runs BEFORE lower, so É and 日 are just non-alnum runs
    val edge = Seq("", "   ", "!!!", "a", "A!B", "!!ABC??def##", "É é mixed",
      "日本語 TEXT 42", "tabs\tand\nnewlines", "a1B2c3", "--leading and trailing--")
      .toDF("text")
    val all = Tables.documents(spark, dir).select(col("text")).unionByName(edge)
    val bad = all.filter(
      operators.Bpe.cleanedCol(col("text")) =!=
        operators.Bpe.cleanedColRegex(col("text"))).count()
    assert(bad == 0, s"$bad rows where the clean kernel diverges from the regex")
  }
}
