package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PackSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  import operators.Pack

  test("pack_sequences: exact Budget fill everywhere but each bucket's tail, zero token loss") {
    val seqs = Pack.packSequences(spark, dir).collect()
    assert(seqs.nonEmpty)
    val byBucket = seqs.groupBy(_.getLong(0))
    for ((b, rows) <- byBucket) {
      val sorted = rows.sortBy(_.getLong(1))
      // seq_ix is dense from 0 — the virtual stream has no holes
      assert(sorted.map(_.getLong(1)).toSeq == (0L until sorted.length).toSeq,
        s"bucket $b sequence ids must be dense")
      val (body, tail) = sorted.splitAt(sorted.length - 1)
      body.foreach(r => assert(r.getLong(3) == Pack.Budget,
        s"bucket $b seq ${r.getLong(1)}: non-tail fill ${r.getLong(3)} != ${Pack.Budget}"))
      assert(tail.head.getLong(3) <= Pack.Budget)
      // every non-tail sequence is cut mid-document or exactly at a
      // boundary; n_spanning counts the docs continuing rightward,
      // which for contiguous packing is 0 or 1
      sorted.foreach(r => assert(r.getLong(4) <= 1))
    }
    // conservation: packed tokens == corpus tokens (no padding, no loss)
    val packed = seqs.map(_.getLong(3)).sum
    val corpus = Tables.documents(spark, dir)
      .select(sum(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long")))
      .head().getLong(0)
    assert(packed == corpus, s"packed $packed != corpus tokens $corpus")
  }

  test("pack_sequences: hand-checked offsets on a tiny corpus") {
    import spark.implicits._
    // one bucket (ids all ≡ 1 mod 8), budget-crossing doc included:
    // permutation order is md5-based; recompute it here and fold the
    // greedy concat-and-chunk by hand against the operator's output.
    val docs = Seq(
      (1L, ("w " * 1500).trim),   // 1500 tokens
      (9L, ("x " * 1000).trim),   // 1000 tokens — someone crosses the 2048 cut
      (17L, ("y " * 100).trim),
      (25L, ("z " * 4500).trim))  // spans >2 full sequences alone
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = tempDir("packspec").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Pack.packSequences(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // reference fold in plain Scala
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md5.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val perm = Seq((1L, 1500L), (9L, 1000L), (17L, 100L), (25L, 4500L))
      .sortBy { case (id, _) => (hex(id.toString), id) }
    val total = perm.map(_._2).sum
    var off = 0L
    val expect = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    for ((_, n) <- perm) {
      val s0 = off / Pack.Budget; val s1 = (off + n - 1) / Pack.Budget
      for (s <- s0 to s1) {
        val fill = math.min((s + 1) * Pack.Budget, off + n) - math.max(s * Pack.Budget, off)
        val span = if (off + n > (s + 1) * Pack.Budget) 1L else 0L
        val (d, t, sp) = expect.getOrElse(s, (0L, 0L, 0L))
        expect(s) = (d + 1, t + fill, sp + span)
      }
      off += n
    }
    assert(out.toSet == expect.toSeq.map { case (s, (d, t, sp)) => (1L, s, d, t, sp) }.toSet)
    assert(out.map(_._4).sum == total)
  }

  test("pack_sequences_bpe: model-token conservation and the shared structure invariants") {
    val seqs = Pack.packSequencesBpe(spark, dir).collect()
    assert(seqs.nonEmpty)
    for ((b, rows) <- seqs.groupBy(_.getLong(0))) {
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (0L until sorted.length).toSeq,
        s"bucket $b sequence ids must be dense")
      sorted.dropRight(1).foreach(r => assert(r.getLong(3) == Pack.Budget,
        s"bucket $b seq ${r.getLong(1)}: non-tail fill ${r.getLong(3)} != ${Pack.Budget}"))
      assert(sorted.last.getLong(3) <= Pack.Budget)
      sorted.foreach(r => assert(r.getLong(4) <= 1))
    }
    // conservation in MODEL tokens: packed == the BPE entry's corpus
    // total over the same merges table (docs with zero words excluded
    // by both)
    val packed = seqs.map(_.getLong(3)).sum
    val corpus = operators.Bpe.textTokensBpe(spark, dir)
      .agg(sum(col("n_tokens"))).head().getLong(0)
    assert(packed == corpus, s"packed $packed != corpus BPE tokens $corpus")
  }

  test("docs_chunk: full coverage, stride overlap, code-point semantics") {
    import spark.implicits._
    val cases = Seq(
      (1L, ""),                       // empty → one empty chunk
      (2L, "a" * 100),                // short → one chunk
      (3L, "b" * 512),                // exactly one window
      (4L, "c" * 513),                // one char past → two chunks
      (5L, "d" * 1000),
      (6L, "é" * 600))                // multibyte: chunk windows count code points
      .toDF("doc_id", "text")
    val chunks = Pack.chunksOf(cases).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
    assert(chunks(1L) == Seq(""))
    assert(chunks(2L) == Seq("a" * 100))
    assert(chunks(3L) == Seq("b" * 512))
    assert(chunks(4L) == Seq("c" * 512, "c" * (513 - 384)))
    // stride coverage: chunk i starts at i*384, len 512 ⇒ adjacent
    // chunks overlap by 128 chars and the union covers every char
    val d5 = chunks(5L)
    assert(d5.length == 3 && d5(0).length == 512 && d5(1).length == 512 && d5(2).length == 1000 - 2 * 384)
    assert(("d" * 1000).substring(384, 384 + 512) == d5(1))
    val e = chunks(6L)
    assert(e.length == 2 && e(0) == "é" * 512 && e(1) == "é" * (600 - 384))
  }

  test("docs_chunk: every corpus char is covered and chunks reassemble the document") {
    val doc = Tables.documents(spark, dir).orderBy(col("doc_id")).limit(1)
    val text = doc.head().getAs[String]("text")
    val chunks = Pack.chunksOf(doc).orderBy(col("chunk_ix")).collect().map(_.getString(2))
    val rebuilt = chunks.zipWithIndex.map { case (c, i) =>
      if (i == chunks.length - 1) c else c.substring(0, math.min(c.length, 384))
    }.mkString
    assert(rebuilt == text)
  }

  test("shard_shuffle: every doc placed once, dense positions, exact offsets, md5 assignment") {
    val out = Pack.shardShuffle(spark, dir).collect()
    val nDocs = Tables.documents(spark, dir).count()
    assert(out.length == nDocs, "placement is total: one row per document")
    assert(out.map(_.getLong(0)).distinct.length == out.length, "one placement per doc")
    // shard assignment is the md5-prefix formula, recomputed JVM-side
    val md = java.security.MessageDigest.getInstance("MD5")
    out.foreach { r =>
      val hex = md.digest(r.getLong(0).toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getLong(1) == java.lang.Long.parseLong(hex.take(8), 16) % Pack.DefaultShards,
        s"doc ${r.getLong(0)}: shard_ix diverges from the md5-prefix assignment")
    }
    for ((shard, rows) <- out.groupBy(_.getLong(1))) {
      val sorted = rows.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq == (1L to sorted.length).toSeq,
        s"shard $shard positions must be dense from 1")
      // token_offset is the exact running total of everything before
      var acc = 0L
      sorted.foreach { r =>
        assert(r.getLong(4) == acc,
          s"shard $shard pos ${r.getLong(2)}: offset ${r.getLong(4)} != running total $acc")
        acc += r.getLong(3)
      }
    }
  }

  test("shard_shuffle_bpe: placement is measure-independent; measures equal the BPE entry") {
    // shard assignment and within-shard order derive only from
    // md5(doc_id) — swapping the token measure must not move a doc
    val words = Pack.shardShuffle(spark, dir)
      .select("doc_id", "shard_ix", "shard_pos").collect().map(_.toString).sorted
    val bpe = Pack.shardShuffleBpe(spark, dir)
      .select("doc_id", "shard_ix", "shard_pos").collect().map(_.toString).sorted
    assert(bpe.nonEmpty)
    assert(words.toSeq == bpe.toSeq)
    // and the BPE layout's measure column is the text_tokens_bpe count
    val fromLayout = Pack.shardShuffleBpe(spark, dir)
      .select("doc_id", "n_tokens").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromEntry = operators.Bpe.textTokensBpe(spark, dir)
      .select("doc_id", "n_tokens").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fromEntry.foreach { case (id, n) =>
      assert(fromLayout(id) == n, s"doc $id: layout measure ${fromLayout(id)} != entry $n")
    }
    // wordless docs (absent from the entry's word join) count 0
    fromLayout.keySet.diff(fromEntry.keySet).foreach { id =>
      assert(fromLayout(id) == 0L, s"wordless doc $id has nonzero measure")
    }
  }

  test("shard_shuffle_incremental equals the full recompute row-for-row") {
    // persisted measures for old docs + live kernel for the slice
    // must reproduce the full placement exactly (the measure staging
    // is deterministic, and the layout window sees identical input)
    val full = Pack.shardShuffle(spark, dir).collect().map(_.toSeq).toSeq
    val inc = Pack.shardShuffleIncremental(spark, dir).collect().map(_.toSeq).toSeq
    assert(inc == full)
  }

  test("shard_shuffle: appends interleave — existing docs keep shard and relative order") {
    // assignment is per-doc (hash), so growing the corpus must not
    // move any existing doc across shards or reorder surviving
    // pairs within a shard — new docs only interleave. This is the
    // property that makes incremental shard maintenance possible at
    // all (a corpus-size-dependent assignment would reshuffle
    // everything on every append).
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long").as("n_tokens"))
    val cut = Tables.documents(spark, dir).agg(max(col("doc_id"))).head.getLong(0) / 2
    val full = Pack.shardsOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val prefix = Pack.shardsOf(docs.filter(col("doc_id") <= cut)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(prefix.nonEmpty && prefix.length < full.size)
    prefix.foreach { case (id, shard, _) =>
      assert(full(id)._1 == shard, s"doc $id changed shard on append") }
    for ((shard, rows) <- prefix.groupBy(_._2)) {
      val byPrefixOrder = rows.sortBy(_._3).map(_._1).toSeq
      val byFullOrder = rows.map(_._1).sortBy(id => full(id)._2).toSeq
      assert(byPrefixOrder == byFullOrder,
        s"shard $shard: surviving docs reordered by the append")
    }
  }
}
