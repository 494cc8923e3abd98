package graft.operators

import graft.{GraftQuery, Staged, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines
  * (SURVEY.md §2C9-C12) over the `documents` table.
  *
  * All metrics are pure codegen'd Column expressions — regex counts
  * plus integer→double divisions, both bit-deterministic across
  * engines, so every query here has an exact DuckDB oracle. Each is
  * a single projection over the scan (no shuffle at all except the
  * final presentation sort), so throughput at 100 TB is scan-bound.
  */
object TextOps {

  /** Count of regex matches in a string column. */
  private def nMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  // `\S+`-token and BPE-ish segmentations; identical RE2/Java syntax.
  // WsToken is the ONE word segmentation shared across the text
  // family (tokens/quality/unigram-lm here, sequence packing in
  // Pack) — widened so Pack cannot desync from it.
  private[operators] val WsToken = "\\S+"
  private val BpeToken = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** (doc_id, term) exploded whitespace tokens — THE shared word
    * segmentation (same `\S+` regex as the token counts above), used
    * by simhash signatures and TF-IDF so the oracled operators can
    * never disagree on word boundaries. Repartitions first to spread
    * tokenization off the single input split. */
  def whitespaceTokens(docs: DataFrame): DataFrame = {
    // pinned partition count (REPARTITION_BY_NUM), not bare
    // repartition(col): the pre-explode doc relation is BYTE-small,
    // so AQE's partition coalescing would collapse a coalescible
    // (REPARTITION_BY_COL) shuffle to ONE post-shuffle partition and
    // run the CPU-heavy tokenize+downstream-aggregate serially — the
    // whole point of the repartition is spreading that CPU across
    // cores regardless of input file count
    val p = docs.sparkSession.sparkContext.defaultParallelism
    docs.repartition(p, col("doc_id"))
      .select(col("doc_id"), explode(regexp_extract_all(col("text"), lit(WsToken), lit(0))).as("term"))
  }

  /** The fused stats kernel (see TextKernels.textStats): ONE code-
    * point pass replaces the per-entry stack of regexp_extract_all
    * counts, which benched 3-19x behind DuckDB's RE2 once the bench
    * action stopped letting Catalyst prune them (round 12). The
    * regexes remain the DEFINITION — the oracles still run them, and
    * TextOpsSpec pins kernel == regex per column on the corpus. CSE
    * evaluates the repeated subexpression once per row in the
    * collapsed projection (spec-pinned via the plan). */
  private def stats(spark: SparkSession): Column = {
    graft.functions.GraftFunctions.register(spark)
    expr("graft_text_stats(text)")
  }

  // projection-shaped entries present through graft.Present.ordered:
  // a bare orderBy's range-bound sampling re-runs the scan + kernel
  // (measured: langid 8.09 -> 3.4 s class at sf10 — see Present)
  def textTokens(spark: SparkSession, dir: String): DataFrame = {
    val st = stats(spark)
    graft.Present.ordered(
      Tables.documents(spark, dir).select(
        col("doc_id"),
        element_at(st, 1).as("n_ws_tokens"),
        element_at(st, 2).as("n_bpe_tokens")),
      col("doc_id"))
  }

  private lazy val textTokensSql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$WsToken')) AS n_ws_tokens,
       |  len(regexp_extract_all(text, '$BpeToken')) AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality signals: length, punctuation/digit/stopword ratios,
    * mean word length. Ratios are long/long → IEEE double division —
    * a single correctly-rounded op in both engines. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val st = stats(spark)
    val nChars = length(col("text")).cast("long")
    val nWords = element_at(st, 1)
    val nPunct = element_at(st, 3)
    val nDigit = element_at(st, 4)
    val nStop = element_at(st, 7) // en profile hits
    val nNonSpace = element_at(st, 5)
    graft.Present.ordered(
      d.select(
        col("doc_id"),
        nChars.as("n_chars_m"),
        (nPunct / nChars).as("punct_ratio"),
        (nDigit / nChars).as("digit_ratio"),
        (nStop / nWords).as("stopword_ratio"),
        (nNonSpace / nWords).as("mean_word_len")),
      col("doc_id"))
  }

  private lazy val textQualitySql: String =
    s"""SELECT doc_id,
       |  length(text) AS n_chars_m,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / length(text) AS punct_ratio,
       |  len(regexp_extract_all(text, '[0-9]')) / length(text) AS digit_ratio,
       |  len(regexp_extract_all(text, '${StopRe("en")}')) / len(regexp_extract_all(text, '$WsToken')) AS stopword_ratio,
       |  length(regexp_replace(text, '\\s', '', 'g')) / len(regexp_extract_all(text, '$WsToken')) AS mean_word_len
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Stopword profiles for the n-gram/stopword language-ID heuristic
    * — the single definition lives beside the fused stats kernel
    * whose hit counting must stay in sync with it. */
  val Profiles: Seq[(String, Seq[String])] = graft.functions.TextKernels.StopProfiles

  /** Case-insensitive whole-word alternation for a profile; CJK gets
    * no \b (RE2/Java word boundaries are ASCII-centric). */
  def StopRe(lang: String): String = {
    val words = Profiles.find(_._1 == lang).get._2
    if (lang == "zh") s"(${words.mkString("|")})"
    else s"(?i)\\b(${words.mkString("|")})\\b"
  }

  /** Language ID: per-language stopword hit counts; prediction is the
    * first language (alphabetical) reaching the max count — the
    * tie-break is explicit so both engines agree. */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val st = stats(spark)
    // kernel layout positions 6..10 are the profile hit counts in
    // Profiles order (de en es fr zh)
    val hits = Profiles.zipWithIndex.map { case ((l, _), i) =>
      element_at(st, 6 + i).as(s"${l}_hits")
    }
    val withHits = d.select(Seq(col("doc_id"), col("lang")) ++ hits: _*)
    val maxHits = greatest(Profiles.map(p => col(s"${p._1}_hits")): _*)
    val pred = Profiles.foldLeft(lit(null).cast("string")) { case (acc, (l, _)) =>
      when(acc.isNotNull, acc).when(col(s"${l}_hits") === maxHits, lit(l))
    }
    graft.Present.ordered(
      withHits.withColumn("lang_pred", pred)
        .select("doc_id", "lang", "lang_pred",
          "de_hits", "en_hits", "es_hits", "fr_hits", "zh_hits"),
      col("doc_id"))
  }

  // shared SQL scaffolding for the langid oracle and its eval twin —
  // one definition so a profile or tie-break change cannot make the
  // two oracles diverge
  private lazy val langidHitExprs: String = Profiles.map { case (l, _) =>
    s"  len(regexp_extract_all(text, '${StopRe(l)}')) AS ${l}_hits"
  }.mkString(",\n")
  private lazy val langidMaxExpr: String =
    s"greatest(${Profiles.map(p => s"${p._1}_hits").mkString(", ")})"
  private lazy val langidCaseExpr: String = Profiles.map { case (l, _) =>
    s"WHEN ${l}_hits = $langidMaxExpr THEN '$l'"
  }.mkString(" ")

  private lazy val textLangidSql: String =
    s"""WITH h AS (
       |SELECT doc_id, lang,
       |$langidHitExprs
       |FROM documents)
       |SELECT doc_id, lang, CASE $langidCaseExpr END AS lang_pred,
       |  de_hits, en_hits, es_hits, fr_hits, zh_hits
       |FROM h ORDER BY doc_id""".stripMargin

  /** Heuristic-quality evaluation: per-language document count,
    * correct predictions, and accuracy of `text_langid` against the
    * table's ground-truth `lang` column (SURVEY §2C11's eval entry).
    * Accuracy is long/long → IEEE double division, exact in both
    * engines. */
  def textLangidEval(spark: SparkSession, dir: String): DataFrame =
    textLangid(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang_pred") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", col("n_correct") / col("n_docs"))
      .orderBy(col("lang"))

  private lazy val textLangidEvalSql: String =
    // SUM(int) is HUGEINT in DuckDB → CAST AS BIGINT for hash parity
    s"""WITH h AS (
       |SELECT doc_id, lang,
       |$langidHitExprs
       |FROM documents),
       |p AS (SELECT lang, CASE $langidCaseExpr END AS lang_pred FROM h)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(SUM(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*) AS accuracy
       |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  // PII patterns in the regex subset Java and RE2 interpret
  // identically (character classes + bounded repetition only — no
  // word boundaries, whose \b semantics differ across engines)
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  private val UrlRe = "https?://[A-Za-z0-9./_%#?&=-]+"
  private val PhoneRe = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"

  /** PII surface counts per document — the signal a training-data
    * pipeline filters or redacts on. Pure codegen'd regex counts
    * over the scan, like the other text metrics. */
  def textPii(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // hand automata for the three fixed patterns (17x RE2 as Java
    // NFAs under the honest bench); regex parity spec-pinned and the
    // oracle keeps the regex definitions
    val pc = expr("graft_pii_counts(text)")
    graft.Present.ordered(
      Tables.documents(spark, dir).select(
        col("doc_id"),
        element_at(pc, 1).as("n_emails"),
        element_at(pc, 2).as("n_urls"),
        element_at(pc, 3).as("n_phones")),
      col("doc_id"))
  }

  private lazy val textPiiSql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(text, '$UrlRe')) AS n_urls,
       |  len(regexp_extract_all(text, '$PhoneRe')) AS n_phones
       |FROM documents ORDER BY doc_id""".stripMargin

  /** PII REDACTION — the rewrite stage downstream of [[textPii]]'s
    * counts: every match replaced by its category token via the same
    * anchored automata, chained email → url → phone exactly like the
    * nested regexp_replace oracle (both engines scan each pass's
    * output, so the composition is mirrored by construction). The
    * entry emits the audit row a pipeline keeps — doc_id plus the
    * md5 of the redacted text; the rewritten corpus itself stays in
    * the engine (`graft_pii_redact(text)` is the library column),
    * and the md5 makes the driver compare every redacted BYTE
    * without shipping 100 TB of text through the gate. One scan,
    * one codegen'd projection, the Present boundary under the
    * presentation sort — the text-family plan shape. */
  def textPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    graft.Present.ordered(
      Tables.documents(spark, dir).select(
        col("doc_id"),
        md5(expr("graft_pii_redact(text)")).as("redacted_md5")),
      col("doc_id"))
  }

  private lazy val textPiiRedactSql: String =
    s"""SELECT doc_id,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '[EMAIL]', 'g'),
       |    '$UrlRe', '[URL]', 'g'),
       |    '$PhoneRe', '[PHONE]', 'g')) AS redacted_md5
       |FROM documents ORDER BY doc_id""".stripMargin

  /** 64-bit FNV-1a document fingerprint via the native Catalyst
    * expression (graft.functions.Fnv1a64 — codegen'd, no UDF).
    * DuckDB-oracled since round 7: the fold is expressible as a
    * list_reduce over the text's UTF-8 bytes (codepoints re-encoded
    * to bytes in SQL, 128-bit HUGEINT arithmetic mod 2^64), so both
    * engines compute the identical public-domain hash bit-for-bit;
    * value-pinning additionally lives in TextOpsSpec. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    graft.Present.ordered(
      Tables.documents(spark, dir)
        .select(col("doc_id"), expr("fnv1a64(text)").as("fingerprint")),
      col("doc_id"))
  }

  /** Corpus-wide top word-bigram frequencies — the corpus-analysis
    * primitive behind stopword lists and contamination checks.
    * One explode + one partially-aggregated groupBy; the top-k is
    * a TakeOrdered, not a global sort. Bigrams come from the native
    * graft_word_bigrams kernel (one Java loop per doc): the
    * transform/element_at SQL form re-evaluates `split(text, ' ')`
    * inside the per-element lambda after projection collapse —
    * judge-measured at 3.7 s for 5,000 docs at sf0.1. */
  def textNgramFreq(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      // spread the scan off the single input split (one parquet file
      // = one partition); the shuffled text is a fraction of the
      // bigram volume it unlocks. Pinned count: see whitespaceTokens
      // (AQE would coalesce a by-col repartition of the small doc
      // relation to one partition, serializing the kernel)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(expr("graft_word_bigrams(text)")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("bigram"))
      .limit(20)
  }

  /** The OLD corpus's bigram counts — (bigram, freq) — staged once per
    * corpus version. Bigrams are intra-document (graft_word_bigrams
    * never crosses doc boundaries), so counts over disjoint doc sets
    * are additive — the tfidf/unigram-LM incrementality argument
    * applied to the n-gram census. */
  val NgramFreqState: Staged = Staged("ngram_freq.parquet") { c =>
    graft.functions.GraftFunctions.register(c.spark)
    val split = graft.operators.Dedup.incrementalSplit(c.docs).getOrElse(Long.MaxValue)
    c.docs.filter(col("doc_id") < lit(split))
      .repartition(c.spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(expr("graft_word_bigrams(text)")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("freq"))
      .write.mode("overwrite").parquet(NgramFreqState.path)
  }

  /** Steady-state n-gram census for a grown corpus: old docs'
    * bigram counts come from the persisted table (metadata-sized —
    * the distinct-bigram relation, no text), only the fresh slice
    * runs the kernel behind a pushed scan predicate, and the two
    * count sets SUM by key before the top-k. Additive counts make
    * the incrementality exact — identical output, same oracle,
    * spec-pinned. */
  def textNgramFreqIncremental(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    val split = graft.operators.Dedup.incrementalSplit(docs).getOrElse(Long.MaxValue)
    val fresh = docs.filter(col("doc_id") >= lit(split))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(expr("graft_word_bigrams(text)")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("freq"))
    NgramFreqState.table(spark, dir).unionByName(fresh)
      .groupBy(col("bigram")).agg(sum(col("freq")).as("freq"))
      .orderBy(col("freq").desc, col("bigram"))
      .limit(20)
  }

  private lazy val textNgramFreqSql: String =
    """WITH w AS (
      |  SELECT string_split(text, ' ') AS ws FROM documents
      |), b AS (
      |  SELECT ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS bigram
      |  FROM w, UNNEST(range(1, greatest(len(ws), 1))) AS t(i)
      |)
      |SELECT bigram, COUNT(*) AS freq FROM b
      |GROUP BY bigram ORDER BY freq DESC, bigram LIMIT 20""".stripMargin

  // ---- text_repetition: duplicated-ngram quality filter ----
  /** Flag threshold on the duplicated-bigram fraction, after the
    * Gopher repetition rules (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * table A1: documents with a high fraction of characters inside
    * duplicated word n-grams are boilerplate/spam and are removed
    * before training). 0.2 is the paper's duplicate-bigram cut. */
  val RepetitionDupFracMax = 0.2

  /** Per-document repetition metrics — the training-data quality
    * filter the Gopher/C4 pipelines run corpus-wide: the fraction of
    * word-bigram instances whose bigram occurs more than once in the
    * document (`dup_frac`), the share of the single most frequent
    * bigram (`top_frac`), and the resulting flag. Uses the same
    * native bigram kernel as text_ngram_freq (single-space split,
    * one Java loop per doc).
    *
    * Scale shape: explode → two partially-aggregated groupBys
    * ((doc_id, bigram) then doc_id), both map-side combined; no
    * joins, no corpus-wide state — scan-bound at 100 TB like the
    * rest of the text family. Docs with no bigram (≤1 word) have no
    * row, identically in both engines. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val p = spark.sparkContext.defaultParallelism
    val counts = Tables.documents(spark, dir)
      // pinned-count repartition: see whitespaceTokens (AQE would
      // coalesce a by-col shuffle of the byte-small doc relation to
      // one partition and run the kernel serially)
      .repartition(p, col("doc_id"))
      .select(col("doc_id"), explode(expr("graft_word_bigrams(text)")).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
    val nDup = coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), nDup.as("n_dup"), max(col("c")).as("max_c"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("n_dup").cast("double") / col("n_bigrams")).as("dup_frac"),
        (col("max_c").cast("double") / col("n_bigrams")).as("top_frac"),
        (col("n_dup").cast("double") / col("n_bigrams") >= RepetitionDupFracMax)
          .cast("long").as("flagged"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin on the same single-space bigram grammar as
    * textNgramFreqSql; long/long ratios via explicit DOUBLE casts so
    * both engines perform the identical single IEEE division. */
  private lazy val textRepetitionSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), b AS (
       |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS bigram
       |  FROM w, UNNEST(range(1, greatest(len(ws), 1))) AS t(i)
       |), c AS (
       |  SELECT doc_id, bigram, COUNT(*) AS c FROM b GROUP BY 1, 2
       |)
       |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |  CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_frac,
       |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_frac,
       |  CAST(CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
       |    >= $RepetitionDupFracMax AS BIGINT) AS flagged
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- text_unigram_lm: corpus-LM familiarity scoring ----

  /** Per-document unigram language-model score — the corpus-level
    * quality signal behind CCNet-style LM filtering (Wenzek et al.
    * 2020, "CCNet: Extracting High Quality Monolingual Datasets from
    * Web Crawl Data": rank documents by LM perplexity, keep the
    * head/middle, drop the tail). Log-free by design: mean log P(w)
    * needs libm ln(), which does not agree bit-for-bit across
    * engines (the trade tfidf_top_terms documents), so the score is
    * the mean CORPUS FREQUENCY of the document's tokens — a monotone
    * familiarity proxy with exact integer internals (`avg_cf`), plus
    * the mean DOCUMENT FREQUENCY twin (`avg_df` — how broadly the
    * doc's vocabulary is used across documents, which separates
    * "common words" from "one spammy doc repeating itself"; the
    * df/cf contrast is the same signal tfidf weighs). `tail_flag`
    * marks documents whose mean token frequency falls below the
    * corpus-wide token-weighted mean E[cf(w)] = Σcf²/Σcf (computed
    * over token occurrences, not vocabulary entries — the same
    * expectation the per-doc score estimates, so the flag is a
    * self-calibrated head/tail split with no tuned constant).
    *
    * Exactness: all counts are integer sums (order-independent);
    * the two corpus moments accumulate in DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB) — both exact 128-bit integer sums — and every
    * emitted ratio is one correctly-rounded IEEE double division of
    * identical operands, rounded to 6 places; the flag compares the
    * two already-rounded doubles, so both engines agree bitwise.
    *
    * Scale shape — ONE corpus tokenization, not three: the corpus
    * moments are computed from the per-doc relation, not from a
    * second vocabulary pass, because Σ_term cf² = Σ_docs sum_cf and
    * Σ_term cf = Σ_docs n_tokens (each token occurrence contributes
    * its term's cf exactly once either way) — so the "global model
    * statistics" fall out of the same aggregate that scores the
    * documents. The per-doc relation is then shared between its two
    * consumers (the moment aggregate and the output projection)
    * through one doc-count-sized repartition exchange (the round-5
    * multi-consumer idiom — ReusedExchange, no storage barrier),
    * and the single-row moment frame broadcasts back. Term skew
    * ("the") is bounded by the tf pre-collapse: the score join fans
    * out per DISTINCT (doc, term), not per occurrence, and AQE's
    * skew-join split covers the residual head terms at cluster
    * scale. */
  def textUnigramLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val p = docs.sparkSession.sparkContext.defaultParallelism
    // tf is the FIRST share point: the vocabulary aggregate and the
    // score join both consume the collapsed (doc_id, term, tf)
    // relation through this one exchange instead of re-tokenizing
    // the corpus. df counts doc_id ON PURPOSE (besides being the
    // classic document frequency): without a doc_id reference the
    // vocab branch would prune the column below the exchange and the
    // two copies would stop canonicalizing to one shuffle (the
    // sharedShingleArrays column-set rule).
    val tf = whitespaceTokens(docs)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .repartition(p)
    unigramLmFrom(tf)
  }

  /** Steady-state corpus-LM scoring for a grown corpus: the SAME
    * persisted (doc_id, term, tf) state table the incremental tf-idf
    * reads ([[Curation.TfidfState]] — one count table serves
    * every term-statistics consumer), unioned with the fresh slice's
    * counts (tokenize behind the pushed predicate), through the
    * identical scoring core. Counts over disjoint doc sets are
    * additive, so cf/df/moments — and every emitted number — equal
    * the full recompute (same oracle; spec-pinned row-for-row). */
  def textUnigramLmIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val split = graft.operators.Dedup.incrementalSplit(docs).getOrElse(Long.MaxValue)
    val freshTf = whitespaceTokens(docs.filter(col("doc_id") >= lit(split)))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val tf = graft.operators.Curation.TfidfState.table(spark, dir)
      .unionByName(freshTf)
      .repartition(p)
    unigramLmFrom(tf)
  }

  /** The scoring core over any (doc_id, term, tf) relation — shared
    * by the full and incremental entries. */
  private def unigramLmFrom(tf: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cf = tf.groupBy(col("term"))
      .agg(sum(col("tf")).as("cf"), count(col("doc_id")).as("df"))
    val perDoc = tf.join(cf, "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("cf")).as("sum_cf"),
        sum(col("tf") * col("df")).as("sum_df"))
      // post-kernel share point: both consumers below reuse this
      // doc-count-sized exchange instead of re-running the corpus
      // tokenize + join lineage (audited in PlanAuditSpec).
      // ROUND-ROBIN, not by-col: the broadcast join preserves the
      // upstream hash(doc_id) partitioning, so a by-col repartition
      // here is elided as redundant and the share point vanishes
      // (the sharedShingleArrays trap)
      .repartition(tf.sparkSession.sparkContext.defaultParallelism)
    // This aggregate references EVERY per-doc column (n_docs counts
    // doc_id; the two df moments use sum_df) ON PURPOSE: exchange
    // reuse compares canonicalized subtrees, and a moments branch
    // that pruned any column below the repartition would diverge
    // from the projection branch's copy — two near-identical corpus
    // pipelines instead of one (the sharedShingleArrays column-set
    // rule). Each dropped reference was measured to re-run the whole
    // tokenize+join lineage once more.
    val corpus = perDoc.agg(
      sum(col("sum_cf").cast(dec)).as("scf2"),
      sum(col("sum_df").cast(dec)).as("sdf"),
      sum(col("n_tokens").cast(dec)).as("total"),
      count(col("doc_id")).as("n_docs"))
    val avgCf = round(col("sum_cf").cast("double") / col("n_tokens").cast("double"), 6)
    val avgDf = round(col("sum_df").cast("double") / col("n_tokens").cast("double"), 6)
    val corpusAvgCf = round(col("scf2").cast("double") / col("total").cast("double"), 6)
    val corpusAvgDf = round(col("sdf").cast("double") / col("total").cast("double"), 6)
    perDoc.crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("n_tokens"), col("sum_cf"), col("sum_df"),
        avgCf.as("avg_cf"), avgDf.as("avg_df"),
        corpusAvgCf.as("corpus_avg_cf"), corpusAvgDf.as("corpus_avg_df"),
        (avgCf < corpusAvgCf).cast("long").as("tail_flag"),
        col("n_docs"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin on the shared `\S+` segmentation; HUGEINT is the
    * 128-bit exact accumulator matching Spark's DECIMAL(38,0). */
  private lazy val textUnigramLmSql: String =
    s"""WITH words AS (
       |  SELECT doc_id, UNNEST(regexp_extract_all(text, '$WsToken')) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM words GROUP BY 1, 2
       |), cf AS (
       |  SELECT term, CAST(SUM(tf) AS BIGINT) AS cf,
       |    CAST(COUNT(doc_id) AS BIGINT) AS df FROM tf GROUP BY 1
       |), per_doc AS (
       |  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       |    CAST(SUM(tf.tf * cf.cf) AS BIGINT) AS sum_cf,
       |    CAST(SUM(tf.tf * cf.df) AS BIGINT) AS sum_df
       |  FROM tf JOIN cf ON tf.term = cf.term GROUP BY 1
       |), corpus AS (
       |  -- Σ_term cf² == Σ_docs sum_cf, Σ_term cf == Σ_docs n_tokens
       |  SELECT SUM(CAST(sum_cf AS HUGEINT)) AS scf2,
       |         SUM(CAST(sum_df AS HUGEINT)) AS sdf,
       |         SUM(CAST(n_tokens AS HUGEINT)) AS total,
       |         CAST(COUNT(doc_id) AS BIGINT) AS n_docs FROM per_doc
       |)
       |SELECT doc_id, n_tokens, sum_cf, sum_df,
       |  round(CAST(sum_cf AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS avg_cf,
       |  round(CAST(sum_df AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS avg_df,
       |  round(CAST(scf2 AS DOUBLE) / CAST(total AS DOUBLE), 6) AS corpus_avg_cf,
       |  round(CAST(sdf AS DOUBLE) / CAST(total AS DOUBLE), 6) AS corpus_avg_df,
       |  CAST(round(CAST(sum_cf AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
       |    < round(CAST(scf2 AS DOUBLE) / CAST(total AS DOUBLE), 6) AS BIGINT) AS tail_flag,
       |  n_docs
       |FROM per_doc CROSS JOIN corpus ORDER BY doc_id""".stripMargin

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("text_unigram_lm", Some(textUnigramLmSql), textUnigramLm),
    // identical output (and oracle) to the full operator BY DESIGN —
    // old docs' counts come from the shared persisted term-count
    // table; only the fresh slice tokenizes
    GraftQuery("unigram_lm_incremental", Some(textUnigramLmSql), textUnigramLmIncremental),
    GraftQuery("text_repetition", Some(textRepetitionSql), textRepetition),
    GraftQuery("text_ngram_freq", Some(textNgramFreqSql), textNgramFreq),
    // identical output (and oracle) to the full operator BY DESIGN —
    // persisted bigram counts for old docs, kernel only on the fresh slice
    GraftQuery("ngram_freq_incremental", Some(textNgramFreqSql), textNgramFreqIncremental),
    GraftQuery("text_tokens", Some(textTokensSql), textTokens),
    GraftQuery("text_quality", Some(textQualitySql), textQuality),
    GraftQuery("text_langid", Some(textLangidSql), textLangid),
    GraftQuery("text_langid_eval", Some(textLangidEvalSql), textLangidEval),
    GraftQuery("text_pii", Some(textPiiSql), textPii),
    GraftQuery("text_pii_redact", Some(textPiiRedactSql), textPiiRedact),
    GraftQuery("text_fingerprint", Some(textFingerprintSql), textFingerprint))

  /** DuckDB twin of Fnv1a64.hash over a string-typed SQL expression:
    * re-encode each codepoint to its UTF-8 bytes (DuckDB exposes
    * codepoints, not bytes — the CASE covers all four encoding
    * lengths), then fold h = (h XOR byte) * prime with 128-bit
    * HUGEINT intermediates reduced mod 2^64, and map the final value
    * into signed BIGINT range to match the JVM long. list_reduce
    * seeds from the list head, so the offset basis is prepended — an
    * empty string folds to the basis, same as the kernel. Shared by
    * the fingerprint oracle here and Dedup's simhash oracle. */
  /** The unsigned fold, as a HUGEINT-typed SQL expression over
    * `strExpr`. Wrap with [[signedInt64Sql]] (naming the projected
    * fold once) to land in JVM-long range. */
  private[operators] def fnv1a64FoldSql(strExpr: String): String =
    s"""list_reduce(
       |list_prepend(14695981039346656037::HUGEINT, list_transform(flatten(list_transform(
       |  list_transform(range(1, length($strExpr)+1), i -> unicode(substring($strExpr, CAST(i AS INT), 1))),
       |  cp -> CASE
       |    WHEN cp < 128 THEN [cp]
       |    WHEN cp < 2048 THEN [192 + cp//64, 128 + cp%64]
       |    WHEN cp < 65536 THEN [224 + cp//4096, 128 + (cp//64)%64, 128 + cp%64]
       |    ELSE [240 + cp//262144, 128 + (cp//4096)%64, 128 + (cp//64)%64, 128 + cp%64]
       |  END)), x -> CAST(x AS HUGEINT))),
       |(h, x) -> (xor(h, x) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)""".stripMargin

  /** Map an unsigned-64 HUGEINT expression into signed BIGINT range
    * (two's-complement reinterpretation, the JVM long's view). */
  private[operators] def signedInt64Sql(hExpr: String): String =
    s"""CAST(CASE WHEN $hExpr >= 9223372036854775808::HUGEINT
       |          THEN $hExpr - 18446744073709551616::HUGEINT ELSE $hExpr END AS BIGINT)""".stripMargin

  private lazy val textFingerprintSql: String =
    s"""SELECT doc_id, ${signedInt64Sql("h")} AS fingerprint
       |FROM (SELECT doc_id, ${fnv1a64FoldSql("text")} AS h FROM documents)
       |ORDER BY doc_id""".stripMargin
}
