package graft

import graft.functions.Fnv1a64
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("langid identifies real multilingual samples") {
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat sat on the mat and it is happy that you came for tea"),
      ("de", "der hund und die katze sind nicht mit dem kind zu hause, ich bin da"),
      ("es", "el perro y la casa que están en un pueblo por la mañana con una flor"),
      ("fr", "le chien et les chats sont dans un jardin pour la nuit, c'est que des fleurs"),
      ("zh", "我们在这里的时候，他是不知道了中文的问题"))
      .toDF("lang", "text")
    val hits = operators.TextOps.Profiles.map { case (l, _) =>
      size(regexp_extract_all(col("text"), lit(operators.TextOps.StopRe(l)), lit(0))).as(s"${l}_hits")
    }
    val maxHits = greatest(operators.TextOps.Profiles.map(p => col(s"${p._1}_hits")): _*)
    val pred = operators.TextOps.Profiles.foldLeft(lit(null).cast("string")) {
      case (acc, (l, _)) => when(acc.isNotNull, acc).when(col(s"${l}_hits") === maxHits, lit(l))
    }
    val out = samples.select(Seq(col("lang")) ++ hits: _*).withColumn("pred", pred)
      .select("lang", "pred").collect().map(r => r.getString(0) -> r.getString(1))
    out.foreach { case (lang, predicted) => assert(predicted == lang, s"$lang predicted as $predicted") }
  }

  test("fnv1a64 expression matches the pure-Scala hash and public test vectors") {
    // public FNV-1a 64-bit vectors
    assert(Fnv1a64.hash("") == 0xcbf29ce484222325L)
    assert(Fnv1a64.hash("a") == 0xaf63dc4c8601ec8cL)

    import spark.implicits._
    functions.GraftFunctions.register(spark)
    val inputs = Seq("", "a", "hello world", "ümläut 中文", null)
    val df = inputs.toDF("s").select(col("s"), expr("fnv1a64(s)").as("h"))
    df.collect().foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else assert(r.getLong(1) == Fnv1a64.hash(r.getString(0)), s"mismatch for '${r.getString(0)}'")
    }
    // identical result with codegen disabled (interpreted path)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = inputs.toDF("s").select(expr("fnv1a64(s)")).collect()
      val gen = df.select("h").collect()
      assert(interp.map(_.toString).toSeq == gen.map(_.toString).toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("vec_dot/vec_sqdist kernels are bit-identical to the SQL fold forms") {
    import spark.implicits._
    functions.GraftFunctions.register(spark)
    val vecs = Seq(
      (Seq(1.5, -2.25, 3.125, 0.1), Seq(0.5, 4.0, -1.25, 0.3)),
      (Seq(0.0, 0.0), Seq(0.0, -0.0)),
      (Seq(1e-300, 1e300, -1e300), Seq(1e300, 1.0, 1.0))).toDF("a", "b")
    val rows = vecs.select(
      expr("vec_dot(a, b)"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, p) -> acc + p)"),
      expr("vec_sqdist(a, b)"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D, (acc, p) -> acc + p)")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"dot mismatch: $r")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)), s"sqdist mismatch: $r")
    }
    // interpreted path agrees with codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = vecs.select(expr("vec_dot(a, b)"), expr("vec_sqdist(a, b)")).collect()
      val gen = rows.map(r => (r.getDouble(0), r.getDouble(2)))
      assert(interp.map(r => (r.getDouble(0), r.getDouble(1))).toSeq == gen.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("pii patterns count emails, urls, and phone numbers") {
    import spark.implicits._
    val df = Seq(
      "reach me at jo.doe+x@lab-7.example.org or 555-123-4567 soon",
      "see https://example.org/a/b?q=1#frag and http://x.io twice",
      "no pii here, just text with an @ and 12-34 fragments").toDF("text")
      .withColumn("doc_id", org.apache.spark.sql.functions.monotonically_increasing_id())
    val tmp = tempDir("graft_pii").toString
    df.select("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = operators.TextOps.textPii(spark, tmp).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, 0L, 1L)), out.mkString(", "))
    assert(out(1) == ((0L, 2L, 0L)), out.mkString(", "))
    assert(out(2) == ((0L, 0L, 0L)), out.mkString(", "))
  }

  test("text_repetition pins the Gopher duplicate-bigram metrics on hand-checked docs") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b a b"),              // bigrams: 3x"a b", 2x"b a" -> all duplicated
      (1L, "u v w x y z"),              // 5 distinct bigrams, none repeated
      (2L, "one two one three one two"),// 2x"one two", 3 singletons
      (3L, "solo")                      // no bigram -> no output row
    ).toDF("doc_id", "text")
    val tmp = tempDir("graft_rep").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = operators.TextOps.textRepetition(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (0L, 5L, 1.0, 3.0 / 5, 1L),
      (1L, 5L, 0.0, 1.0 / 5, 0L),
      (2L, 5L, 2.0 / 5, 2.0 / 5, 1L)), out.mkString(", "))
  }

  test("text_unigram_lm pins the corpus-frequency score on a hand-checked corpus") {
    import spark.implicits._
    // cf: a=3 b=2 c=1; total=6; scf2=9+4+1=14; E[cf]=14/6=2.333333
    val docs = Seq(
      (0L, "a a b"), // sum_cf = 2*3+1*2 = 8, avg 8/3 = 2.666667 -> head
      (1L, "b c"),   // sum_cf = 2+1 = 3,    avg 1.5           -> tail
      (2L, "a"),     // sum_cf = 3,          avg 3.0           -> head
      (3L, "")       // no tokens -> no row
    ).toDF("doc_id", "text")
    val tmp = tempDir("graft_ulm").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // df: a=2 b=2 c=1; doc0 sum_df=2*2+1*2=6, doc1 2+1=3, doc2 2;
    // corpus: Σsum_df=11, total=6 -> corpus_avg_df=1.833333
    val out = operators.TextOps.textUnigramLm(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getLong(8), r.getLong(9)))
    assert(out.toSeq == Seq(
      (0L, 3L, 8L, 6L, 2.666667, 2.0, 2.333333, 1.833333, 0L, 3L),
      (1L, 2L, 3L, 3L, 1.5, 1.5, 2.333333, 1.833333, 1L, 3L),
      (2L, 1L, 3L, 2L, 3.0, 2.0, 2.333333, 1.833333, 0L, 3L)), out.mkString(", "))
  }

  test("text_quality ratios are well-formed on real data") {
    val rows = operators.TextOps.textQuality(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val punct = r.getDouble(2); val digit = r.getDouble(3)
      assert(punct >= 0 && punct <= 1)
      assert(digit >= 0 && digit <= 1)
      assert(r.getDouble(5) > 0) // mean word length
    }
  }

  test("text_tokens: bpe segmentation counts >= whitespace counts") {
    val rows = operators.TextOps.textTokens(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach(r => assert(r.getLong(2) >= r.getLong(1)))
  }

  test("graft_text_stats equals the defining Java regexes column-for-column") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // corpus rows PLUS adversarial literals: \b/\w interactions the
    // run-membership shortcut must reproduce ("theory" no hit,
    // "the-and" two hits, "_the_" none — underscore is \w so no
    // boundary), ASCII-only case fold, vertical tab as Java \s,
    // multibyte letters outside \w (é creates a boundary), CJK hits
    // without \b, empty string
    val edge = Seq("", "theory theatre", "the-and", "_the_", "THE The tHe",
      "ab", "éthe", "x9the", "的是的 foo99_bar", "  leading  and  trailing  ",
      "é é é", "1the2 and3").toDF("text")
    val corpus = Tables.documents(spark, dir).select(col("text"))
    val all = corpus.unionByName(edge)
    val k = expr("graft_text_stats(text)")
    def re(p: String) =
      size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long")
    val checks = Seq(
      element_at(k, 1) === re("\\S+"),
      element_at(k, 2) === re("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"),
      element_at(k, 3) === re("[^A-Za-z0-9\\s]"),
      element_at(k, 4) === re("[0-9]"),
      element_at(k, 5) === length(regexp_replace(col("text"), "\\s", "")).cast("long")) ++
      operators.TextOps.Profiles.zipWithIndex.map { case ((l, _), i) =>
        element_at(k, 6 + i) === re(operators.TextOps.StopRe(l))
      }
    val bad = all.filter(!checks.reduce(_ && _)).count()
    assert(bad == 0, s"$bad rows where the kernel diverges from the regexes")
  }

  test("graft_pii_counts equals the defining regexes (find semantics, backtracking edges)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val edge = Seq(
      "", "a@b.cd", "a@b.c", "a@b.cd.ef", "a@b@c.de", "@b.cd", "a@.cd", "a@b.",
      "user+tag%x.y-z@mail-svr.example.co.uk", "....@....", "a@b.cd5", "a@b.CD",
      "no emails here at all", "two a@b.cd and c@d.ef emails",
      "http://x", "https://", "xhttps://ok?a=1#f", "HTTP://x", "httpss://x",
      "http://http://", "see https://a.b/c_d%e#f?g=h& end",
      "123-456-7890", "123.456.7890", "1234567890", "123-4567-890",
      "123-456-78901234", "call 555.123.4567 or 555-123-4567 now",
      "000-000-0000000-000-0000", "email a@b.cd http://u 123-456-7890 combo")
      .toDF("text")
    val all = Tables.documents(spark, dir).select(col("text")).unionByName(edge)
    val pc = expr("graft_pii_counts(text)")
    def re(p: String) =
      size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long")
    val bad = all.filter(!(
      element_at(pc, 1) === re("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+") &&
      element_at(pc, 2) === re("https?://[A-Za-z0-9./_%#?&=-]+") &&
      element_at(pc, 3) === re("[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"))).count()
    assert(bad == 0, s"$bad rows where the pii kernel diverges from the regexes")
  }

  test("ngram_freq_incremental equals the full recompute row-for-row") {
    val full = operators.TextOps.textNgramFreq(spark, dir)
      .collect().map(_.toString).toSeq
    val inc = operators.TextOps.textNgramFreqIncremental(spark, dir)
      .collect().map(_.toString).toSeq
    assert(inc.nonEmpty)
    assert(inc == full)
  }

  test("unigram_lm_incremental equals the full recompute row-for-row") {
    val full = operators.TextOps.textUnigramLm(spark, dir)
      .collect().map(_.toString).toSeq
    val inc = operators.TextOps.textUnigramLmIncremental(spark, dir)
      .collect().map(_.toString).toSeq
    assert(inc.nonEmpty)
    assert(inc == full)
  }

  test("graft_pii_redact equals the chained regexp_replace (corpus + backtracking edges)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val edge = Seq(
      "", "a@b.cd", "a@b.c", "a@b.cd.ef", "a@b@c.de", "@b.cd", "a@.cd", "a@b.",
      "user+tag%x.y-z@mail-svr.example.co.uk", "....@....", "a@b.cd5", "a@b.CD",
      "two a@b.cd and c@d.ef emails", "httpX@a.bc://path",
      "http://x", "https://", "xhttps://ok?a=1#f", "http://http://",
      "see https://a.b/c_d%e#f?g=h& end", "https://@a.bc",
      "123-456-7890", "123.456.7890", "1234567890", "123-4567-890",
      "000-000-0000000-000-0000", "call 555.123.4567 or 555-123-4567 now",
      "email a@b.cd http://u 123-456-7890 combo")
      .toDF("text")
    val all = Tables.documents(spark, dir).select(col("text")).unionByName(edge)
    def chain(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(regexp_replace(c,
        lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"), lit("[EMAIL]")),
        lit("https?://[A-Za-z0-9./_%#?&=-]+"), lit("[URL]")),
        lit("[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"), lit("[PHONE]"))
    val bad = all.filter(expr("graft_pii_redact(text)") =!= chain(col("text")))
      .select(col("text")).collect()
    assert(bad.isEmpty,
      s"redaction diverges from the regex chain on: ${bad.take(3).map(_.getString(0)).mkString(" | ")}")
  }

  test("pii redact fuzz: random pattern-dense strings match the Java regexp_replace chain") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val alpha = "a1.-@+ http:/s%2"
    val rnd = new scala.util.Random(271828)
    val strs = (1 to 4000).map { _ =>
      val len = 1 + rnd.nextInt(40)
      (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }
    def chain(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(regexp_replace(c,
        lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"), lit("[EMAIL]")),
        lit("https?://[A-Za-z0-9./_%#?&=-]+"), lit("[URL]")),
        lit("[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"), lit("[PHONE]"))
    val bad = strs.toDF("text")
      .filter(expr("graft_pii_redact(text)") =!= chain(col("text")))
      .select(col("text")).collect()
    assert(bad.isEmpty,
      s"diverging inputs: ${bad.take(5).map(_.getString(0)).mkString(" | ")}")
  }

  test("pii redact unicode fuzz: astral code points interleaved with pattern fragments") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // non-ASCII (incl. astral, i.e. surrogate-pair) code points can
    // only break matches, never form them — but they sit BETWEEN
    // fragments, so off-by-one in UTF-16 indexing would misalign the
    // anchored matchers against java.util.regex
    val frags = Array("a@b.cd", "http://x", "123-456-7890", "@", ".", "-",
      "http", "://", "cd", "9", " ")
    val exotic = Array("é", "中", "😀", "𝒜", "́")
    val rnd = new scala.util.Random(9001)
    val strs = (1 to 2000).map { _ =>
      (1 to (1 + rnd.nextInt(12))).map { _ =>
        if (rnd.nextBoolean()) frags(rnd.nextInt(frags.length))
        else exotic(rnd.nextInt(exotic.length))
      }.mkString
    }
    def chain(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(regexp_replace(c,
        lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"), lit("[EMAIL]")),
        lit("https?://[A-Za-z0-9./_%#?&=-]+"), lit("[URL]")),
        lit("[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"), lit("[PHONE]"))
    val bad = strs.toDF("text")
      .filter(expr("graft_pii_redact(text)") =!= chain(col("text")))
      .select(col("text")).collect()
    assert(bad.isEmpty,
      s"unicode divergence: ${bad.take(5).map(_.getString(0)).mkString(" | ")}")
  }

  test("pii kernel fuzz: random strings over a pattern-dense alphabet match Java find counts") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // alphabet chosen so emails/urls/phones form and break constantly
    // — dots and dashes are in several classes at once, which is
    // where the hand backtracking could diverge
    val alpha = "a1.-@+ http:/s%2"
    val rnd = new scala.util.Random(42)
    val strs = (1 to 4000).map { _ =>
      val len = 1 + rnd.nextInt(40)
      (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }
    val pc = expr("graft_pii_counts(text)")
    def re(p: String) =
      size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long")
    val bad = strs.toDF("text").filter(!(
      element_at(pc, 1) === re("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+") &&
      element_at(pc, 2) === re("https?://[A-Za-z0-9./_%#?&=-]+") &&
      element_at(pc, 3) === re("[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}")))
      .select(col("text")).collect()
    assert(bad.isEmpty, s"diverging inputs: ${bad.take(5).map(_.getString(0)).mkString(" | ")}")
  }
}
