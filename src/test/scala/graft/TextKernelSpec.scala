package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.streaming.StreamingCuration
import graft.text.{Curation, QualityClassifier, TextAnalysis}

/** The codegen'd text-tagging kernels (`TokenFilter`, `LexiconArgmax`,
  * `WsTokenStats`) against the interpreted higher-order expressions
  * they replaced, which live on here only as the reference. Every
  * kernel output must equal the reference's on hostile text, in both
  * the compiled and the interpreted evaluation mode. */
class TextKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The retired higher-order forms, verbatim. */
  private object Reference {
    def tokenize(c: Column, minLength: Int, stopwords: Seq[String]): Column =
      filter(split(lower(c), "[^a-z0-9]+"),
        t => length(t) >= minLength && !array_contains(typedLit(stopwords), t))

    def tokenFilter(tokens: Column, minLength: Int, stopwords: Seq[String]): Column =
      filter(tokens, t => length(t) >= minLength && !array_contains(typedLit(stopwords), t))

    def langId(text: Column): Column = {
      val toks = split(lower(text), "[^a-z0-9]+")
      val scored = TextAnalysis.Lexicons.map { case (lang, words) =>
        (lang, size(filter(toks, t => array_contains(typedLit(words), t))))
      }
      scored.foldLeft((lit("und"), lit(0))) { case ((bl, bs), (lang, s)) =>
        (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
      }._1
    }

    def langScore(text: Column, lang: String): Column =
      size(filter(split(lower(text), "[^a-z0-9]+"),
        t => array_contains(typedLit(TextAnalysis.Lexicons.toMap.apply(lang)), t)))

    /** (n_tokens, n_chars, n_stop, n_distinct, n_lex) of a prepared text. */
    def wsStats(prepared: Column): Seq[Column] = {
      val toks = split(prepared, "\\s+")
      Seq(size(toks),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)),
        size(filter(toks, t => array_contains(typedLit(Text.Stopwords), t))),
        size(array_distinct(toks)),
        size(filter(toks,
          t => array_contains(typedLit(TextAnalysis.Lexicons.toMap.apply("en")), t))))
    }

    def qualityScore(text: Column): Column = {
      val toks = split(trim(lower(text)), "\\s+")
      val nTok = size(toks)
      val stopRatio = size(filter(toks,
        t => array_contains(typedLit(Text.Stopwords), t))).cast("double") / nTok
      val meanLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok
      floor((
        least(nTok.cast("double") / 100.0, lit(1.0)) * 0.4 +
          (lit(1.0) - stopRatio) * 0.3 +
          least(meanLen / 8.0, lit(1.0)) * 0.3) * 1e6).cast("long")
    }
  }

  /** Null, empty, delimiter-only, tab/space-padded, case-folding
    * (İ, ß), astral-plane, RTL, vertical-tab/form-feed and repeated
    * text, plus the lexicon words of every language and their ties. */
  private val hostile: Seq[String] = Seq(
    null, "", " ", "\t", "!!!", "   \t \n ", "-", "\t the cat\t", "  and the  ",
    "\tTHE The the\t", "İstanbul İSTANBUL straße STRASSE ß", "😀 the 😀x 😀😀 for",
    "مرحبا the שלום with עברית", "a\u000Bb\fc\rd\ne", "der die das the and",
    "los las con les des est", "avec dans une sur para por una del",
    "der the los les", "x", "ab abc abcd 12 123", "the the the the the",
    "Hello, World! The small RING-bearer, of 1990!", "don't stop-words; e.g. it's",
    " nbsp the em space", "tab\tsep\tthe\twith\t\t", "and\u0000nul")

  private lazy val docs: DataFrame =
    hostile.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .repartition(3)

  /** Collects `cols` under whole-stage codegen (a compile error fails
    * instead of falling back) and under the interpreted evaluator,
    * ordered by id. */
  private def both(df: DataFrame, cols: Column*): Seq[Seq[Row]] = {
    def run(conf: (String, String)*): Seq[Row] = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try df.select(col("id") +: cols: _*).orderBy("id").collect().toSeq
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    Seq(
      run("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      run("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
  }

  private def assertSame(kernel: Column, reference: Column): Unit = {
    val a = docs.select(kernel).schema.head.dataType
    val b = docs.select(reference).schema.head.dataType
    assert(a == b, s"type $a != reference type $b")
    both(docs, kernel, reference).foreach { rows =>
      rows.foreach { r =>
        assert(r.get(1) == r.get(2),
          s"doc ${r.getLong(0)} ${hostile(r.getLong(0).toInt)}: kernel ${r.get(1)} != reference ${r.get(2)}")
      }
    }
  }

  test("token filter equals the filter(split) form: minLength 0, 1, 3 and no stopwords") {
    for (minLength <- Seq(0, 1, 3); stop <- Seq(Text.Stopwords, Nil))
      assertSame(Text.tokenize(col("text"), minLength, stop),
        Reference.tokenize(col("text"), minLength, stop))
  }

  test("token filter over arrays equals the filter form (nltkTokenize's gate)") {
    val tb = org.apache.spark.sql.graft.TextOps.treebankTokenize(col("text"))
    for (minLength <- Seq(0, 1, 3); stop <- Seq(Text.Stopwords, Nil)) {
      assertSame(Text.nltkTokenize(col("text"), minLength, stop),
        Reference.tokenFilter(tb, minLength, stop))
      // a nullable-element array drops its nulls, as the lambda's null
      // predicate does
      val withNulls = array(lit(null).cast("string"), col("text"), lit("the"))
      assertSame(
        org.apache.spark.sql.graft.TextOps.tokenFilter(withNulls, minLength, stop),
        Reference.tokenFilter(withNulls, minLength, stop))
    }
  }

  test("lexicon argmax equals the per-language filter fold (langId, langScore)") {
    assertSame(TextAnalysis.langId(col("text")), Reference.langId(col("text")))
    for ((lang, _) <- TextAnalysis.Lexicons)
      assertSame(TextAnalysis.langScore(col("text"), lang),
        Reference.langScore(col("text"), lang))
  }

  test("lexicon argmax: ties go to the code that sorts first, whatever the lexicon order") {
    val lex = Seq("zz" -> Seq("b"), "aa" -> Seq("a"), "mm" -> Seq("c"))
    val got = Seq("a b", "b", "c a b c", "", "none").toDF("t")
      .select(org.apache.spark.sql.graft.TextOps.lexiconArgmax(col("t"), lex))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("aa", "zz", "mm", "und", "und"))
  }

  test("whitespace-token stats equal size/aggregate/filter/array_distinct over split") {
    for (prep <- Seq(trim(lower(col("text"))), trim(lower(coalesce(col("text"), lit("")))),
                     col("text"))) {
      val st = org.apache.spark.sql.graft.TextOps.wsTokenStats(prep, Text.Stopwords,
        TextAnalysis.Lexicons.toMap.apply("en"))
      Seq("n_tokens", "n_chars", "n_stop", "n_distinct", "n_lex")
        .zip(Reference.wsStats(prep)).foreach { case (f, ref) => assertSame(st(f), ref) }
    }
    assertSame(TextAnalysis.qualityScore(col("text")), Reference.qualityScore(col("text")))
  }

  test("quality gate and classifier features equal their higher-order forms") {
    val gate = TextAnalysis.qualityFilter(docs, "id", "text", minWords = 2)
    val toks = split(trim(lower(coalesce(col("text"), lit("")))), "\\s+")
    val m = size(toks)
    val ref = docs.select(col("id"), m.cast("long").as("n_tokens"),
      floor((m - size(array_distinct(toks))).cast("double") / m * 1e6).cast("long")
        .as("dup_frac_e6"))
    val got = gate.select("id", "n_tokens", "dup_frac_e6").orderBy("id").collect().toSeq
    assert(got == ref.orderBy("id").collect().toSeq)

    val feats = QualityClassifier.features(docs, "id", "text").orderBy("id").collect().toSeq
    val ms = size(toks).cast("double")
    val refFeats = docs.select(col("id"), log1p(ms),
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / ms,
      size(filter(toks, t => array_contains(typedLit(Text.Stopwords), t))).cast("double") / ms,
      (ms - size(array_distinct(toks))) / ms,
      size(filter(toks, t => array_contains(
        typedLit(TextAnalysis.Lexicons.toMap.apply("en")), t))).cast("double") / ms)
      .orderBy("id").collect().toSeq
    assert(feats == refFeats)
  }

  private def hofs(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(
      _.collect { case h: HigherOrderFunction => h.prettyName }))

  test("curation tagging projections hold no interpreted higher-order function") {
    val corpus = Seq((1L, "the cat sat with the hat"), (2L, "der die das")).toDF("doc_id", "text")
    val bench = Seq((9L, "nothing in common here at all")).toDF("doc_id", "text")
    // the detector sees the retired form
    assert(hofs(corpus.select(Reference.langId(col("text")))).nonEmpty)
    assert(hofs(Curation.verdicts(corpus, bench, contamN = 3)).isEmpty)
    assert(hofs(StreamingCuration.verdicts(corpus, bench, contamN = 3)(spark).toDF()).isEmpty)
  }
}
