package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextOps

/** Codegen-friendly text primitives — pure `functions._` chains, no UDFs,
  * so they stay inside WholeStageCodegen on the hot paths.
  *
  * The reference's tokenizer (src/klinker/blockers/token_blocking.py:21-39)
  * is NLTK word_tokenize + English-stopword + min-length filter; we pin a
  * regex tokenizer with the same filter semantics (SURVEY.md F1 — exact
  * NLTK-Punkt parity is explicitly out of contract).
  */
object Text {

  /** Minimal English stopword list, shared verbatim with the DuckDB
    * oracle SQL so tokenization is bit-identical on both sides. */
  val Stopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "has",
    "he", "in", "is", "it", "its", "of", "on", "or", "that", "the", "to",
    "was", "were", "will", "with")

  /** Lowercase → split on non-alphanumerics (`[^a-z0-9]+`) → drop short
    * tokens and stopwords. Returns array<string>. Spark's `lower`, then
    * the codegen'd [[org.apache.spark.sql.graft.TokenFilter]] kernel
    * (split and filter in one compiled pass). */
  def tokenize(c: Column, minLength: Int = 3, stopwords: Seq[String] = Stopwords): Column =
    TextOps.tokenFilter(lower(c), minLength, stopwords)

  /** NLTK-parity tokenizer (SURVEY F1's caveat, for users porting
    * klinker configs byte-for-byte): Treebank token boundaries via the
    * codegen'd [[org.apache.spark.sql.graft.TreebankTokenize]] kernel —
    * hyphenated dates (`11-12-1973`) and decimals survive as ONE token
    * where [[tokenize]]'s regex splits them — followed by the
    * reference FilteredTokenizer gate (token_blocking.py:31-39: length
    * ≥ `minLength`, not a stopword). Case-PRESERVING by default, which
    * is what the reference's own golden blocks pin
    * (tests/test_blockers.py:115-129 keys `John`/`USA`/`02-02-1983`);
    * `lowercase = true` gives the lowered variant of the reference's
    * current `str(x.lower())` code path. The gate is the array form of
    * the [[org.apache.spark.sql.graft.TokenFilter]] kernel. */
  def nltkTokenize(c: Column, minLength: Int = 3,
                   stopwords: Seq[String] = Stopwords,
                   lowercase: Boolean = false,
                   extraAbbrevs: Seq[String] = Nil): Column = {
    val base = if (lowercase) lower(c) else c
    TextOps.tokenFilter(TextOps.treebankTokenize(base, extraAbbrevs), minLength, stopwords)
  }

  /** Let-binding for Column expressions: evaluate `c` ONCE per row and
    * hand it to `f` as a lambda variable. Higher-order functions are
    * interpreted (not codegen'd), which is why the per-token scans of
    * text tagging are compiled kernels instead
    * ([[org.apache.spark.sql.graft.TokenFilter]] for [[tokenize]],
    * `LexiconArgmax` for `TextAnalysis.langId`, `WsTokenStats` for the
    * whitespace-token quality signals); the lambdas that remain (word
    * shingles, vector norms, window arrays) also re-evaluate every
    * captured subexpression on EACH lambda invocation — so an expression argument
    * referenced inside a per-element lambda (e.g. tokenize inside
    * wordShingles) would otherwise be recomputed once per element:
    * measured ~15× on the shingle family at sf0.1. Wrapping the value in
    * a one-element array and transforming over it turns the reference
    * into a NamedLambdaVariable — a cheap slot read. Generic Column
    * combinator (public: the vector/encoder kernels bind their norms
    * with it too). */
  def letBind(c: Column)(f: Column => Column): Column =
    transform(array(c), f).getItem(0)

  /** Character q-grams (reference qgrams.py:38-52). `small ring` @ q=3 →
    * ["sma","mal","all", ...]. Values shorter than q yield no grams.
    * Codegen'd [[org.apache.spark.sql.graft.CharGrams]] kernel: the
    * declarative `transform(sequence, i => substr(v, i, q))` form it
    * replaces evaluated INTERPRETED with an O(n) substr re-scan per
    * position — O(n²) on winnowing's ~10⁶-char normalized documents;
    * the kernel slices precomputed char offsets, O(n·q), identical
    * output (character semantics, order, duplicates). */
  def qgrams(c: Column, q: Int = 3): Column =
    TextOps.charGrams(c, q)

  /** Word n-gram shingles over the token array (same descending-sequence
    * guard as [[qgrams]]). */
  def wordShingles(tokens: Column, n: Int = 3): Column = letBind(tokens) { ts =>
    when(size(ts) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(ts) - lit(n)),
        i => concat_ws(" ", slice(ts, i + lit(1), lit(n)))))
  }

  /** Strip RDF datatype suffix: `"42"^^xsd:int` → `"42"`
    * (reference ea_dataset.py:88-91). */
  def stripDatatype(c: Column): Column = substring_index(c, "^^", 1)

  /** First 15 hex chars of md5 as a non-negative long — the deterministic
    * hash family used by MinHash/SimHash so the DuckDB oracle can
    * reproduce it exactly (`conv` here == `('0x'||substr(md5(x),1,15))::bigint`
    * there). 60 bits, always positive. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
}
