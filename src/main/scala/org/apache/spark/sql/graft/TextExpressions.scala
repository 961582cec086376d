package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Unicode normalization as a codegen'd expression (java.text.Normalizer
  * is JDK-built-in, so no UDF and no external dependency): canonical
  * composition NFC for cross-system text identity (the corpus-prep
  * default — DuckDB's `nfc_normalize` reproduces it, making the operator
  * oracle-checkable), compatibility forms NFKC/NFKD for
  * fold-width/ligature token normalization before hashing.
  *
  * Row-local and streaming-safe; the JDK normalizer short-circuits on
  * already-normalized (e.g. pure-ASCII) strings, so the common case is
  * a scan, not a rewrite. */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {

  private val normForm = java.text.Normalizer.Form.valueOf(form)

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unicode_normalize needs a string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString, normForm))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($s.toString(),
         |    java.text.Normalizer.Form.${normForm.name()}));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** N-Triples string-escape decoding (RDF 1.1 N-Triples §2.4 ECHAR +
  * UCHAR: \t \b \n \r \f \" \' \\ and \uXXXX / \UXXXXXXXX) as a
  * codegen'd expression, so a distributed N-Triples scan stays inside
  * whole-stage codegen with zero UDFs. The common case — no backslash
  * in the lexical form — is a single indexOf and returns the input
  * buffer untouched. Malformed escapes pass through verbatim rather
  * than failing the whole partition (dump files at 100 TB always carry
  * a few bad rows; filter them with a validity predicate, don't crash
  * the scan). */
case class RdfUnescape(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rdf_unescape needs a string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      RdfUnescape.decode(input.asInstanceOf[UTF8String].toString))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  org.apache.spark.sql.graft.RdfUnescape.decode($s.toString()));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RdfUnescape =
    copy(child = newChild)
}

object RdfUnescape {
  private def allHex(s: String, from: Int, until: Int): Boolean = {
    var j = from
    while (j < until) {
      val h = s.charAt(j)
      if (!((h >= '0' && h <= '9') || (h >= 'a' && h <= 'f') ||
            (h >= 'A' && h <= 'F'))) return false
      j += 1
    }
    true
  }

  /** JVM-static so generated code and interpreted eval share one body. */
  def decode(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '\\' || i + 1 >= s.length) { sb.append(c); i += 1 }
      else {
        s.charAt(i + 1) match {
          case 't'  => sb.append('\t'); i += 2
          case 'b'  => sb.append('\b'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 'f'  => sb.append('\f'); i += 2
          case '"'  => sb.append('"');  i += 2
          case '\'' => sb.append('\''); i += 2
          case '\\' => sb.append('\\'); i += 2
          // Validate the whole window is hex digits BEFORE parseInt:
          // parseInt accepts a sign, so "\u-0ab" parses to -171 (then
          // appendCodePoint throws IAE — caught) but "\u+0ab" parses to
          // +171 and SILENTLY decodes to U+00AB instead of passing
          // through verbatim. The IAE catch still guards the one case
          // hex-validation can't: "\U00110000" is all hex digits yet
          // above 0x10FFFF — appendCodePoint rejects it, and the exact
          // pass-through must survive in non-strict mode.
          case 'u' if i + 6 <= s.length && allHex(s, i + 2, i + 6) =>
            try { sb.appendCodePoint(Integer.parseInt(s.substring(i + 2, i + 6), 16)); i += 6 }
            catch { case _: IllegalArgumentException => sb.append(c); i += 1 }
          case 'U' if i + 10 <= s.length && allHex(s, i + 2, i + 10) =>
            try { sb.appendCodePoint(Integer.parseInt(s.substring(i + 2, i + 10), 16)); i += 10 }
            catch { case _: IllegalArgumentException => sb.append(c); i += 1 }
          case _ => sb.append(c); i += 1
        }
      }
    }
    sb.toString
  }
}

/** `window_hit_count(text, n, grams)` — the number of DISTINCT n-token
  * windows of `text` that occur in the `grams` set, in one compiled
  * pass. Semantically identical to
  * `size(array_intersect(windowsArray(text, n), typedlit(grams)))`
  * ([[graft.dedup.Dedup.windowsArray]] — whitespace split, windows of
  * `n` joined with a single space, distinct), but ~10× faster: the
  * higher-order `transform`/`filter` form evaluates INTERPRETED, one
  * Catalyst expression tree walk per window, while this kernel is a
  * tight JVM loop reached by a single codegen'd static call. The gram
  * set rides the plan as a codegen reference object (the
  * [[BloomMightContain]] mechanics) — one HashSet per JVM per plan, the
  * same size class as the array literal it replaces, and an exact set
  * probe is O(1) itself, so no Bloom prefilter is needed.
  *
  * The caller lowercases/trims upstream (Spark's own `lower`/`trim`
  * semantics, kept OUT of the kernel so locale rules cannot diverge).
  */
case class WindowHitCount(child: Expression, n: Int, grams: Seq[String])
    extends UnaryExpression {

  require(n >= 1, "window size must be >= 1")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"window_hit_count needs a string, got $other")
  }

  /** Built once per JVM per plan; tasks share it via the codegen
    * reference. */
  @transient private lazy val gramSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](grams.length * 2)
    grams.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    WindowHitCount.count(input.asInstanceOf[UTF8String].toString, n, gramSet)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val set = ctx.addReferenceObj("gramSet", gramSet,
        classOf[java.util.HashSet[String]].getName)
      s"${ev.value} = org.apache.spark.sql.graft.WindowHitCount.count(" +
        s"$s.toString(), $n, $set);"
    })

  override protected def withNewChildInternal(newChild: Expression): WindowHitCount =
    copy(child = newChild)
}

object WindowHitCount {
  /** JVM-static shared by generated and interpreted eval: the DISTINCT
    * windows of `s` ([[windows]]) found in `grams`. */
  def count(s: String, n: Int, grams: java.util.HashSet[String]): Long = {
    if (grams.isEmpty) return 0L
    var hits: java.util.HashSet[String] = null
    windows(s, n) { w =>
      if (grams.contains(w)) {
        if (hits == null) hits = new java.util.HashSet[String](8)
        hits.add(w)
      }
    }
    if (hits == null) 0L else hits.size.toLong
  }

  /** The gram set of lowered, trimmed benchmark `texts`: every distinct
    * window of every text — [[graft.dedup.Dedup.benchmarkGrams]] cut on
    * the driver, with the same walk [[count]] probes with. */
  def grams(texts: Iterator[String], n: Int): Seq[String] = {
    val out = new java.util.HashSet[String]()
    texts.foreach(windows(_, n)(w => out.add(w)))
    out.asScala.toSeq
  }

  /** Calls `f` on every window of `n` consecutive tokens of `s`, joined
    * by one space, repeats included: `windowsArray`'s tokens (split on
    * `\s+` like Spark's `split`, empty tokens dropped like
    * `Dedup.orderedTokens`). A `\s+` split has empty tokens only at its
    * ends: text that starts or ends with a separator, or empty text. */
  private def windows(s: String, n: Int)(f: String => Unit): Unit = {
    val toks = s.split("\\s+", -1)
    val lo = if (toks(0).isEmpty) 1 else 0
    val hi = if (toks.length > lo && toks(toks.length - 1).isEmpty) toks.length - 1
      else toks.length
    val sb = new java.lang.StringBuilder(64)
    var p = lo
    while (p <= hi - n) {
      sb.setLength(0)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(toks(p + i))
        i += 1
      }
      f(sb.toString)
      p += 1
    }
  }
}

/** `treebank_tokenize(text)` — NLTK's `TreebankWordTokenizer` as a
  * codegen'd expression (SURVEY F1's parity caveat: klinker tokenizes
  * with `nltk.word_tokenize`, reference token_blocking.py:10,22-39, so
  * a user porting configs byte-for-byte needs its token boundaries,
  * not our pinned regex split). The Treebank rules are the published
  * public algorithm (Penn Treebank sed script, as shipped in NLTK):
  * ASCII quote conversion to \`\`/'', punctuation/bracket spacing,
  * comma/colon splits guarded against digits (dates like `11-12-1973`
  * and decimals survive whole), FINAL-period split, contraction
  * clitics (`don't` → `do` + `n't`), then whitespace split.
  *
  * Like `word_tokenize`, the input is sentence-segmented first and
  * tokenized per sentence — here by the Punkt-LITE rule subset
  * ([[TreebankTokenize.sentences]]: final punctuation + capitalized
  * lookahead, initials/internal-period abbreviation guards, and a
  * static published-subset abbreviation list — "Mr.", "Dr.", "etc."
  * never end a sentence), so interior sentence-final periods split off
  * (`"York. Please"` → `York`, `.`, `Please`). Documented residual
  * divergence: Punkt's corpus-LEARNED abbreviations beyond the static
  * list split before a capitalized word here, and a listed
  * abbreviation genuinely ending a sentence never splits (Punkt
  * decides that case from corpus statistics). Entity attribute
  * values — the blocking surface, single-phrase strings — coincide
  * under both.
  *
  * Same mechanics as [[WindowHitCount]]: one static JVM method shared
  * by interpreted eval and codegen, precompiled `java.util.regex`
  * patterns, no interpreted higher-order functions. */
case class TreebankTokenize(child: Expression,
    extraAbbrevs: Seq[String] = Nil) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"treebank_tokenize needs a string, got $other")
  }

  // the user-supplied abbreviation set (`--abbrev-list`), normalized
  // once per expression instance. Rides the serialized plan to the
  // executors as part of the expression (and as a codegen reference
  // object) — a driver-side mutable registry would NOT propagate to
  // executor JVMs on a real cluster. Nil keeps the static fast path.
  @transient private lazy val extraSet: java.util.HashSet[String] =
    TreebankTokenize.normalizeAbbrevs(extraAbbrevs)

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      TreebankTokenize.tokenize(input.asInstanceOf[UTF8String].toString,
          if (extraAbbrevs.isEmpty) null else extraSet)
        .map(UTF8String.fromString))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val extra =
        if (extraAbbrevs.isEmpty) "(java.util.HashSet) null"
        else ctx.addReferenceObj("extraAbbrevs", extraSet,
          "java.util.HashSet")
      s"${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"org.apache.spark.sql.graft.TreebankTokenize.tokenizeUtf8($s.toString(), $extra));"
    })

  override protected def withNewChildInternal(newChild: Expression): TreebankTokenize =
    copy(child = newChild)
}

object TreebankTokenize {
  import java.util.regex.Pattern

  // The published Treebank rule set, in NLTK's application order.
  // Each pair is (compiled pattern, replacement) with Java's $n group
  // syntax in place of Python's \n.
  private val startingQuotes = Seq(
    Pattern.compile("^\"") -> "``",
    Pattern.compile("(``)") -> " $1 ",
    Pattern.compile("([ \\(\\[{<])(\"|'{2})") -> "$1 `` ")
  private val punctuation = Seq(
    Pattern.compile("([:,])([^\\d])") -> " $1 $2",
    Pattern.compile("([:,])$") -> " $1 ",
    Pattern.compile("\\.\\.\\.") -> " ... ",
    Pattern.compile("[;@#$%&]") -> " $0 ",
    Pattern.compile("([^\\.])(\\.)([\\]\\)}>\"']*)\\s*$") -> "$1 $2$3 ",
    Pattern.compile("[?!]") -> " $0 ",
    Pattern.compile("([^'])' ") -> "$1 ' ")
  private val parensBrackets =
    Pattern.compile("[\\]\\[\\(\\)\\{\\}<>]") -> " $0 "
  private val doubleDashes = Pattern.compile("--") -> " -- "
  private val endingQuotes = Seq(
    Pattern.compile("''") -> " '' ",
    Pattern.compile("\"") -> " '' ",
    Pattern.compile("([^' ])('[sS]|'[mM]|'[dD]|') ") -> "$1 $2 ",
    Pattern.compile("([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) ") -> "$1 $2 ")
  private val contractions = Seq(
    "\\b(can)(not)\\b", "\\b(d)('ye)\\b", "\\b(gim)(me)\\b",
    "\\b(gon)(na)\\b", "\\b(got)(ta)\\b", "\\b(lem)(me)\\b",
    "\\b(more)('n)\\b", "\\b(wan)(na)(?=\\s)", " ('t)(is)\\b", " ('t)(was)\\b")
    .map(p => Pattern.compile("(?i)" + p))

  // Punkt-lite sentence boundary: sentence-final [.!?]+ (plus closing
  // quotes/brackets), whitespace, then a capitalized opener (optionally
  // behind opening quotes/brackets).
  private val sentenceBoundary =
    Pattern.compile("([.!?]+[\"')\\]]*)\\s+(?=[\"'(\\[]*\\p{Lu})")

  /** Static abbreviation list — the published common-English subset
    * that rule-based splitters ship (titles, ranks, latin/company/
    * street forms): a listed word before '.' never ends a sentence,
    * standing in for Punkt's corpus-learned abbreviation set. Common
    * standalone words ("no", "fig") are deliberately absent — listing
    * them would swallow genuine boundaries ("I said no. Then ...")
    * more often than they guard real abbreviations. */
  private val abbreviations: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("mr", "mrs", "ms", "dr", "prof", "rev", "hon", "st", "jr", "sr",
      "gen", "sen", "rep", "gov", "capt", "col", "lt", "maj", "sgt",
      "vs", "etc", "inc", "ltd", "corp", "ave", "blvd", "rd", "mt",
      "vol", "dept", "univ", "assn", "bros", "approx").foreach(s.add)
    s
  }

  /** Lowercase + dedupe a user-supplied abbreviation list (the
    * `--abbrev-list` contract: entries are matched like the static
    * list — the word before '.', leading quotes/brackets stripped,
    * case-insensitively; a trailing '.' in the entry is tolerated). */
  def normalizeAbbrevs(extra: Seq[String]): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    extra.iterator
      .map(_.trim.stripSuffix(".").toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty).foreach(s.add)
    s
  }

  /** Punkt-lite sentence segmentation — the published RULE subset of
    * what `nltk.word_tokenize` does before tokenizing (Punkt sentence
    * split, Kiss & Strunk 2006), with NO learned model: split after
    * sentence-final punctuation followed by whitespace and a
    * capitalized sentence opener, guarded for '.' boundaries by the
    * classic abbreviation rules — a single-letter initial ("A. Smith"),
    * an internal-period abbreviation ("U.S. Government"), and the
    * static [[abbreviations]] list ("Mr. Smith", "Dr. Brown") never end
    * a sentence. Residual divergence vs Punkt (stated at
    * [[TreebankTokenize]]): corpus-LEARNED abbreviations beyond the
    * static list still split before a capitalized word, and a listed
    * abbreviation that genuinely ends a sentence never splits here
    * (Punkt's orthographic sentence-starter heuristics decide that
    * case from corpus statistics). */
  def sentences(text: String): Array[String] = sentences(text, null)

  /** [[sentences]] with a user-supplied extra abbreviation set (already
    * normalized via [[normalizeAbbrevs]]; null = none) merged into the
    * static guard — the `--abbrev-list` seam closing the residual for
    * domain corpora whose abbreviations Punkt would LEARN. */
  def sentences(text: String, extra: java.util.HashSet[String]): Array[String] = {
    val m = sentenceBoundary.matcher(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    while (m.find()) {
      val isPeriod = text.charAt(m.start()) == '.'
      // the token carrying the period: text back to the last whitespace
      val wordStart = {
        var i = m.start() - 1
        while (i >= 0 && !Character.isWhitespace(text.charAt(i))) i -= 1
        i + 1
      }
      val word = text.substring(wordStart, m.start())
      // abbreviation checks on the word with leading quotes/brackets
      // stripped ("(Mr" → "mr", "(A" → "A") — but NOT digits:
      // "1st"/"3rd" must keep their ordinal prefix so they never
      // collide with the "st"/"rd" street abbreviations (ordinals end
      // sentences, exactly like NLTK)
      val core = word.dropWhile(c => !Character.isLetterOrDigit(c))
      val lowered = core.toLowerCase(java.util.Locale.ROOT)
      val abbrev = isPeriod &&
        ((core.length == 1 && Character.isLetter(core.charAt(0))) ||
          word.contains('.') ||
          abbreviations.contains(lowered) ||
          (extra != null && extra.contains(lowered)))
      if (!abbrev) {
        out += text.substring(start, m.end(1))
        start = m.end()
      }
    }
    if (start == 0) Array(text)
    else { out += text.substring(start); out.toArray }
  }

  /** JVM-static, shared by generated and interpreted eval:
    * `word_tokenize` parity — Punkt-lite sentence split, Treebank rules
    * per sentence. Single-phrase values (the blocking surface) take the
    * one-sentence fast path, bit-identical to the pre-split form. */
  def tokenize(text: String): Array[String] = tokenize(text, null)

  def tokenize(text: String, extra: java.util.HashSet[String]): Array[String] = {
    val ss = sentences(text, extra)
    if (ss.length <= 1) tokenizeSentence(text)
    else ss.flatMap(tokenizeSentence)
  }

  /** One sentence through the published Treebank rule set. */
  def tokenizeSentence(text: String): Array[String] = {
    var t = text
    def subAll(rules: Seq[(Pattern, String)]): Unit =
      rules.foreach { case (p, r) => t = p.matcher(t).replaceAll(r) }
    subAll(startingQuotes)
    subAll(punctuation)
    t = parensBrackets._1.matcher(t).replaceAll(parensBrackets._2)
    t = doubleDashes._1.matcher(t).replaceAll(doubleDashes._2)
    t = " " + t + " "
    subAll(endingQuotes)
    contractions.foreach(p => t = p.matcher(t).replaceAll(" $1 $2 "))
    t.trim.split("\\s+").filter(_.nonEmpty)
  }

  def tokenizeUtf8(text: String): Array[UTF8String] =
    tokenize(text, null).map(UTF8String.fromString)

  def tokenizeUtf8(text: String,
      extra: java.util.HashSet[String]): Array[UTF8String] =
    tokenize(text, extra).map(UTF8String.fromString)
}

/** `char_grams(text, q)` — all character q-grams of `text`, in order,
  * one per start position: exactly
  * `transform(sequence(1, length(v) - q + 1), i => substr(v, i, q))`
  * (with the short-string guard), but as one compiled pass. The
  * higher-order form evaluates INTERPRETED and `substr` on UTF8String
  * re-scans from the string start per call — O(n²) per document on the
  * winnowing path's ~10⁶-char normalized texts. Here the char→byte
  * offsets are computed once and each gram is a byte-range slice:
  * O(n·q). Character (code point) semantics match Spark's `substr`
  * exactly, including astral-plane characters. */
case class CharGrams(child: Expression, q: Int) extends UnaryExpression {

  require(q >= 1, "q must be >= 1")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_grams needs a string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      CharGrams.grams(input.asInstanceOf[UTF8String], q))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"org.apache.spark.sql.graft.CharGrams.grams($s, $q));"
    })

  override protected def withNewChildInternal(newChild: Expression): CharGrams =
    copy(child = newChild)
}

object CharGrams {
  /** JVM-static, shared by generated and interpreted eval. */
  def grams(s: UTF8String, q: Int): Array[UTF8String] = {
    val bytes = s.getBytes
    // char-start byte offsets, one forward walk
    var n = 0
    var i = 0
    while (i < bytes.length) {
      i += UTF8String.numBytesForFirstByte(bytes(i)); n += 1
    }
    if (n < q) return Array.empty
    val offs = new Array[Int](n + 1)
    var ci = 0; i = 0
    while (i < bytes.length) {
      offs(ci) = i; ci += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offs(n) = bytes.length
    val out = new Array[UTF8String](n - q + 1)
    var p = 0
    while (p <= n - q) {
      out(p) = UTF8String.fromBytes(bytes, offs(p), offs(p + q) - offs(p))
      p += 1
    }
    out
  }
}

/** The byte scan the text-tagging kernels ([[TokenFilter]],
  * [[LexiconArgmax]], [[WsTokenStats]]) share: Spark's regex `split`
  * with an ASCII delimiter class, without the regex. Every byte of a
  * multi-byte UTF-8 character is ≥ 0x80, so a 256-entry byte table
  * decides an ASCII class exactly (a non-ASCII character is one
  * delimiter run under `[^a-z0-9]+` and never whitespace under `\s+`),
  * and tokens are byte ranges of the input. */
object TextScan {
  /** `[^a-z0-9]` — [[graft.functions.Text.tokenize]]'s delimiter. */
  val NonAlnum: Array[Boolean] =
    Array.tabulate(256)(b => !((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')))
  /** Java's `\s`: space, \t, \n, \u000B, \f, \r. */
  val Space: Array[Boolean] = Array.tabulate(256)(b => b == ' ' || (b >= 9 && b <= 13))

  /** Token bounds `[from0, until0, from1, until1, …]` of `bytes` split on
    * maximal delimiter runs with `String.split(regex, -1)` semantics,
    * which Spark's `split` runs: a leading or trailing delimiter run
    * yields an empty token, and the empty string is one empty token. */
  def bounds(bytes: Array[Byte], delim: Array[Boolean]): Array[Int] = {
    var out = new Array[Int](32)
    var n = 0
    var start = 0
    var i = 0
    var done = false
    while (!done) {
      if (i < bytes.length && !delim(bytes(i) & 0xff)) i += 1
      else {
        if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
        out(n) = start; out(n + 1) = i; n += 2
        if (i == bytes.length) done = true
        else {
          while (i < bytes.length && delim(bytes(i) & 0xff)) i += 1
          start = i
        }
      }
    }
    java.util.Arrays.copyOf(out, n)
  }

  def wordSet(words: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(16, words.length * 2))
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
}

/** `token_filter(text, minLength, stopwords)` — the token list of
  * [[graft.functions.Text.tokenize]] in one compiled pass: split on
  * `[^a-z0-9]+` ([[TextScan.bounds]]), keep the tokens at least
  * `minLength` long that are not in `stopwords`. Identical to
  * `filter(split(text, '[^a-z0-9]+'), t -> length(t) >= minLength AND
  * NOT array_contains(stopwords, t))`, whose lambda evaluates
  * interpreted, one Catalyst tree walk per token. Every token is an
  * ASCII byte range, so its length is its byte count.
  *
  * Over an `array<string>` child it is that filter alone (length in
  * code points, null elements dropped, the child's type kept): the
  * post-filter of [[graft.functions.Text.nltkTokenize]]. The caller
  * lowercases upstream, with Spark's own `lower`. */
case class TokenFilter(child: Expression, minLength: Int, stopwords: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = child.dataType match {
    case a: ArrayType => a
    case _ => ArrayType(StringType, containsNull = false)
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_filter needs a string or array<string>, got $other")
  }

  @transient private lazy val stopSet = TextScan.wordSet(stopwords)

  override def nullSafeEval(input: Any): Any = input match {
    case s: UTF8String => TokenFilter.split(s, minLength, stopSet)
    case a: ArrayData => TokenFilter.filter(a, minLength, stopSet)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val set = ctx.addReferenceObj("stopwords", stopSet, "java.util.HashSet")
      val fn = if (child.dataType.isInstanceOf[ArrayType]) "filter" else "split"
      s"${ev.value} = org.apache.spark.sql.graft.TokenFilter.$fn($s, $minLength, $set);"
    })

  override protected def withNewChildInternal(newChild: Expression): TokenFilter =
    copy(child = newChild)
}

object TokenFilter {
  /** JVM-static, shared by generated and interpreted eval. */
  def split(s: UTF8String, minLength: Int,
      stop: java.util.HashSet[UTF8String]): ArrayData = {
    val bytes = s.getBytes
    val b = TextScan.bounds(bytes, TextScan.NonAlnum)
    val out = new Array[Any](b.length / 2)
    var n = 0
    var k = 0
    while (k < b.length) {
      val len = b(k + 1) - b(k)
      if (len >= minLength) {
        val t = UTF8String.fromBytes(bytes, b(k), len)
        if (!stop.contains(t)) { out(n) = t; n += 1 }
      }
      k += 2
    }
    new GenericArrayData(if (n == out.length) out else out.take(n))
  }

  def filter(a: ArrayData, minLength: Int,
      stop: java.util.HashSet[UTF8String]): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) {
        val t = a.getUTF8String(i)
        if (t.numChars() >= minLength && !stop.contains(t)) out += t
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `lexicon_argmax(text, lexicons)` — [[graft.text.TextAnalysis.langId]]
  * in one compiled pass: split on `[^a-z0-9]+` ([[TextScan.bounds]]),
  * count every token found in each lexicon, and return the code of the
  * lexicon with the most hits; ties go to the code that sorts first and
  * no hit at all (or a null text) gives `und`. With `scoreOf =
  * Some(code)` it returns that lexicon's hit count instead (null for a
  * null text): [[graft.text.TextAnalysis.langScore]]. Replaces one
  * interpreted `size(filter(tokens, t -> array_contains(words, t)))`
  * per language plus a fold of `when`s; each token costs one probe of a
  * word → lexicon-bitmask map, a codegen reference object like
  * [[WindowHitCount]]'s set. The caller lowercases upstream. */
case class LexiconArgmax(child: Expression, lexicons: Seq[(String, Seq[String])],
    scoreOf: Option[String] = None) extends UnaryExpression {

  require(lexicons.nonEmpty && lexicons.size <= 31, "1 to 31 lexicons")
  require(scoreOf.forall(l => lexicons.exists(_._1 == l)), s"no lexicon $scoreOf")

  private val sorted = lexicons.sortBy(_._1)

  override def dataType: DataType =
    if (scoreOf.isEmpty) StringType else org.apache.spark.sql.types.IntegerType

  override def nullable: Boolean = scoreOf.isDefined && child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lexicon_argmax needs a string, got $other")
  }

  /** word → bitmask of the (code-sorted) lexicons that list it. */
  @transient private lazy val langOf: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    sorted.zipWithIndex.foreach { case ((_, words), l) =>
      words.foreach { w =>
        val k = UTF8String.fromString(w)
        m.put(k, Integer.valueOf(m.getOrDefault(k, 0) | (1 << l)))
      }
    }
    m
  }
  @transient private lazy val codes: Array[UTF8String] =
    sorted.map(l => UTF8String.fromString(l._1)).toArray
  private val scoreIdx = sorted.indexWhere(l => scoreOf.contains(l._1))

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (scoreOf.isEmpty) LexiconArgmax.argmax(s, langOf, codes)
    else if (s == null) null
    else LexiconArgmax.hits(s, langOf, codes.length)(scoreIdx)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val map = ctx.addReferenceObj("langOf", langOf, "java.util.HashMap")
    if (scoreOf.isDefined)
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = org.apache.spark.sql.graft.LexiconArgmax.hits(" +
          s"$s, $map, ${codes.length})[$scoreIdx];")
    else {
      val c = child.genCode(ctx)
      val cs = ctx.addReferenceObj("codes", codes,
        "org.apache.spark.unsafe.types.UTF8String[]")
      ev.copy(code = code"""
        |${c.code}
        |org.apache.spark.unsafe.types.UTF8String ${ev.value} =
        |  org.apache.spark.sql.graft.LexiconArgmax.argmax(
        |  ${c.isNull} ? null : ${c.value}, $map, $cs);""".stripMargin,
        isNull = FalseLiteral)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): LexiconArgmax =
    copy(child = newChild)
}

object LexiconArgmax {
  private val Und = UTF8String.fromString("und")

  /** JVM-static: per-lexicon hit counts, every token occurrence counted. */
  def hits(s: UTF8String, langOf: java.util.HashMap[UTF8String, Integer],
      nLangs: Int): Array[Int] = {
    val bytes = s.getBytes
    val b = TextScan.bounds(bytes, TextScan.NonAlnum)
    val out = new Array[Int](nLangs)
    var k = 0
    while (k < b.length) {
      val mask = langOf.get(UTF8String.fromBytes(bytes, b(k), b(k + 1) - b(k)))
      if (mask != null) {
        var m = mask.intValue
        var l = 0
        while (m != 0) { if ((m & 1) != 0) out(l) += 1; m >>>= 1; l += 1 }
      }
      k += 2
    }
    out
  }

  /** JVM-static: the strict argmax over code-sorted lexicons (a later
    * lexicon must score MORE to win), `und` when nothing scores. */
  def argmax(s: UTF8String, langOf: java.util.HashMap[UTF8String, Integer],
      codes: Array[UTF8String]): UTF8String = {
    if (s == null) return Und
    val h = hits(s, langOf, codes.length)
    var best = Und
    var top = 0
    var l = 0
    while (l < h.length) { if (h(l) > top) { best = codes(l); top = h(l) }; l += 1 }
    best
  }
}

/** `ws_token_stats(text, stopwords, lexicon)` — one compiled pass over
  * the whitespace tokens of `text` (`split(text, '\\s+')`,
  * [[TextScan.bounds]]) returning the struct
  * ([[WsTokenStats.Schema]]): `n_tokens` = `size(tokens)`, `n_chars`
  * = Σ `length(t)` in code points, `n_stop` and `n_lex` = the tokens
  * found in `stopwords` / `lexicon` (every occurrence), `n_distinct` =
  * `size(array_distinct(tokens))`. The types are those of the `size` /
  * `aggregate(…, 0L, …)` forms it replaces, whose lambdas evaluated
  * interpreted. Serves [[graft.text.TextAnalysis.qualityFilter]],
  * `qualityScore`, `repetitionSignals` and
  * [[graft.text.QualityClassifier.featureCols]]. The caller
  * lowercases and trims upstream. */
case class WsTokenStats(child: Expression, stopwords: Seq[String], lexicon: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = WsTokenStats.Schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ws_token_stats needs a string, got $other")
  }

  @transient private lazy val stopSet = TextScan.wordSet(stopwords)
  @transient private lazy val lexSet = TextScan.wordSet(lexicon)

  override def nullSafeEval(input: Any): Any =
    WsTokenStats.stats(input.asInstanceOf[UTF8String], stopSet, lexSet)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val stop = ctx.addReferenceObj("stopwords", stopSet, "java.util.HashSet")
      val lex = ctx.addReferenceObj("lexicon", lexSet, "java.util.HashSet")
      s"${ev.value} = org.apache.spark.sql.graft.WsTokenStats.stats($s, $stop, $lex);"
    })

  override protected def withNewChildInternal(newChild: Expression): WsTokenStats =
    copy(child = newChild)
}

object WsTokenStats {
  import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("n_lex", IntegerType, nullable = false)))

  /** JVM-static, shared by generated and interpreted eval. */
  def stats(s: UTF8String, stop: java.util.HashSet[UTF8String],
      lex: java.util.HashSet[UTF8String]): InternalRow = {
    val bytes = s.getBytes
    val b = TextScan.bounds(bytes, TextScan.Space)
    val distinct = new java.util.HashSet[UTF8String](b.length)
    var chars = 0L
    var nStop = 0
    var nLex = 0
    var k = 0
    while (k < b.length) {
      val t = UTF8String.fromBytes(bytes, b(k), b(k + 1) - b(k))
      chars += t.numChars()
      if (stop.contains(t)) nStop += 1
      if (lex.contains(t)) nLex += 1
      distinct.add(t)
      k += 2
    }
    new GenericInternalRow(Array[Any](b.length / 2, chars, nStop, distinct.size, nLex))
  }
}

/** Column-level entry points of the text kernels in this file. The
  * text-tagging scans of curation and blocking run here as compiled
  * static calls instead of interpreted higher-order lambdas:
  * [[TokenFilter]] (`Text.tokenize`, `Text.nltkTokenize`'s post-filter),
  * [[LexiconArgmax]] (`TextAnalysis.langId`/`langScore`),
  * [[WsTokenStats]] (the whitespace-token quality signals) and
  * [[WindowHitCount]] (the contamination probe). */
object TextOps {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.classic.ExpressionUtils

  def normalize(c: Column, form: String = "NFC"): Column =
    ExpressionUtils.column(UnicodeNormalize(ExpressionUtils.expression(c), form))

  def rdfUnescape(c: Column): Column =
    ExpressionUtils.column(RdfUnescape(ExpressionUtils.expression(c)))

  def windowHitCount(c: Column, n: Int, grams: Seq[String]): Column =
    ExpressionUtils.column(WindowHitCount(ExpressionUtils.expression(c), n, grams))

  def treebankTokenize(c: Column, extraAbbrevs: Seq[String] = Nil): Column =
    ExpressionUtils.column(
      TreebankTokenize(ExpressionUtils.expression(c), extraAbbrevs))

  def charGrams(c: Column, q: Int): Column =
    ExpressionUtils.column(CharGrams(ExpressionUtils.expression(c), q))

  def tokenFilter(c: Column, minLength: Int, stopwords: Seq[String]): Column =
    ExpressionUtils.column(TokenFilter(ExpressionUtils.expression(c), minLength, stopwords))

  def lexiconArgmax(c: Column, lexicons: Seq[(String, Seq[String])],
      scoreOf: Option[String] = None): Column =
    ExpressionUtils.column(LexiconArgmax(ExpressionUtils.expression(c), lexicons, scoreOf))

  def wsTokenStats(c: Column, stopwords: Seq[String], lexicon: Seq[String]): Column =
    ExpressionUtils.column(WsTokenStats(ExpressionUtils.expression(c), stopwords, lexicon))
}
