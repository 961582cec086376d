package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextOps
import graft.functions.{Num, Text}

/** Text-corpus analysis operators for training-data pipelines: language
  * identification, quality scoring, token counting, and document
  * fingerprinting. All codegen-only column expressions (no UDFs) with
  * DuckDB-mirrorable semantics.
  */
object TextAnalysis {

  /** Tiny per-language function-word lexicons (n-gram-heuristic language
    * ID in its simplest deterministic form). */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "mit", "von", "ist"),
    "en" -> Seq("the", "and", "for", "with", "from", "that", "this"),
    "es" -> Seq("los", "las", "con", "para", "por", "una", "del"),
    "fr" -> Seq("les", "des", "est", "avec", "dans", "une", "sur"))

  /** Language-ID: count lexicon hits over the `[^a-z0-9]+` tokens of the
    * lowercased text; winner is the highest score, ties broken by
    * language code ascending; all-zero (or null text) → "und" (ISO 639
    * undetermined). One pass of the codegen'd
    * [[org.apache.spark.sql.graft.LexiconArgmax]] kernel. */
  def langId(text: Column): Column = TextOps.lexiconArgmax(lower(text), Lexicons)

  /** Per-language lexicon score (for inspection/thresholding). */
  def langScore(text: Column, lang: String): Column =
    TextOps.lexiconArgmax(lower(text), Lexicons, scoreOf = Some(lang))

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token count: alphanumeric runs + single non-space symbols —
    * the standard cheap proxy for subword token counts. */
  def bpeIshTokenCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"))

  /** The whitespace-token signals of a lowercased, trimmed text in one
    * pass of the codegen'd [[org.apache.spark.sql.graft.WsTokenStats]]
    * kernel: a struct of `n_tokens`, `n_chars`, `n_stop` (stopword
    * hits), `n_distinct` and `n_lex` (English-lexicon hits) over
    * `split(text, '\\s+')`. Null text gives a null struct. */
  private[text] def wsStats(prepared: Column): Column =
    TextOps.wsTokenStats(prepared, Text.Stopwords, Lexicons.toMap.apply("en"))

  /** Document-quality heuristics (length, stopword ratio, mean word
    * length) combined into one [0,1] score:
    * 0.4·min(n_tok/100, 1) + 0.3·(1 − stopword_ratio) + 0.3·min(mean_len/8, 1).
    */
  def qualityScore(text: Column): Column = {
    val st = wsStats(trim(lower(text)))
    val nTok = st("n_tokens")
    val stopRatio = st("n_stop").cast("double") / nTok
    val meanLen = st("n_chars").cast("double") / nTok
    // floor-scaled to micro-units rather than round(…, 6): both engines
    // compute the identical double, but their ROUND implementations can
    // disagree at a .5 boundary of the 6th decimal; floor cannot
    floor((
      least(nTok.cast("double") / 100.0, lit(1.0)) * 0.4 +
        (lit(1.0) - stopRatio) * 0.3 +
        least(meanLen / 8.0, lit(1.0)) * 0.3) * 1e6).cast("long")
  }

  /** Composite C4/Gopher-style document-quality GATE — the keep/drop
    * decision a training-data pipeline runs after signal extraction
    * (Raffel et al. 2020 §2.2; Rae et al. 2021 App. A1.1 give the rule
    * families). Rules evaluate in a fixed order and the FIRST failure
    * names the drop reason (deterministic, so the decision is
    * SQL-mirrorable): token count outside [minWords, maxWords] →
    * `n_tokens`; mean word length outside [minMeanLen, maxMeanLen] →
    * `mean_word_len`; fewer than `minStopwords` stopword hits →
    * `stopwords`; duplicate-token fraction above `maxDupFrac` →
    * `repetition`; otherwise keep (reason null).
    *
    * Output: (idCol, n_tokens, dup_frac_e6, reason, keep) plus any
    * `passthrough` columns carried through verbatim (lets a composed
    * pipeline keep sibling row-local signals — e.g. langId — in the SAME
    * projection instead of re-joining on id). Row-local column
    * expressions only — no shuffle, no join; at 100 TB this is a single
    * codegen'd projection over the corpus scan. */
  def qualityFilter(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      minWords: Int = 20, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minStopwords: Int = 1, maxDupFrac: Double = 0.6,
      passthrough: Seq[String] = Nil): DataFrame = {
    // coalesce null text to '' FIRST: otherwise size(null) is -1 (legacy)
    // or null (ANSI) and a null document's keep/reason flips with the
    // engine config. '' tokenizes to [''] → m = 1 < minWords → dropped as
    // 'n_tokens', deterministically, on both engines (oracles mirror the
    // coalesce).
    val st = wsStats(trim(lower(coalesce(col(textCol), lit("")))))
    val extra = passthrough.map(col)
    docs
      .select(col(idCol) +: st.as("_st") +: extra: _*)
      .select(Seq(col(idCol),
        col("_st.n_tokens").as("_m"),
        (col("_st.n_chars").cast("double") / col("_st.n_tokens")).as("_mean"),
        col("_st.n_stop").as("_stop"),
        ((col("_st.n_tokens") - col("_st.n_distinct")).cast("double")
          / col("_st.n_tokens")).as("_dup")) ++ extra: _*)
      .select(Seq(col(idCol),
        col("_m").cast("long").as("n_tokens"),
        floor(col("_dup") * 1e6).cast("long").as("dup_frac_e6"),
        when(col("_m") < minWords || col("_m") > maxWords, "n_tokens")
          .when(col("_mean") < minMeanLen || col("_mean") > maxMeanLen, "mean_word_len")
          .when(col("_stop") < minStopwords, "stopwords")
          .when(col("_dup") > maxDupFrac, "repetition")
          .as("reason")) ++ extra: _*)
      .withColumn("keep", col("reason").isNull)
  }

  /** Order-sensitive document fingerprint: polynomial rolling hash over
    * the token-hash sequence, acc ← (31·acc + md5Long(tok)) mod 2⁴⁰.
    * Bounded accumulator keeps 31·acc + h < 2⁶³ (no overflow). */
  val FingerprintMod: Long = 1L << 40

  /** Winnowing position bound: positions are packed into the low 20 bits
    * of the arithmetic tie-break key (see [[winnowFingerprints]]), so a
    * document contributes fingerprints only from its first
    * `WinnowPosMask + k` normalized chars. Shared (with the same value)
    * by the Spark contract AND the DuckDB oracles — both sides truncate
    * identically, so there is no silent divergence on over-long docs. */
  val WinnowPosMask: Int = (1 << 20) - 1

  def fingerprint(tokens: Column): Column =
    aggregate(tokens, lit(0L),
      (acc, t) => pmod(acc * 31 + Text.md5Long(t), lit(FingerprintMod)))

  /** Gopher-style repetition quality signals (Rae et al. 2021, App. A1.1)
    * over whitespace tokens, one row per document:
    *
    *   - `dup_token_frac_e6`   — fraction of tokens that repeat an
    *     earlier token: (m − m_distinct)/m.
    *   - `top_bigram` / `top_bigram_frac_e6` — the most frequent word
    *     2-gram (ties → lexicographically smallest) and the fraction of
    *     non-space characters its occurrences cover: c·charlen/total.
    *   - `dup_trigram_frac_e6` — fraction of non-space characters covered
    *     by word 3-grams occurring ≥ 2×, occurrences counted with
    *     overlap (the cheap standard variant of Gopher's duplicate-n-gram
    *     character fraction): Σ_{c(g)≥2} c(g)·charlen(g) / total.
    *
    * Fractions are emitted as `floor(f·1e6)` longs (cross-engine-stable;
    * see qualityScore). n-gram char length excludes the joiner spaces:
    * charlen(g) = length(g) − (n−1).
    *
    * Shape for scale: n-gram construction is row-local (array slice over
    * the token array — no self-join); the only shuffle is the
    * groupBy (doc, n, gram) count plus the per-doc rollup, both keyed by
    * doc id, so hot documents cannot skew a global key.
    */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val text = trim(lower(col(textCol)))
    val base = docs
      .select(col(idCol).as("id"), split(text, "\\s+").as("toks"),
        wsStats(text).as("st"))
      .select(col("id"), col("toks"), col("st.n_chars").as("total_chars"),
        col("st.n_tokens").as("m"), col("st.n_distinct").as("m_distinct"))

    def gramRows(n: Int): DataFrame = base
      .select(col("id"), col("total_chars"), col("m"), col("m_distinct"),
        lit(n).as("n"),
        explode(when(col("m") >= n,
          transform(sequence(lit(1), col("m") - (n - 1)),
            i => concat_ws(" ", slice(col("toks"), i, lit(n)))))
          .otherwise(array())).as("gram"))

    val counts = gramRows(2).unionByName(gramRows(3))
      .groupBy("id", "total_chars", "m", "m_distinct", "n", "gram")
      .agg(count(lit(1)).as("c"))

    // min(struct(-c, gram)) = (max count, then lexicographically-smallest
    // gram) — a deterministic argmax without a window.
    val perDoc = counts
      .groupBy("id", "total_chars", "m", "m_distinct")
      .agg(
        min(when(col("n") === 2, struct((-col("c")).as("negc"), col("gram"))))
          .as("top2"),
        coalesce(sum(when(col("n") === 3 && col("c") >= 2,
          col("c") * (length(col("gram")) - 2))), lit(0L)).as("dup3_chars"))

    def e6(f: Column): Column = floor(f * 1e6).cast("long")
    perDoc.select(
      col("id").as(idCol),
      e6((col("m") - col("m_distinct")).cast("double") / col("m"))
        .as("dup_token_frac_e6"),
      col("top2.gram").as("top_bigram"),
      e6((-col("top2.negc") * (length(col("top2.gram")) - 1)).cast("double")
        / col("total_chars")).as("top_bigram_frac_e6"),
      e6(col("dup3_chars").cast("double") / col("total_chars"))
        .as("dup_trigram_frac_e6"))
  }

  /** Per-group token-budget selection — the "fill a training budget"
    * tail of a corpus pipeline: within each group (source, language,
    * …), documents are admitted in content-addressed priority order
    * (md5 of id — stable across runs and refreshes, unlike task order)
    * until the group's running token total passes `budget`. keep ⇔
    * inclusive cumulative sum ≤ budget, so the kept set is exactly the
    * maximal admissible prefix — one deterministic rule both engines
    * can state.
    *
    * 100 TB shape: a naive `Window.partitionBy(grp)` sorts an entire
    * group on one reducer — the hot-source skew killer. Instead the
    * cumulative sum is distributed the way [[graft.core.Blocks]]'
    * purge does it, with one improvement: the range bucket is computed
    * FROM the priority itself (`pri / (2^60 / numBuckets)` — md5Long
    * is uniform on [0, 2^60)), not from `spark_partition_id`, so
    * bucket assignment is a pure row-local function. That removes
    * purge's correctness-critical persist: recomputation cannot
    * re-plan rows into different buckets, AQE or not. Per-bucket
    * prefix offsets are a `numBuckets × groups-touching-bucket`
    * driver table (bounded by config, not data), broadcast back.
    *
    * Output: (grp, id, n_tokens, cum_tokens, keep) for every input
    * document. Output is numBuckets-invariant (spec-asserted). */
  def tokenBudget(docs: DataFrame, idCol: String, textCol: String,
                  groupCol: String, budget: Long,
                  numBuckets: Int = 64): DataFrame =
    groupTokenCumsum(docs, idCol, textCol, groupCol, numBuckets)
      .select(col("grp"), col("id"), col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= budget).as("keep"))

  /** The shared distributed cumulative sum under [[tokenBudget]] and
    * [[packSequences]]: per group, inclusive running token total in
    * content-addressed (md5-priority) order. Output:
    * (grp, id, n_tokens, cum_tokens) — see [[tokenBudget]]'s scaladoc
    * for why the range bucket is derived from the priority itself. */
  private def groupTokenCumsum(
      docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, numBuckets: Int): DataFrame = {
    val bucketWidth = (1L << 60) / numBuckets
    val base = docs.select(
      col(groupCol).cast("string").as("grp"),
      col(idCol).cast("string").as("id"),
      wsTokenCount(coalesce(col(textCol), lit(""))).cast("long").as("n_tokens"))
      .withColumn("_pri", Text.md5Long(col("id")))
      .withColumn("_bkt", (col("_pri") / bucketWidth).cast("int"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"), col("_bkt"))
      .orderBy(col("_pri"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val local = base.withColumn("l_sum", sum(col("n_tokens")).over(wIn))
    // driver-side prefix: per-(grp, bucket) totals, bucket-ordered scan
    // per group (the RDD.zipWithIndex trick, as in Blocks.purge)
    val perBkt = base.groupBy(col("grp"), col("_bkt"))
      .agg(sum(col("n_tokens")).as("b_sum")).collect()
    val offRows = {
      var curGrp: String = null; var acc = 0L
      perBkt.map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .sortBy { case (g, b, _) => (g, b) }
        .map { case (g, b, s) =>
          if (g != curGrp) { curGrp = g; acc = 0L }
          val row = (g, b, acc); acc += s; row
        }.toSeq
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val offsets = offRows.toDF("grp", "_bkt", "_off")
    local.join(broadcast(offsets), Seq("grp", "_bkt"))
      .select(col("grp"), col("id"), col("n_tokens"),
        (col("l_sum") + col("_off")).as("cum_tokens"))
  }

  /** Deterministic sequence packing — assign every document of a group
    * to a training bin of ~`window` tokens: documents are laid out in
    * content-addressed priority order (md5 of id, the same order as
    * [[tokenBudget]]) and bin = exclusive-cumsum div window, i.e. a new
    * bin starts whenever the running total crosses a window boundary.
    * One deterministic rule both engines can state; bins are stable
    * across runs, cluster sizes, and numBuckets (the distributed-cumsum
    * knob). A document longer than `window` occupies its bin(s) alone —
    * packing never splits documents (splitting is the loader's job).
    *
    * 100 TB shape: identical to [[tokenBudget]] — the per-group cumsum
    * is range-bucket distributed (no single-reducer sort of a hot
    * source), bin assignment is then row-local arithmetic.
    *
    * Output: (grp, id, n_tokens, bin). */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    groupCol: String, window: Long,
                    numBuckets: Int = 64): DataFrame = {
    require(window > 0, "window must be positive")
    // `div`, not `/`: integral division stays in long arithmetic (`/`
    // promotes to double, whose 53-bit mantissa is a hazard once group
    // token totals reach petascale counts)
    groupTokenCumsum(docs, idCol, textCol, groupCol, numBuckets)
      .select(col("grp"), col("id"), col("n_tokens"),
        expr(s"(cum_tokens - n_tokens) div ${window}L").as("bin"))
  }

  /** Overlapping token-window chunking — the retrieval/embedding prep
    * step (split every document into ~`chunkSize`-token windows with
    * `overlap` tokens of context carry-over, the standard RAG chunker).
    * Chunks start every `chunkSize − overlap` tokens; the last window
    * may be short but is never empty; a document shorter than one window
    * yields exactly one chunk. Chunk text is emitted as an md5 digest
    * plus its first token and length — the joinable/verifiable shape;
    * callers embedding the chunks re-join the digest to their own
    * chunk-text materialization (or change the select to carry the raw
    * text; the plan shape is identical).
    *
    * 100 TB shape: entirely ROW-LOCAL — whitespace split, window
    * arithmetic, and per-chunk digest are one projection with a
    * posexplode; no shuffle at all until whatever the caller does next.
    * Output: (id, chunk_idx, chunk_start, n_tok, chunk_md5). */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
                   chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val toks = filter(split(trim(coalesce(col(textCol), lit(""))), "\\s+"),
      t => t =!= "")
    // n chunks = ceil(max(n_tok - overlap, 1) / stride); window i covers
    // tokens [i*stride, i*stride + chunkSize)
    docs.select(col(idCol).cast("string").as("id"), toks.as("_t"))
      .withColumn("_n", greatest(size(col("_t")), lit(1)))
      // integral div (`div`, not `/` — int `/` promotes to double) with a
      // floor of one chunk: a doc shorter than `overlap` tokens still
      // yields its single window
      .withColumn("_chunks", greatest(
        expr(s"(_n - $overlap + ${stride - 1}) div $stride").cast("int"), lit(1)))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), col("_chunks") - 1), i =>
          slice(col("_t"), i * stride + 1, lit(chunkSize)))).as(Seq("chunk_idx", "_c")))
      .select(col("id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("chunk_start"),
        size(col("_c")).as("n_tok"),
        md5(concat_ws(" ", col("_c"))).as("chunk_md5"))
  }

  /** Deterministic weighted sampling without replacement — per group,
    * the Efraimidis–Spirakis A-ES rule (Inf. Process. Lett. 2006): each
    * row draws u ∈ (0,1) and ranks by u^(1/w); the top k per group are
    * a weighted sample without replacement. The uniform is
    * CONTENT-ADDRESSED (md5 of the id — the same determinism discipline
    * as [[mixtureSample]]), so the sample is reproducible across runs,
    * engines, and refreshes, and a re-crawled document keeps its draw.
    *
    * `weight` is any positive column (here typically a quality score or
    * token count — "sample proportionally to usefulness"). Rank ties
    * break on id.
    *
    * 100 TB shape: the draw and key are row-local; the only shuffle is
    * the per-group top-k window (partial-agg friendly; a hot group is
    * one partition's window, k-bounded output).
    *
    * Output: (grp, id, w, rank) with rank 1..k by descending key. */
  def weightedSample(docs: DataFrame, idCol: String, groupCol: String,
                     weight: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (Text.md5Long(col("id")).cast("double") + lit(0.5)) /
      lit((1L << 60).toDouble)
    val keyed = docs.select(col(groupCol).cast("string").as("grp"),
        col(idCol).cast("string").as("id"), weight.cast("double").as("w"))
      .filter(col("w") > 0)
      .withColumn("_key", pow(u, lit(1.0) / col("w")))
    val win = Window.partitionBy("grp")
      .orderBy(col("_key").desc, col("id").asc)
    keyed.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("grp"), col("id"), col("w"), col("rank"))
  }

  /** Distributed BPE merge learning (Sennrich, Haddow & Birch, ACL 2016
    * — "Neural Machine Translation of Rare Words with Subword Units"):
    * `rounds` greedy merge steps over the corpus vocabulary. The corpus
    * collapses ONCE to a (word, count) vocabulary table (the classic
    * trick — all subsequent rounds run on vocab-sized data, ~√corpus);
    * each round counts adjacent symbol pairs weighted by word count,
    * takes the argmax pair (count desc, pair asc — deterministic), and
    * applies the merge to every word's symbol sequence.
    *
    * Symbol sequences are encoded as dot-delimited strings with DOUBLE
    * separators (`·a··b··c·`), so a merge of (x, y) is the literal
    * string replace `·x··y·` → `·xy·` — left-to-right non-overlapping
    * in BOTH engines and adjacency-safe (each match consumes one dot
    * from each shared separator, leaving the other for the neighboring
    * occurrence), which is exactly the BPE greedy-application rule, and
    * boundary-safe because every symbol is delimiter-wrapped. Pair
    * COUNTS allow overlap
    * (adjacent-pair multiset), matching the reference algorithm. No
    * end-of-word marker (merges stay within words; add one by appending
    * a sentinel symbol to the char expansion if cross-word boundary
    * modeling is wanted).
    *
    * 100 TB shape: one corpus-wide word-count aggregate (map-side
    * combined), then `rounds` iterations over the vocab table — each a
    * vocab-sized explode + aggregate + one-row argmax broadcast + a
    * row-local replace, with a localCheckpoint per round to keep the
    * plan flat. The merge table itself is rounds-sized.
    *
    * Output: (round 1.., pair "x·y", cnt) — the learned merge table in
    * order. */
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    bpeLearn(docs, textCol, rounds)._1

  /** BPE application — segment the corpus with the merges [[bpeMerges]]
    * learns and report the per-document subword count next to the word
    * count (the compression a tokenizer buyer actually reads: how much
    * did `rounds` merges shrink the sequence length?). Learning and
    * application share the final vocabulary table, so a word's
    * segmentation is computed once per DISTINCT word, and the corpus
    * pass is one vocab join (AQE broadcasts the vocab when it fits —
    * the usual case; vocabularies are ~√corpus).
    *
    * Output: (id, n_words, n_subwords). */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                rounds: Int): DataFrame = {
    val (_, vocab) = bpeLearn(docs, textCol, rounds)
    val sub = vocab.select(col("w"),
      size(filter(split(col("sym"), "·"), t => t =!= "")).as("n_sub"))
    docs.select(col(idCol).cast("string").as("id"),
        explode(Text.tokenize(col(textCol), minLength = 1, stopwords = Nil)).as("w"))
      .join(sub, Seq("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
  }

  /** The shared BPE learner behind [[bpeMerges]] / [[bpeEncode]]:
    * returns (merge table, final vocabulary with each word's segmented
    * symbol string). */
  private def bpeLearn(docs: DataFrame, textCol: String,
      rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, "need at least one merge round")
    val words = docs.select(explode(Text.tokenize(
        col(textCol), minLength = 1, stopwords = Nil)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    // Symbols are joined by DOUBLE dots with single dots at the ends
    // (`·a··b··c·`): a merge replace (`·x··y·` → `·xy·`) then consumes
    // one boundary dot from EACH side of the pair, leaving the shared
    // separator's other dot for the neighboring occurrence — so
    // adjacent occurrences of the merged pair (`abab`, `aaaa`) all merge
    // in one left-to-right pass, exactly the reference greedy-apply
    // rule. (A single-dot encoding under-merges: the first replace eats
    // the trailing delimiter the next match needs.)
    var vocab = words.select(col("w"),
      concat(lit("·"), concat_ws("··",
        transform(sequence(lit(1), length(col("w"))),
          i => substring(col("w"), i, lit(1)))), lit("·")).as("sym"),
      col("cnt")).localCheckpoint(eager = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (round <- 1 to rounds) {
      val toks = filter(split(col("sym"), "·"), t => t =!= "")
      // guard single-symbol words: sequence(1, 0) is DESCENDING in Spark
      // ([1, 0]), which would probe element_at past the array bound
      val adjacent = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit("·"),
            element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
      val pairs = vocab
        .select(col("cnt"), explode(adjacent).as("pair"))
        .groupBy("pair").agg(sum(col("cnt")).as("pcnt"))
      val top = pairs.orderBy(col("pcnt").desc, col("pair").asc).limit(1)
        .select(col("pair").as("_p"), col("pcnt").as("_c"))
        .localCheckpoint() // one row; evaluated eagerly, reused twice
      merges += top.select(lit(round).as("round"), col("_p").as("pair"),
        col("_c").as("cnt"))
      // a round with NO pairs (all-singleton vocabulary) must be a no-op,
      // not empty the vocab through the one-row crossJoin: fall back to a
      // sentinel pair (U+0001 cannot appear in [a-z0-9] symbols) whose
      // replace matches nothing. Real pairs always out-rank it (pcnt ≥ 1).
      val sentinel = docs.sparkSession.range(1)
        .select(lit("\u0001·\u0001").as("_p"), lit(0L).as("_c"))
      val topOrNoop = top.unionByName(sentinel)
        .orderBy(col("_c").desc, col("_p").asc).limit(1)
      vocab = vocab.crossJoin(broadcast(topOrNoop))
        .select(col("w"),
          call_function("replace", col("sym"),
            concat(lit("·"),
              call_function("replace", col("_p"), lit("·"), lit("··")),
              lit("·")),
            concat(lit("·"), call_function("replace", col("_p"), lit("·"), lit("")),
              lit("·"))).as("sym"),
          col("cnt"))
        .localCheckpoint(eager = false)
    }
    (merges.reduce(_.unionByName(_)), vocab)
  }

  /** Materialize [[packSequences]]' bins as training samples: one row
    * per (group, bin) with the member documents' text concatenated in
    * the SAME md5-priority order that packed them (so the sample a
    * loader reads is exactly the sample the packer planned).
    *
    * 100 TB shape: the per-bin aggregation state is bounded by
    * construction — a bin holds ~`window` tokens (+ one overflowing
    * document) regardless of corpus size, so the collect_list buffer
    * cannot blow up on a hot group the way an unbounded groupBy-concat
    * would; the only shuffle is the (grp, bin) exchange any per-bin
    * statistic pays. Output: (grp, bin, n_docs, bin_tokens, text). */
  def packBins(docs: DataFrame, idCol: String, textCol: String,
               groupCol: String, window: Long,
               numBuckets: Int = 64): DataFrame = {
    val packed = packSequences(docs, idCol, textCol, groupCol, window, numBuckets)
    val txt = docs.select(col(idCol).cast("string").as("id"),
      coalesce(col(textCol), lit("")).as("_txt"))
    packed.join(txt, Seq("id"))
      .withColumn("_pri", Text.md5Long(col("id")))
      .groupBy(col("grp"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("_pri"), col("id"), col("_txt")))),
          x => x.getField("_txt"))).as("text"))
  }

  /** Unigram language-model quality scoring — the CCNet-style proxy for
    * "does this document look like the reference corpus", without an
    * external model: add-one-smoothed unigram log-probabilities are
    * trained on a REFERENCE slice (e.g. a vetted source), and every
    * document scores its mean negative log-probability per token
    * instance (lower = more reference-like; OOV tokens pay the smoothed
    * floor 1/(N+V+1)). The standard use is a quality gate threshold or
    * a perplexity-bucketed mixture, composed with [[qualityFilter]].
    *
    * 100 TB shape: the model IS a vocab-bounded table — reference token
    * counts (groupBy with map-side combine over the reference scan),
    * broadcast into a map-side join against the corpus token stream; the
    * (N, V) totals ride a one-row broadcast. No corpus-side shuffle
    * except the final per-doc aggregation, which is the same exchange
    * any per-doc statistic pays. Docs with zero tokens have no score
    * rows and are absent from the output (the oracle agrees).
    *
    * Output: (id, n_toks, nll_e6 = round(−mean ln P, 6)). */
  def lmScore(docs: DataFrame, refDocs: DataFrame,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val refCounts = refDocs
      .select(explode(Text.tokenize(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = refCounts.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    docs.select(col(idCol).cast("string").as("id"),
        explode(Text.tokenize(col(textCol))).as("tok"))
      .join(broadcast(refCounts), Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lp", log((coalesce(col("c"), lit(0L)) + lit(1.0))
        / (col("n") + col("v") + lit(1.0))))
      .groupBy("id")
      .agg(count(lit(1)).as("n_toks"),
        Num.stableRound(-avg(col("lp")), 6).as("nll_e6"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2019 §4.3): cut
    * each group's documents into `head` / `middle` / `tail` at the
    * group's own 1/3 and 2/3 LM-score quantiles — the published
    * corpus-curation step that keeps the most reference-like third(s)
    * per language without a single global threshold penalizing
    * whole languages. The score is [[lmScore]]'s unigram NLL (the
    * engine's documented model-free stand-in for CCNet's KenLM
    * 5-gram); `groupCol` is CCNet's language — any corpus facet
    * (here typically `source` or a [[langId]] output) works.
    *
    * Determinism: scores are [[lmScore]]'s 6-decimal stable-rounded
    * values, thresholds are exact interpolated percentiles of those
    * rounded values, themselves stable-rounded at 6 decimals — both
    * engines then compare identical doubles, so the bucket boundary
    * cannot flip between Spark and the oracle (the
    * `ev_value_quantiles` percentile-portability protocol; ln() is
    * irrational so the 1e-6 grid hazard does not apply).
    *
    * 100 TB shape: [[lmScore]]'s contract (vocab-bounded broadcast
    * model, one per-doc aggregation) plus one groups-sized exact
    * percentile aggregate broadcast back — nothing beyond what any
    * per-group statistic pays. At unbounded per-group score
    * cardinality swap the exact `percentile` for `percentile_approx`
    * (t-digest, mergeable) — same call shape, same buckets up to the
    * sketch's rank error. Docs with zero tokens have no score and are
    * absent (the oracle agrees).
    *
    * Output: (id, grp, n_toks, nll_e6, bucket). */
  def lmBuckets(docs: DataFrame, refDocs: DataFrame,
                idCol: String = "doc_id", textCol: String = "text",
                groupCol: String = "source"): DataFrame = {
    val scores = lmScore(docs, refDocs, idCol, textCol)
    val grp = docs.select(col(idCol).cast("string").as("id"),
      col(groupCol).cast("string").as("grp"))
    val s = scores.join(grp, Seq("id"))
    val thr = s.groupBy("grp").agg(
      Num.stableRound(percentile(col("nll_e6"), lit(1.0 / 3)), 6).as("_t1"),
      Num.stableRound(percentile(col("nll_e6"), lit(2.0 / 3)), 6).as("_t2"))
    s.join(broadcast(thr), Seq("grp"))
      .select(col("id"), col("grp"), col("n_toks"), col("nll_e6"),
        when(col("nll_e6") <= col("_t1"), lit("head"))
          .when(col("nll_e6") <= col("_t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Deterministic stratified split assignment (train/val/test …): the
    * md5 fraction of each id walks a cumulative-threshold ladder built
    * from `fractions` (which must sum to ≤ 1; any remainder falls into
    * the LAST named split). Content-addressed, so assignment is stable
    * across runs, cluster sizes, and corpus refreshes — a re-crawled
    * doc keeps its split, the property that stops test-set leakage
    * between versions. Row-local projection, zero shuffle.
    *
    * Output: (id, split). */
  def splitAssign(docs: DataFrame, idCol: String,
                  fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && fractions.map(_._2).sum <= 1.0 + 1e-9)
    val frac = Text.md5Long(col("id")).cast("double") / lit((1L << 60).toDouble)
    val cum = fractions.scanLeft(0.0)(_ + _._2).tail
    val ladder = fractions.map(_._1).zip(cum).dropRight(1)
      .foldRight(lit(fractions.last._1): Column) { case ((name, upper), rest) =>
        when(frac < upper, name).otherwise(rest)
      }
    docs.select(col(idCol).cast("string").as("id"), ladder.as("split"))
  }

  /** Deterministic source-mixture resampling — "epochs per source",
    * the corpus-composition step of a training pipeline: each document
    * in group g is emitted `floor(w(g))` times, plus one more iff its
    * content-addressed md5 fraction falls below `frac(w(g))`. The
    * stochastic rounding is decided by the doc's own hash, not an RNG,
    * so the sample is reproducible across runs, cluster sizes, and
    * refreshes, and a group of N docs lands within one doc of N·w(g)
    * expected copies. w < 1 down-samples, w > 1 up-samples with copy
    * indices 0..n−1 (so downstream shuffles can salt on `copy`).
    *
    * 100 TB shape: one row-local codegen'd projection + posexplode over
    * the corpus scan — no shuffle at all; the weights table is a
    * broadcast map join. Output (grp, id, copy). */
  def mixtureSample(docs: DataFrame, idCol: String, groupCol: String,
                    weights: Map[String, Double],
                    defaultWeight: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.toSeq.toDF("grp", "_w")
    val frac = Text.md5Long(col("id")).cast("double") / lit((1L << 60).toDouble)
    docs.select(col(groupCol).cast("string").as("grp"),
        col(idCol).cast("string").as("id"))
      .join(broadcast(w), Seq("grp"), "left")
      .withColumn("_w", coalesce(col("_w"), lit(defaultWeight)))
      .withColumn("_n", (floor(col("_w")) +
        when(frac < col("_w") - floor(col("_w")), 1).otherwise(0)).cast("int"))
      .filter(col("_n") > 0)
      .select(col("grp"), col("id"),
        posexplode(array_repeat(lit(1), col("_n"))))
      .select(col("grp"), col("id"), col("pos").cast("long").as("copy"))
  }

  /** Temperature-based source re-balancing (the mT5/multilingual-mixing
    * rule, Xue et al. 2021 §3.1, arXiv:2010.11934 — public method): the
    * sampled share of group g is p_g^α / Σ_h p_h^α, flattening the
    * natural distribution toward uniform as α → 0. Unlike
    * [[mixtureSample]], the weights are COMPUTED FROM THE DATA — per-doc
    * expected copies w(g) = (p_g^α / Σ p^α) / p_g keep total corpus size
    * ≈ unchanged while shifting mass from hot sources to the tail — and
    * the per-doc emission reuses the same content-addressed stochastic
    * rounding (md5 fraction), so the resample is reproducible across
    * runs and refreshes.
    *
    * α = 0.5 is computed via `sqrt` (IEEE-exact, so both engines agree
    * bit-for-bit); other α go through `pow`, whose last-ulp freedom is
    * absorbed by the e6 rounding but can in principle flip a stochastic
    * rounding — the oracle-checked configuration pins α = 0.5.
    *
    * 100 TB shape: group counts are a groups-sized aggregate (map-side
    * combine to ≤ |groups| rows/partition); the weight table and the two
    * one-row totals ride broadcasts; the corpus itself is scanned once
    * with a row-local emission — no corpus shuffle at all.
    *
    * Output: (grp, id, copy, w_e6). */
  def temperatureSample(docs: DataFrame, idCol: String, groupCol: String,
                        alpha: Double = 0.5): DataFrame = {
    val counts = docs.groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).cast("double").as("_c"))
    val n = counts.agg(sum(col("_c")).as("_n"))
    val powed = counts.crossJoin(broadcast(n))
      .withColumn("_p", col("_c") / col("_n"))
      .withColumn("_s",
        if (alpha == 0.5) sqrt(col("_p")) else pow(col("_p"), lit(alpha)))
    val z = powed.agg(sum(col("_s")).as("_z"))
    val weights = powed.crossJoin(broadcast(z))
      .select(col("grp"), ((col("_s") / col("_z")) / col("_p")).as("_w"))
    val frac = Text.md5Long(col("id")).cast("double") / lit((1L << 60).toDouble)
    docs.select(col(groupCol).cast("string").as("grp"),
        col(idCol).cast("string").as("id"))
      .join(broadcast(weights), Seq("grp"))
      .withColumn("_n", (floor(col("_w")) +
        when(frac < col("_w") - floor(col("_w")), 1).otherwise(0)).cast("int"))
      .filter(col("_n") > 0)
      .select(col("grp"), col("id"), Num.stableRound(col("_w"), 6).as("w_e6"),
        posexplode(array_repeat(lit(1), col("_n"))))
      .select(col("grp"), col("id"), col("pos").cast("long").as("copy"),
        col("w_e6"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169 —
    * public method): score every corpus document by how much more likely
    * its hashed n-gram features are under a TARGET distribution than
    * under the raw corpus distribution. Features are unigrams + bigrams
    * (no length/stopword filter — the shingle-family convention) hashed
    * into `numBuckets` buckets; both models are add-one-smoothed bucket
    * counts; a document's weight is the mean per-feature-instance
    * log-likelihood ratio ln(P_target(b)/P_raw(b)). Downstream, docs are
    * resampled ∝ exp(weight) (composable with [[mixtureSample]] /
    * [[splitAssign]]); the score itself is the operator here.
    *
    * 100 TB shape: the two models are BUCKET-BOUNDED tables (≤
    * numBuckets rows after map-side combine), joined back into the
    * corpus feature stream as broadcasts with a one-row totals
    * broadcast — so the corpus pays one feature scan plus the same
    * per-doc aggregation exchange any per-doc statistic pays; nothing
    * data-sized ever sits on the driver. Docs with zero features emit
    * no row (the oracle agrees).
    *
    * Output: (id, n_feats, dsir_e6). */
  def dsirWeights(corpus: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, numBuckets: Int = 1024): DataFrame = {
    def feats(df: DataFrame): DataFrame = {
      val toks = Text.tokenize(coalesce(col(textCol), lit("")),
        minLength = 1, stopwords = Nil)
      df.select(col(idCol).cast("string").as("id"),
          explode(concat(toks, Text.wordShingles(toks, 2))).as("f"))
        .select(col("id"),
          pmod(Text.md5Long(col("f")), lit(numBuckets.toLong)).as("bkt"))
    }
    val cf = feats(corpus)
    val rc = cf.groupBy("bkt").agg(count(lit(1)).as("rc"))
    val tc = feats(target).groupBy("bkt").agg(count(lit(1)).as("tc"))
    // The model table is numBuckets rows but its lineage is a full corpus
    // + target feature scan; it feeds the totals aggregate AND the
    // broadcast score join, each of which would re-run that scan when
    // building its exchange. localCheckpoint materializes the 1024 rows
    // once (measured 10.6 → ~4 s at sf0.1).
    val model = rc.join(tc, Seq("bkt"), "left")
      .select(col("bkt"), col("rc"), coalesce(col("tc"), lit(0L)).as("tc"))
      .localCheckpoint()
    val totals = model.agg(sum(col("rc")).as("rt"), sum(col("tc")).as("tt"))
    val b = lit(numBuckets.toDouble)
    cf.join(broadcast(model), Seq("bkt"))
      .crossJoin(broadcast(totals))
      .withColumn("lr",
        log((col("tc") + lit(1.0)) / (col("tt") + b))
          - log((col("rc") + lit(1.0)) / (col("rt") + b)))
      .groupBy("id")
      .agg(count(lit(1)).as("n_feats"),
        Num.stableRound(avg(col("lr")), 6).as("dsir_e6"))
  }

  /** PII patterns shared by [[piiRedact]] and its oracle: kept inside
    * the portable regex subset (no lookaround, no `\b`) so Java
    * (Spark codegen) and RE2 (DuckDB) agree byte-for-byte. Order
    * matters: emails are redacted before phones/IPs so an address's
    * digits can't be re-matched by the later passes. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"))

  /** PII redaction — the scrub pass of a training-data pipeline:
    * replace emails / IPv4s / phone-shaped numbers with typed
    * placeholder tokens and count what was removed (the count columns
    * are the audit trail a corpus release ships with).
    *
    * 100 TB shape: a single row-local codegen'd projection (chained
    * regexp_replace + regexp_count per pattern) over the corpus scan —
    * zero shuffle, no UDF; the same column expressions compose
    * unchanged on a document stream.
    *
    * Output: (id, n_email, n_ip, n_phone, redacted). */
  def piiRedact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val counts = PiiPatterns.map { case (name, re, _) =>
      size(regexp_extract_all(t, lit(re), lit(0))).cast("long").as(s"n_$name")
    }
    val redacted = PiiPatterns.foldLeft(t) { case (c, (_, re, repl)) =>
      regexp_replace(c, lit(re), lit(repl))
    }
    docs.select(
      (col(idCol).cast("string").as("id") +: counts :+ redacted.as("redacted")): _*)
  }

  /** Shannon token entropy per document — the information-density
    * quality signal (low entropy ⇔ repetitive/templated text, high ⇔
    * diverse vocabulary; a standard pre-training filter feature
    * alongside [[repetitionSignals]]). Computed with the
    * algebraically-exact rewrite H = ln m − (Σ c·ln c)/m over per-doc
    * token counts, which needs ONE sum of c·ln c instead of a
    * probability per token — fewer float ops, and the same expression
    * both engines. Output: (doc_id, n_toks, vocab, entropy[6dp]).
    *
    * Scale shape: explode → (doc, token) count → doc rollup; both
    * aggregations keyed by document, no corpus-global key. */
  def tokenEntropy(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(col(idCol),
        explode(Text.tokenize(col(textCol), minLength = 1, stopwords = Nil))
          .as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
    counts.groupBy(col(idCol))
      .agg(sum(col("c")).as("n_toks"), count(lit(1)).as("vocab"),
        sum(col("c") * log(col("c"))).as("_clc"))
      .select(col(idCol), col("n_toks"), col("vocab"),
        Num.stableRound(
          log(col("n_toks")) - col("_clc") / col("n_toks"), 6).as("entropy"))
  }

  /** Bigram language-model scoring with stupid backoff (Brants et al.
    * 2007, "Large Language Models in Machine Translation" — the
    * web-scale LM smoothing that needs no held-out tuning): for each
    * in-document bigram (w1, w2),
    *
    *   S(w2|w1) = c(w1 w2) / c(w1)            if the bigram is in the
    *                                          reference model,
    *            = α · (c(w2)+1) / (N+V)       otherwise (add-one-
    *                                          smoothed unigram backoff),
    *
    * α = 0.4 per the paper; output is the per-document mean negative
    * log score — the upgrade path from the unigram [[lmScore]] when
    * ranking corpus text against a reference slice.
    *
    * 100 TB shape: the unigram and bigram model tables are JOINED on
    * their feature keys (vocab- and bigram-vocab-sized — at web scale
    * they do not broadcast; AQE may still choose broadcast when they
    * fit). Only the one-row (N, V) totals are broadcast. The corpus
    * pays one token scan; bigrams are row-local slices of the token
    * array (no self-join). */
  def lmBigramScore(docs: DataFrame, refDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      alpha: Double = 0.4): DataFrame = {
    def bigramRows(df: DataFrame): DataFrame = {
      val withT = df.select(col(idCol).cast("string").as("id"),
        Text.tokenize(col(textCol)).as("ts"))
      withT
        .filter(size(col("ts")) >= 2)
        .select(col("id"), explode(arrays_zip(
          slice(col("ts"), lit(1), size(col("ts")) - 1).as("w1"),
          slice(col("ts"), lit(2), size(col("ts")) - 1).as("w2"))).as("bi"))
        .select(col("id"), col("bi.w1").as("w1"), col("bi.w2").as("w2"))
    }
    val refToks = refDocs
      .select(explode(Text.tokenize(col(textCol))).as("tok"))
    val uni = refToks.groupBy("tok").agg(count(lit(1)).as("cu"))
    val bi = bigramRows(refDocs).groupBy("w1", "w2")
      .agg(count(lit(1)).as("cb"))
    // coalesce + greatest guard the EMPTY-model degenerate case (sum over
    // no rows is NULL; a zero denominator would null every score): with
    // no reference data every bigram backs off to α·1/1. Non-empty
    // models always have n + v ≥ 2, so the guard never changes them.
    val totals = uni.agg(
      coalesce(sum(col("cu")), lit(0L)).cast("double").as("n"),
      count(lit(1)).cast("double").as("v"))
    bigramRows(docs)
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select(col("tok").as("w1"), col("cu").as("cu1")),
        Seq("w1"), "left")
      .join(uni.select(col("tok").as("w2"), col("cu").as("cu2")),
        Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("s",
        when(col("cb").isNotNull, col("cb") / col("cu1"))
          .otherwise(lit(alpha) * (coalesce(col("cu2"), lit(0L)) + lit(1.0))
            / greatest(col("n") + col("v"), lit(1.0))))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        Num.stableRound(avg(-log(col("s"))), 6).as("nll_e6"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    * character k-gram of the normalized text (lowercased,
    * non-alphanumerics removed), slide a window of `w` consecutive
    * hashes, and in each full window select the minimum hash, breaking
    * ties toward the RIGHTMOST position (the paper's rule — it minimizes
    * the number of distinct selections). The fingerprint set is the
    * distinct (hash, position) pairs selected; any substring match of
    * length ≥ k+w−1 between two documents is guaranteed to share a
    * fingerprint.
    *
    * Output: one row per document with ≥ 1 full window —
    * (doc_id, n_fp bigint, fp_sum bigint) where n_fp is the fingerprint
    * count and fp_sum the sum of selected 40-bit hashes (a compact
    * content digest; two docs sharing all fingerprints share both).
    *
    * Cross-engine determinism: the k-gram hash is the first 10 hex chars
    * of md5 (40 bits — reproducible in DuckDB as
    * `('0x'||substr(md5(g),1,10))::bigint`), and min-with-rightmost-tie
    * is encoded arithmetically as min over `h·2²⁰ + (2²⁰−1−pos)` so both
    * engines resolve ties identically in pure integer arithmetic.
    * Positions are bounded by [[WinnowPosMask]] (2²⁰−1) per document —
    * ENFORCED by truncating the normalized text at `WinnowPosMask + k`
    * chars (both here and in the oracle), so the key stays below 2⁶⁰ and
    * over-long documents degrade predictably instead of corrupting the
    * min-selection.
    *
    * 100 TB shape: k-gram expansion is row-local (array transform); the
    * only per-document ordering is a window partitioned BY DOCUMENT
    * (bounded by document length, never a global sort); the rollup is
    * keyed by doc id. No corpus-wide shuffle beyond the final
    * doc-keyed aggregate. */
  def winnow(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, w: Int = 4): DataFrame =
    winnowFingerprints(docs, idCol, textCol, k, w)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fp"), sum(col("h")).as("fp_sum"))

  /** The raw fingerprint stream behind [[winnow]]: one row per selected
    * (hash, position) — the joinable form [[winnowPairs]] builds on. */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posMask = WinnowPosMask
    // Materialize the normalized text in its own projection: the qgrams
    // transform-lambda references it once PER ARRAY ELEMENT, so inlining
    // the regexp_replace would re-run it ~|text| times per document
    // (measured 13 s → 3 s at sf0.1 for this one hoist).
    // Truncate at posMask + k chars: positions beyond 2^20-1 would make
    // the packed tie-break key (h·2^20 + (posMask − pos)) go negative and
    // silently corrupt min-selection. Over-long documents degrade
    // predictably — fingerprints cover the first ~1M normalized chars —
    // instead of producing wrong fingerprints.
    val norm = docs.select(col(idCol),
      substring(regexp_replace(lower(coalesce(col(textCol), lit(""))),
        "[^a-z0-9]", ""), 1, posMask + k).as("t"))
    val grams = norm.select(col(idCol),
      posexplode(Text.qgrams(col("t"), k)).as(Seq("pos", "gram")))
    val h40 = conv(substring(md5(col("gram")), 1, 10), 16, 10).cast("long")
    val keyed = grams.select(col(idCol), col("pos"),
      (h40 * lit(1 << 20) + (lit(posMask) - col("pos"))).as("key"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    val ord = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    keyed
      .withColumn("sel", min(col("key")).over(win))
      .filter(col("pos") >= w - 1) // full windows only (paper semantics)
      // Dedup repeated selections with lag over the SAME doc-ordered
      // sequence instead of a distinct: a (hash, pos) pair can only win
      // consecutive windows (once beaten by an entering element — smaller
      // hash, or equal hash further right — that element outlives it in
      // every later window), so `sel != lag(sel)` ≡ distinct while reusing
      // the sort the min-window already did — no second exchange. The lag
      // must run AFTER the full-window filter: a partial leading window
      // can select the same pair as the first full window, which would
      // wrongly suppress the first real fingerprint.
      .withColumn("prev", lag(col("sel"), 1).over(ord))
      .filter(col("prev").isNull || col("sel") =!= col("prev"))
      // `div`, not `/`: long `/` promotes to double, whose 53-bit
      // mantissa cannot hold the 60-bit packed key exactly.
      .select(col(idCol), expr(s"sel div ${1 << 20}").as("h"),
        (lit(posMask) - col("sel") % lit(1 << 20)).as("fp_pos"))
  }

  /** Winnowing-based near-dup pairs: documents sharing ≥ `minShared`
    * DISTINCT selected hashes. The third near-dup family next to
    * shingle-Jaccard (MinHash) and bit-vote (SimHash): winnowing
    * fingerprints are position-selected from ORDERED k-gram runs, so a
    * shared fingerprint witnesses a shared contiguous substring of
    * length ≥ k — this catches ordered passage overlap (plagiarism,
    * quoted spans) that bag-of-shingles similarity dilutes on long
    * hosts. Candidates come from an equi-join on the fingerprint hash —
    * selectivity is the winnowing density (~2/(w+1) of positions), and
    * degenerate boilerplate hashes are droppable by the same hot-key
    * cap discipline as LSH band buckets (`maxHashDocs`).
    *
    * Output: (id_a, id_b, shared) with id_a < id_b, shared = count of
    * distinct co-selected hashes. */
  def winnowPairs(docs: DataFrame, minShared: Int,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 8, w: Int = 4, maxHashDocs: Int = 0): DataFrame = {
    // NOT checkpointed/persisted: the renamed self-join sides share one
    // runtime-reused exchange (r18 A/B at sf0.1 was a wash; the r19 ×10
    // A/B REGRESSED under a checkpoint — capped 14.2→24.0 s, max-task
    // shuffle records 131714→183124 — because the checkpoint leaf loses
    // the shared exchange and both sides re-shuffle it).
    val fp = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("h")).distinct()
    val capped =
      if (maxHashDocs <= 0) fp
      else {
        val hot = fp.groupBy("h").agg(count(lit(1)).as("_n"))
          .filter(col("_n") > maxHashDocs).select("h")
        fp.join(hot, Seq("h"), "left_anti")
      }
    capped.select(col("h"), col("id").as("id_a"))
      .join(capped.select(col("h"), col("id").as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Vocabulary growth curve (Heaps' law observable): with the corpus
    * ordered by document id, report at 10 evenly spaced id checkpoints
    * how many documents have been seen and how many distinct tokens the
    * vocabulary holds. The curve's bend is the standard diagnostic for
    * corpus diversity vs saturation when composing training mixes.
    *
    * Checkpoint i (1..10) is the id threshold
    * `min_id + ceil((max_id − min_id + 1)·i/10)`; a token is in the
    * decile-i vocabulary iff its FIRST occurrence (minimum doc id) is
    * below the threshold — so the whole curve needs exactly one corpus
    * token scan + a vocab-keyed min aggregate, then a vocab×10 broadcast
    * cross join rolled up to 10 rows. Nothing re-scans the corpus per
    * checkpoint, and no global sort: document order is the id order the
    * data already carries.
    *
    * Output: (decile int, n_docs bigint, vocab bigint), 10 rows. */
  def vocabGrowth(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val bounds = docs.agg(min(col(idCol)).as("lo"), max(col(idCol)).as("hi"))
    val checkpoints = spark.range(1, 11).toDF("decile")
      .crossJoin(broadcast(bounds))
      .select(col("decile").cast("int").as("decile"),
        (col("lo") + ceil((col("hi") - col("lo") + lit(1)) * col("decile") / lit(10))
          .cast("long")).as("thr"))
    val firsts = docs
      .select(col(idCol), explode(Text.tokenize(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(min(col(idCol)).as("first_id"))
    val vocab = firsts.crossJoin(broadcast(checkpoints))
      .filter(col("first_id") < col("thr"))
      .groupBy(col("decile"), col("thr"))
      .agg(count(lit(1)).as("vocab"))
    val nDocs = docs.select(col(idCol)).crossJoin(broadcast(checkpoints))
      .filter(col(idCol) < col("thr"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_docs"))
    vocab.join(nDocs, Seq("decile"))
      .select(col("decile"), col("n_docs"), col("vocab"))
  }

  // ------------------------------------------------------------------
  // F1: Punkt abbreviation LEARNING — Kiss & Strunk (2006) §3.1, the
  // type-based classification NLTK's PunktTrainer applies inside
  // word_tokenize's sentence splitter (the reference inherits it via
  // nltk word_tokenize, token_blocking.py:30). The criterion is pure
  // collocation statistics, so on Spark it is one token scan + one
  // type-keyed aggregate + a one-row corpus-totals broadcast — not a
  // model.

  /** Learn abbreviation types from a corpus by the published Kiss &
    * Strunk criterion: a Dunning log-likelihood ratio testing
    * H_A: P(period | type) = 0.99 against H_0: P(period | type) = the
    * corpus period rate, scaled by the three published factors —
    * `exp(-len)` length penalty, internal-period count bonus, and
    * `len^-c(w)` penalty for occurrences WITHOUT a final period —
    * classified abbreviation at score ≥ `threshold` (NLTK's ABBREV =
    * 0.3). Constants and factor shapes follow NLTK `punkt.py`
    * `_reclassify_abbrev_types` / `_dunning_log_likelihood` exactly.
    *
    * First-pass tokenization is the documented simplification of
    * Punkt's word tokenizer: whitespace split, lowercase, strip
    * leading/trailing characters that are neither `[a-z0-9]` nor `.`
    * (so `"dr."` and `(etc.)` count as `dr.` / `etc.`). Candidate
    * types must occur with a final period at least once and contain a
    * letter (Punkt's number/punctuation exclusion).
    *
    * Precondition (same domain as NLTK's `log`): the corpus must
    * contain at least one period-final and one non-period token,
    * otherwise `ln(p1)` / `ln(1-p1)` leave the real line and scores go
    * NaN rather than throwing.
    *
    * Output: `(token, c_period, c_plain, score, is_abbrev)` — one row
    * per candidate type, `score` stable-rounded at 1e-6 for the oracle
    * hash, `is_abbrev` decided on the UNROUNDED score. Survivors feed
    * [[graft.functions.Text.nltkTokenize]]'s `extraAbbrevs` seam (the
    * `--abbrev-list` mechanics), closing the corpus-LEARNED residual.
    *
    * 100 TB: the scan and the type aggregate shuffle on the type key
    * (vocabulary-sized, map-side combined); the totals frame is one
    * row, broadcast. Nothing driver-side. */
  def punktLearnAbbrevs(docs: DataFrame, textCol: String = "text",
      threshold: Double = 0.3): DataFrame = {
    val toks = docs
      .select(explode(split(coalesce(col(textCol), lit("")), "\\s+")).as("raw"))
      .select(regexp_replace(lower(col("raw")),
        "^[^a-z0-9.]+|[^a-z0-9.]+$", "").as("tok"))
      .filter(length(col("tok")) > 0)
    val totals = toks.agg(
      count(lit(1)).as("n_tokens"),
      coalesce(sum(when(col("tok").endsWith("."), 1L).otherwise(0L)), lit(0L))
        .as("n_period_toks"))
    val withP = col("tok").endsWith(".")
    val counts = toks
      .select(
        when(withP, expr("substring(tok, 1, length(tok) - 1)"))
          .otherwise(col("tok")).as("token"),
        withP.cast("long").as("wp"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(sum(col("wp")).as("c_period"),
        (count(lit(1)) - sum(col("wp"))).as("c_plain"))
      .filter(col("c_period") >= 1 && col("token").rlike("[a-z]"))
    // k = c(w.), n - k = c(w): the token's trials are its period and
    // plain occurrences; p1 is the corpus period rate.
    val p1 = col("n_period_toks").cast("double") / col("n_tokens")
    val k = col("c_period").cast("double")
    val nk = col("c_plain").cast("double")
    val nullH = k * log(p1) + nk * log(lit(1.0) - p1)
    val altH = k * log(lit(0.99)) + nk * log(lit(0.01))
    val ll = lit(-2.0) * (nullH - altH)
    // NLTK computes num_nonperiods = len(typ) - num_periods + 1 on the
    // period-stripped type, which is exactly the count of non-period
    // characters (len - internal periods); candidates carry >= 1 letter
    // so the pow base is never 0.
    val nonPeriodChars = length(regexp_replace(col("token"), "\\.", ""))
    val numPeriods = (length(col("token")) - nonPeriodChars + lit(1)).cast("double")
    val numNonPeriods = nonPeriodChars.cast("double")
    val score = ll * exp(-numNonPeriods) * numPeriods * pow(numNonPeriods, -nk)
    counts.crossJoin(broadcast(totals))
      .select(col("token"), col("c_period"), col("c_plain"),
        Num.stableRound(score, 6).as("score"),
        (score >= threshold).as("is_abbrev"))
      .orderBy("token")
  }
}
