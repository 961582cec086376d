package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.Text

/** End-to-end corpus curation as ONE observable verdict table — the
  * "tag, don't drop" composition of the independently-oracled stages a
  * training-data pipeline runs (langid gate → quality gate → exact
  * dedup → benchmark decontamination). Where `pipe_refine_corpus` emits
  * only the surviving manifest, this surface emits one row per INPUT
  * document with every stage's signal and a first-failure
  * `drop_stage` attribution, so a corpus owner can read the funnel
  * (what did each gate cost me, per source?) before committing to it.
  *
  * 100 TB shape: lang + quality tagging is a single codegen'd
  * projection over the corpus scan (the signals share one pass via
  * [[TextAnalysis.qualityFilter]]'s passthrough). The dedup key —
  * md5 of the sorted distinct token set, the [[Dedup.exactDuplicates]]
  * canonical key computed ROW-LOCALLY (no explode/groupBy) — shuffles
  * once on `dup_key` for the per-group min-id window; benchmark grams
  * are eval-suite-sized and broadcast ([[Dedup.decontaminate]]); the
  * final assembly joins three doc-count-sized narrow frames on id.
  * No stage touches document text after the initial scans.
  */
object Curation {

  /** Per-document curation verdict over `corpus` against `benchmark`
    * (the eval suite to decontaminate against).
    *
    * Stages, in drop-attribution order (FIRST failure names the stage):
    *  1. `lang` — [[TextAnalysis.langId]] prediction ∉ `allowedLangs`;
    *  2. `quality` — [[TextAnalysis.qualityFilter]] first-failing rule
    *     (the rule name itself lands in `quality_reason`);
    *  3. `duplicate` — exact duplicate (identical distinct token set)
    *     of an earlier-id document AMONG GATE SURVIVORS — a document
    *     dropped by lang/quality never shadows a surviving copy, and
    *     the canonical keeper is the group's min id (`dup_of` points
    *     to it);
    *  4. `contaminated` — shares ≥1 exact `contamN`-token window with
    *     the benchmark set (tagged for ALL documents, not just gate
    *     survivors — observability is the point).
    *
    * Output (one row per corpus document):
    * (id, lang, n_tokens, quality_reason, dup_of, n_hits, drop_stage,
    * keep) with `keep = drop_stage IS NULL`. */
  def verdicts(corpus: DataFrame, benchmark: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               allowedLangs: Seq[String] = Seq("en"),
               contamN: Int = 8,
               minWords: Int = 20, maxWords: Int = 100000,
               minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
               minStopwords: Int = 1, maxDupFrac: Double = 0.6): DataFrame = {
    // persist: the tagged frame (langId lexicon scores + every quality
    // rule) feeds BOTH the gate-survivor semi-join inside the dup stage
    // and the final verdict select; uncached it evaluated twice per
    // action. Released via the seal on the (one-slim-row-per-doc)
    // output below.
    val tagged = tag(corpus, idCol, textCol, minWords, maxWords,
      minMeanLen, maxMeanLen, minStopwords, maxDupFrac).persist()
    val langOk = col("lang").isin(allowedLangs: _*)

    // exact-dup canonical among gate survivors: row-local canonical key
    // (same key as Dedup.exactDuplicates, without the explode/groupBy),
    // then one dup_key-partitioned window for the group min id
    val gateIds = tagged.filter(col("keep") && langOk).select("id")
    val dup = corpus
      .select(col(idCol).cast("string").as("id"),
        dupKey(col(textCol)).as("dup_key"))
      .join(gateIds, Seq("id"), "left_semi")
      .withColumn("_canon", min(col("id")).over(Window.partitionBy("dup_key")))
      .select(col("id"),
        when(col("id") =!= col("_canon"), col("_canon")).as("dup_of"))

    val contam = Dedup.decontaminate(corpus, benchmark, idCol, textCol, contamN)
      .select(col("id"), col("n_hits"))

    val out = tagged.select("id", "lang", "n_tokens", "quality_reason")
      .join(dup, Seq("id"), "left")
      .join(contam, Seq("id"), "left")
      .select(col("id"), col("lang"), col("n_tokens"), col("quality_reason"),
        col("dup_of"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(!langOk, "lang")
          .when(col("quality_reason").isNotNull, "quality")
          .when(col("dup_of").isNotNull, "duplicate")
          .when(coalesce(col("n_hits"), lit(0L)) > 0, "contaminated")
          .as("drop_stage"))
      .withColumn("keep", col("drop_stage").isNull)
    // verdict table is output-sized (one slim row per doc): materialize
    // and release the tagged cache (CacheScope contract)
    graft.core.CacheScope.seal(out, tagged)
  }

  /** The row-local tagging projection of both curation paths (this
    * [[verdicts]] and [[graft.streaming.StreamingCuration.verdicts]]):
    * (id, n_tokens, dup_frac_e6, quality_reason, lang, `carry`…, keep)
    * with `id` cast to string, `lang` = [[TextAnalysis.langId]] and the
    * [[TextAnalysis.qualityFilter]] gate. Both scans are codegen'd
    * kernels (`LexiconArgmax`, `WsTokenStats`), so the projection holds
    * no interpreted higher-order function. `carry` adds named columns of
    * `docs` to the output. */
  private[graft] def tag(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int, maxWords: Int, minMeanLen: Double, maxMeanLen: Double,
      minStopwords: Int, maxDupFrac: Double,
      carry: (String, Column)*): DataFrame = {
    val base = docs.select(Seq(col(idCol).cast("string").as("id"),
      col(textCol).as("_text"), TextAnalysis.langId(col(textCol)).as("lang")) ++
      carry.map { case (n, c) => c.as(n) }: _*)
    TextAnalysis.qualityFilter(base, "id", "_text", minWords, maxWords,
        minMeanLen, maxMeanLen, minStopwords, maxDupFrac,
        passthrough = "lang" +: carry.map(_._1))
      .withColumnRenamed("reason", "quality_reason")
  }

  /** The exact-duplicate key of a document: md5 of its sorted distinct
    * [[Text.tokenize]] tokens ([[Dedup.exactDuplicates]]'s canonical
    * key, computed row-locally). */
  private[graft] def dupKey(text: Column): Column =
    md5(concat_ws(" ", sort_array(array_distinct(Text.tokenize(text)))))

  /** Funnel report over a [[verdicts]] frame: per `groupCols` (or one
    * global row when empty) — document count, per-stage drop counts,
    * survivors, and surviving token mass. One partial-aggregated
    * groupBy; at 100 TB this is the dashboard query over the verdict
    * table, not a re-scan of the corpus. */
  def funnel(verdicts: DataFrame, groupCols: Seq[String] = Nil): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      count(when(col("drop_stage") === "lang", 1)).as("n_lang"),
      count(when(col("drop_stage") === "quality", 1)).as("n_quality"),
      count(when(col("drop_stage") === "duplicate", 1)).as("n_duplicate"),
      count(when(col("drop_stage") === "contaminated", 1)).as("n_contaminated"),
      count(when(col("keep"), 1)).as("n_kept"),
      coalesce(sum(when(col("keep"), col("n_tokens"))), lit(0L)).as("kept_tokens"))
    if (groupCols.isEmpty) verdicts.agg(aggs.head, aggs.tail: _*)
    else verdicts.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
