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
  * One plan serves this batch form and the streaming form
  * ([[graft.streaming.StreamingCuration.verdicts]]): the row-local
  * [[front]] (one corpus scan; every signal, the dup key and the
  * contamination count are codegen'd kernels) → the exact-duplicate
  * canonical → the [[dropStage]] rule. Only the canonical pick differs:
  * here it is one `dup_key`-partitioned window (the group's min
  * gate-passing id), there a stateful op (first seen). So the plan
  * shuffles once, a ~100-byte tagged record per document (never the
  * text), and holds no join.
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
    *     to it; a null id is never the canonical and has no `dup_of`);
    *  4. `contaminated` — shares ≥1 exact `contamN`-token window with
    *     the benchmark set (tagged for ALL documents, not just gate
    *     survivors — observability is the point).
    *
    * Output (one row per corpus row):
    * (id, lang, n_tokens, quality_reason, dup_of, n_hits, drop_stage,
    * keep) with `keep = drop_stage IS NULL`. */
  def verdicts(corpus: DataFrame, benchmark: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               allowedLangs: Seq[String] = Seq("en"),
               contamN: Int = 8,
               minWords: Int = 20, maxWords: Int = 100000,
               minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
               minStopwords: Int = 1, maxDupFrac: Double = 0.6): DataFrame = {
    val tagged = front(corpus, benchmark, idCol, textCol, allowedLangs,
      contamN, minWords, maxWords, minMeanLen, maxMeanLen, minStopwords,
      maxDupFrac)
    // gate failures hold no canonical, so each gets its own partition:
    // sharing dup_key ones would put every failure with an empty token
    // set (key md5('')) in one task
    val gateOk = col("gate_ok")
    val canon = min(col("id")).over(
      Window.partitionBy(gateOk, when(gateOk, col("dup_key")).otherwise(col("id"))))
    dropStage(tagged.withColumn("dup_of",
      when(gateOk && col("id") =!= canon, canon)))
  }

  /** The row-local front of both curation forms (this [[verdicts]] and
    * [[graft.streaming.StreamingCuration.verdicts]]), one scan of `docs`:
    * (id, lang, n_tokens, quality_reason, n_hits, dup_key, lang_ok,
    * gate_ok), plus `ts` = `eventTs` when given. `id` is `idCol` cast
    * to string, `lang` [[TextAnalysis.langId]], `quality_reason` the
    * [[TextAnalysis.qualityFilter]] rule, `n_hits` the count of distinct
    * `contamN`-token windows shared with `benchmark`, `dup_key` the
    * exact-duplicate key (md5 of the sorted distinct [[Text.tokenize]]
    * tokens — [[Dedup.exactDuplicates]]' canonical key, row-locally)
    * and `gate_ok` = lang allowed and quality passed.
    *
    * Contamination snapshots the benchmark gram set (eval-suite-sized,
    * the [[Dedup.decontaminate]] broadcast contract) once per call into
    * the codegen'd [[org.apache.spark.sql.graft.WindowHitCount]] kernel:
    * one narrow job collects the benchmark's lowered, trimmed texts and
    * the driver cuts their windows with the kernel's own walk, so the
    * set equals [[Dedup.benchmarkGrams]]. The exact set rides the plan
    * as a reference object and the window-slide-probe loop is one
    * compiled static call per row. With `LexiconArgmax` (lang),
    * `WsTokenStats` (quality) and `TokenFilter` (dup key), the front
    * holds no interpreted higher-order function. */
  private[graft] def front(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, allowedLangs: Seq[String],
      contamN: Int, minWords: Int, maxWords: Int, minMeanLen: Double,
      maxMeanLen: Double, minStopwords: Int, maxDupFrac: Double,
      eventTs: Option[Column] = None): DataFrame = {
    val text = col(textCol)
    val lowered = trim(lower(coalesce(text, lit(""))))
    val grams = org.apache.spark.sql.graft.WindowHitCount.grams(
      benchmark.select(lowered).collect().iterator.map(_.getString(0)), contamN)
    val nHits =
      if (grams.isEmpty) lit(0L) // empty eval suite: nothing to hit
      else org.apache.spark.sql.graft.TextOps.windowHitCount(lowered, contamN, grams)
    val carry = Seq("lang", "n_hits", "dup_key") ++ eventTs.map(_ => "ts")
    val base = docs.select(Seq(col(idCol).cast("string").as("id"),
      text.as("_text"), TextAnalysis.langId(text).as("lang"),
      nHits.as("n_hits"),
      md5(concat_ws(" ", sort_array(array_distinct(Text.tokenize(text)))))
        .as("dup_key")) ++ eventTs.map(_.as("ts")): _*)
    val langOk = col("lang").isin(allowedLangs: _*)
    TextAnalysis.qualityFilter(base, "id", "_text", minWords, maxWords,
        minMeanLen, maxMeanLen, minStopwords, maxDupFrac, passthrough = carry)
      .select(Seq(col("id"), col("lang"), col("n_tokens"),
        col("reason").as("quality_reason"), col("n_hits"), col("dup_key"),
        langOk.as("lang_ok"), (col("keep") && langOk).as("gate_ok")) ++
        eventTs.map(_ => col("ts")): _*)
  }

  /** The drop stages in attribution order, each with its failure test
    * over a [[front]] frame that carries `dup_of`. */
  private val stages: Seq[(String, Column)] = Seq(
    "lang" -> !col("lang_ok"),
    "quality" -> col("quality_reason").isNotNull,
    "duplicate" -> col("dup_of").isNotNull,
    "contaminated" -> (col("n_hits") > 0))

  /** The drop-stage rule of both curation forms: `drop_stage` = the first
    * failing [[stages]] entry, `keep` = none failed. Maps a [[front]]
    * frame that carries `dup_of` to the verdict schema. */
  private[graft] def dropStage(placed: DataFrame): DataFrame = {
    val ((first, test), rest) = (stages.head, stages.tail)
    placed.select(col("id"), col("lang"), col("n_tokens"),
        col("quality_reason"), col("dup_of"), col("n_hits"),
        rest.foldLeft(when(test, first)) { case (w, (s, t)) => w.when(t, s) }
          .as("drop_stage"))
      .withColumn("keep", col("drop_stage").isNull)
  }

  /** Funnel report over a [[verdicts]] frame: per `groupCols` (or one
    * global row when empty) — document count, per-stage drop counts,
    * survivors, and surviving token mass. One partial-aggregated
    * groupBy; at 100 TB this is the dashboard query over the verdict
    * table, not a re-scan of the corpus. */
  def funnel(verdicts: DataFrame, groupCols: Seq[String] = Nil): DataFrame = {
    val aggs = count(lit(1)).as("n_docs") +:
      stages.map { case (s, _) => count(when(col("drop_stage") === s, 1)).as(s"n_$s") } :+
      count(when(col("keep"), 1)).as("n_kept") :+
      coalesce(sum(when(col("keep"), col("n_tokens"))), lit(0L)).as("kept_tokens")
    if (groupCols.isEmpty) verdicts.agg(aggs.head, aggs.tail: _*)
    else verdicts.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
