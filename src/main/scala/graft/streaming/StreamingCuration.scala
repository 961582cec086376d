package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.dedup.Dedup
import graft.text.Curation

/** Curation AT INGEST: the batch verdict funnel
  * ([[graft.text.Curation]]) re-expressed streaming-safe, so a corpus
  * is tagged as it ARRIVES instead of in a nightly re-scan — the
  * incremental half of the "tag, don't drop" contract, same discipline
  * as [[AnnServing]] (index once / query many → curate once / ingest
  * forever).
  *
  * Streaming-safe construction (no window functions, ONE stateful op):
  *
  *   1. langid + quality tagging is the batch path's own row-local
  *      projection ([[Curation.tag]]) — one function, so signals agree
  *      bit-for-bit. Its scans are codegen'd kernels: `langId` is one
  *      [[org.apache.spark.sql.graft.LexiconArgmax]] pass, the quality
  *      signals one [[org.apache.spark.sql.graft.WsTokenStats]] pass,
  *      and the dup_key tokens one
  *      [[org.apache.spark.sql.graft.TokenFilter]] pass (sorted with
  *      `sort_array`), so the tagging of an arriving document runs no
  *      interpreted higher-order function (a spec asserts it);
  *   2. contamination is row-local: the benchmark gram set (eval-suite-
  *      sized, the same broadcast contract as [[Dedup.decontaminate]])
  *      is snapshot at plan time into the codegen'd
  *      [[org.apache.spark.sql.graft.WindowHitCount]] kernel — the
  *      exact set as a plan reference object, the window-slide-probe
  *      loop one compiled static call per row — so `n_hits` equals the
  *      batch semi-join count exactly at O(windows) per row with no
  *      interpreted higher-order functions in the path;
  *   3. the exact-duplicate canonical is the one stateful op:
  *      `flatMapGroupsWithState` keyed on the row-local dup_key (md5 of
  *      the sorted distinct token set — [[Dedup.exactDuplicates]]'s
  *      key), state = the first-seen surviving id. EVERY document rides
  *      this op — gate failures pass through without touching the state
  *      (batch semantics: a dropped document never shadows a surviving
  *      copy) — so the heavy row-local tagging evaluates exactly ONCE
  *      per document. The shuffled record is the tagged summary (~100
  *      bytes: ids, flags, counts — never the text), which beats the
  *      alternative (route failures around the state via a union) at
  *      any scale: a union's two branches each re-evaluate the source
  *      and its tagging expressions, per micro-batch, forever.
  *
  * Canonical choice: FIRST-SEEN across micro-batches (ingest order —
  * the only meaningful order a stream has), lexicographic min id within
  * a batch. A batch invocation therefore reproduces
  * [[graft.text.Curation.verdicts]] row-for-row (one "batch" = whole
  * corpus → min id = the batch canonical; spec-asserted, and the
  * `st_curation_verdicts` driver query shares `cur_verdicts`' oracle).
  *
  * State size: one (dup_key → id) entry per DISTINCT surviving content
  * — bounded by corpus novelty, the same growth class as the exact
  * streaming dedup ([[StreamingOps]]). On an unbounded stream pass
  * `stateTtl` (the Curate front door's `--state-ttl`): canonicals
  * expire once the watermark passes the TTL beyond their last
  * sighting, bounding state by one horizon's distinct content, with
  * the re-admit divergence stated on [[verdicts]].
  */
object StreamingCuration {

  /** A tagged document entering the dedup state op (text already
    * dropped — this is the ~100-byte shuffle record). `ts` carries the
    * event time in TTL mode and is NULL in the unbounded form. */
  final case class TaggedDoc(id: String, lang: String, nTokens: Long,
      qualityReason: Option[String], nHits: Long, dupKey: String,
      langOk: Boolean, gateOk: Boolean, ts: java.sql.Timestamp)

  /** One per-document verdict row — the schema of
    * [[graft.text.Curation.verdicts]]. */
  final case class CurationVerdict(id: String, lang: String, n_tokens: Long,
      quality_reason: Option[String], dup_of: Option[String], n_hits: Long,
      drop_stage: Option[String], keep: Boolean)

  /** Dup-canonical state: the canonical id plus its newest sighting
    * time (ms; `Long.MinValue` until a non-null event time is seen),
    * so the horizon rule ([[StreamingOps]]) can check it on access
    * (public: janino).
    *
    * CHECKPOINT COMPATIBILITY: the state type was a bare canonical-id
    * `String` before the horizon-on-access fix; a TTL'd streaming
    * query restarted from a checkpoint written by that build cannot
    * decode its state rows — restart such a query from a FRESH
    * checkpoint (the standard Spark rule for any stateful-schema
    * change; unbounded-mode checkpoints, which hold no timeout state,
    * break identically since the stored type changed). */
  final case class CanonState(id: String, lastSeenMs: Long)

  /** Per-document curation verdicts over a STREAM of documents against
    * a static `benchmark`. Same stages, knobs and output schema as
    * [[graft.text.Curation.verdicts]]; see the object doc for the
    * streaming-safe plan shape.
    *
    * `stateTtl` bounds the dup-canonical store on an unbounded stream
    * (the object doc's "apply the TTL discipline" knob, now a
    * parameter — `--state-ttl` from the [[graft.text.Curate]] front
    * door): `tsCol` becomes the event time, the stream is watermarked
    * (`watermark` delay, default tight), and a dup_key with no
    * sighting for `stateTtl` past its newest arrival drops its
    * canonical under the horizon rule that the `*WithTtl` operators of
    * [[StreamingOps]] share — every arrival of the content extends the
    * horizon, surviving or not; a null `ts` still gets its verdict but
    * never extends it. State is then bounded by the distinct content
    * seen within one TTL horizon.
    * Documented divergence vs the unbounded form (the standard
    * bounded-horizon dedup contract): content re-seen after its
    * horizon RE-ADMITS — a fresh canonical, so one extra keep=true per
    * content per horizon; exactness holds within the horizon. `ts`
    * must exceed the watermark delay for the horizon to engage.
    * Streaming-mode only (event-time timeouts need the watermark,
    * which batch execution does not carry); batch invocations use the
    * default unbounded form, whose single mega-batch never expires
    * state anyway. */
  def verdicts(stream: DataFrame, benchmark: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               allowedLangs: Seq[String] = Seq("en"),
               contamN: Int = 8,
               minWords: Int = 20, maxWords: Int = 100000,
               minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
               minStopwords: Int = 1, maxDupFrac: Double = 0.6,
               stateTtl: Option[String] = None, tsCol: String = "ts",
               watermark: String = "0 seconds")(
      implicit spark: SparkSession): Dataset[CurationVerdict] = {
    import spark.implicits._

    // plan-time snapshot of the benchmark gram set (eval-suite-sized by
    // the decontaminate contract), probed by the codegen'd
    // [[org.apache.spark.sql.graft.WindowHitCount]] kernel: the exact
    // set rides the plan as a reference object and the whole
    // window-slide-probe loop is ONE compiled static call per row.
    // (Replaced the bloom-prefilter + array-literal-confirm form, whose
    // higher-order transform/filter evaluated interpreted — one Catalyst
    // tree walk per window — and cost ~6.5 s of st_curation_verdicts'
    // 9 s at sf0.1; an exact HashSet probe is O(1) itself, so the bloom
    // bought nothing once the loop compiled. Same n_hits by
    // construction: |distinct n-token windows ∩ benchmark grams|.)
    val grams = Dedup.benchmarkGrams(benchmark, idCol, textCol, contamN)
      .collect().map(_.getString(0))
    val nHits: Column =
      if (grams.isEmpty) lit(0L) // empty eval suite: nothing to hit
      else org.apache.spark.sql.graft.TextOps.windowHitCount(
        trim(lower(coalesce(col("_doc"), lit("")))), contamN, grams.toSeq)

    val eventTs =
      if (stateTtl.isDefined) col(tsCol).cast("timestamp")
      else lit(null).cast("timestamp")
    val enriched = Curation.tag(stream, idCol, textCol, minWords, maxWords,
        minMeanLen, maxMeanLen, minStopwords, maxDupFrac,
        "_doc" -> col(textCol), "_eventTs" -> eventTs)
      .withColumn("n_hits", nHits)
      .withColumn("dup_key", Curation.dupKey(col("_doc")))
    val langOk = col("lang").isin(allowedLangs: _*)

    // every document rides the one stateful op as a tagged ~100-byte
    // record; only gate survivors touch the canonical state. First-seen
    // canonical across batches, min surviving id within a batch — so a
    // single-batch (= batch-mode) run reproduces the batch group-min.
    val routed0 = enriched
      .select(col("id"), col("lang"), col("n_tokens").as("nTokens"),
        col("quality_reason").as("qualityReason"),
        col("n_hits").as("nHits"), col("dup_key").as("dupKey"),
        langOk.as("langOk"), (col("keep") && langOk).as("gateOk"),
        col("_eventTs").as("ts"))
      .as[TaggedDoc]
    val routed = stateTtl match {
      case Some(_) => routed0.withWatermark("ts", watermark)
      case None => routed0
    }
    val ttlMs = stateTtl.map(StreamingOps.ttlMillis)
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    routed.groupByKey(_.dupKey)
      .flatMapGroupsWithState[CanonState, CurationVerdict](
        OutputMode.Append(), timeoutConf) {
        (_, it, state) => StreamingOps.unlessTimedOut(state) {
          // the horizon rule (StreamingOps), applied only under stateTtl
          ttlMs.foreach(StreamingOps.expireOnAccess(state, _)(_.lastSeenMs))
          val docs = it.toIndexedSeq.sortBy(_.id)
          val canon: Option[String] =
            if (state.exists) Some(state.get.id)
            else docs.find(_.gateOk).map { d =>
              state.update(CanonState(d.id, Long.MinValue)); d.id
            }
          // every sighting of the content extends the horizon of an
          // existing canonical (gate-only groups hold no state, so
          // there is nothing to bound); NULL event times carry no time
          // to extend it BY
          for (ttl <- ttlMs if state.exists) {
            val newest = docs.iterator.flatMap(d => Option(d.ts))
              .map(_.getTime).foldLeft(Long.MinValue)(math.max)
            state.update(CanonState(state.get.id, StreamingOps.extendHorizon(
              state, ttl, state.get.lastSeenMs, newest)))
          }
          docs.iterator.map { d =>
            if (!d.gateOk)
              CurationVerdict(d.id, d.lang, d.nTokens, d.qualityReason,
                None, d.nHits,
                Some(if (!d.langOk) "lang" else "quality"), keep = false)
            else {
              val dupOf = canon.filter(_ != d.id)
              val drop =
                if (dupOf.isDefined) Some("duplicate")
                else if (d.nHits > 0) Some("contaminated")
                else None
              CurationVerdict(d.id, d.lang, d.nTokens, None, dupOf, d.nHits,
                drop, drop.isEmpty)
            }
          }
        }
      }
  }
}
