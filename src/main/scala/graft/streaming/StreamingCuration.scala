package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.text.Curation

/** Curation AT INGEST: the batch verdict funnel
  * ([[graft.text.Curation]]) run over a stream, so a corpus is tagged
  * as it ARRIVES instead of in a nightly re-scan — the incremental half
  * of the "tag, don't drop" contract, same discipline as [[AnnServing]]
  * (index once / query many → curate once / ingest forever).
  *
  * It is the batch plan with one operator swapped: the row-local
  * [[Curation.front]] (tagging, contamination, dup key — codegen'd, so
  * an arriving document runs no interpreted higher-order function) →
  * the exact-duplicate canonical → the [[Curation.dropStage]] rule. The
  * canonical is the one stateful op, streaming-safe where the batch
  * window is not: `flatMapGroupsWithState` keyed on `dup_key`, state =
  * the first-seen surviving id. EVERY document rides this op — gate
  * failures pass through without touching the state (a dropped document
  * never shadows a surviving copy) — so the front evaluates exactly ONCE
  * per document and the only shuffle carries the ~100-byte tagged
  * record, never the text.
  *
  * Canonical choice: FIRST-SEEN across micro-batches (ingest order —
  * the only meaningful order a stream has), min id within a batch. A
  * batch invocation therefore reproduces [[graft.text.Curation.verdicts]]
  * row-for-row (one "batch" = whole corpus → min id = the batch
  * canonical; spec-asserted, and the `st_curation_verdicts` driver query
  * shares `cur_verdicts`' oracle). A null id gets its verdict but is
  * never the canonical and has no `dup_of`, as in the batch form.
  *
  * State size: one (dup_key → id) entry per DISTINCT surviving content
  * — bounded by corpus novelty, the same growth class as the exact
  * streaming dedup ([[StreamingOps]]). On an unbounded stream pass
  * `stateTtl` (the Curate front door's `--state-ttl`): canonicals
  * expire once the watermark passes the TTL beyond their last
  * sighting, bounding state by one horizon's distinct content, with
  * the re-admit divergence stated on [[verdicts]].
  *
  * Resumed runs: the Curate front door starts this query through
  * [[Queries.start]], so a run resumed in the same driver (one per
  * arriving wave) reuses the code earlier runs compiled instead of
  * recompiling it under a new executor class loader. Guard: a session
  * holding session-scoped artifacts keeps artifact isolation, and its
  * runs recompile.
  */
object StreamingCuration {

  /** A [[Curation.front]] row entering the dedup state op (text already
    * dropped — this is the ~100-byte shuffle record). `ts` carries the
    * event time in TTL mode and is NULL in the unbounded form. */
  final case class TaggedDoc(id: String, lang: String, n_tokens: Long,
      quality_reason: Option[String], n_hits: Long, dup_key: String,
      lang_ok: Boolean, gate_ok: Boolean, ts: java.sql.Timestamp)

  /** A [[TaggedDoc]] leaving the state op with its `dup_of` (the
    * canonical, when that is another id); [[Curation.dropStage]] maps it
    * to a [[CurationVerdict]]. */
  final case class PlacedDoc(id: String, lang: String, n_tokens: Long,
      quality_reason: Option[String], n_hits: Long, lang_ok: Boolean,
      dup_of: Option[String])

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
    val eventTs =
      if (stateTtl.isDefined) col(tsCol).cast("timestamp")
      else lit(null).cast("timestamp")
    val tagged = Curation.front(stream, benchmark, idCol, textCol,
        allowedLangs, contamN, minWords, maxWords, minMeanLen, maxMeanLen,
        minStopwords, maxDupFrac, Some(eventTs))
      .as[TaggedDoc]
    val routed = stateTtl match {
      case Some(_) => tagged.withWatermark("ts", watermark)
      case None => tagged
    }
    val ttlMs = stateTtl.map(StreamingOps.ttlMillis)
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    // every document rides the one stateful op; only gate survivors with
    // an id touch the canonical state. First-seen canonical across
    // batches, min surviving id within a batch — so a single-batch
    // (= batch-mode) run reproduces the batch group-min.
    val placed = routed.groupByKey(_.dup_key)
      .flatMapGroupsWithState[CanonState, PlacedDoc](
        OutputMode.Append(), timeoutConf) {
        (_, it, state) => StreamingOps.unlessTimedOut(state) {
          // the horizon rule (StreamingOps), applied only under stateTtl
          ttlMs.foreach(StreamingOps.expireOnAccess(state, _)(_.lastSeenMs))
          val docs = it.toIndexedSeq
          def placeable(d: TaggedDoc) = d.gate_ok && d.id != null
          val canon: Option[String] =
            if (state.exists) Some(state.get.id)
            else docs.iterator.filter(placeable).map(_.id).minOption.map { id =>
              state.update(CanonState(id, Long.MinValue)); id
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
          docs.iterator.map(d => PlacedDoc(d.id, d.lang, d.n_tokens,
            d.quality_reason, d.n_hits, d.lang_ok,
            if (placeable(d)) canon.filter(_ != d.id) else None))
        }
      }
    Curation.dropStage(placed.toDF()).as[CurationVerdict]
  }
}
