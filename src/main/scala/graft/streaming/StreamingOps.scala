package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable
import graft.functions.{Num, Text}

/** Structured Streaming operators (SURVEY.md §2.10 — new design, the
  * reference has no streaming support; charter: the `events` stream).
  *
  * Every transform here is written against a plain DataFrame and works
  * identically on a batch frame and a `readStream` frame — the batch
  * path doubles as the oracle for the streaming path (tested with
  * MemoryStream in StreamingSpec).
  *
  * Four stateful operators come in pairs — an unbounded form and a
  * `*WithTtl` form with its own state type: token blocking, exact
  * dedup, MinHash near-dup and rate limiting. Both forms of a pair call
  * one per-key admission step; the TTL form adds the horizon rule,
  * which lives once, below [[ttlMillis]], and is also what
  * [[StreamingCuration.verdicts]] runs under `stateTtl`.
  */
object StreamingOps {

  /** Parse a TTL interval string ("150 minutes", "1 day 2 hours") to
    * millis, a day counting 24 hours. Every TTL operator parses here and
    * then applies the one horizon rule below, so neither validation nor
    * expiry can drift between them: a non-positive ttl would silently
    * never expire anything, which is the unbounded form wearing a
    * bounded label, and a month or year has no fixed length, so an
    * interval with one is rejected too. */
  private[graft] def ttlMillis(ttl: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(ttl))
    require(iv.months == 0,
      s"ttl '$ttl' has a month or year part, which has no fixed duration; " +
        "write it in days or hours")
    val ms = Math.floorDiv(
      Math.addExact(Math.multiplyExact(iv.days.toLong, 86400000000L), iv.microseconds), 1000L)
    require(ms > 0, s"ttl '$ttl' must be a positive duration")
    ms
  }

  // ---------- the TTL horizon rule ----------
  //
  // Every TTL'd store records the newest event time it has seen (per
  // key, or per stored entry) and applies three steps:
  //
  //   1. a key whose event-time timeout fired is removed and emits
  //      nothing (`unlessTimedOut`);
  //   2. on access, a stored key (or entry) whose newest sighting is
  //      past the horizon is dropped before the batch is admitted
  //      (`pastHorizon`, `expireOnAccess`). Timeouts fire only for
  //      keys with NO data in a batch, so without this a re-sight
  //      arriving right after the watermark passed the horizon (in
  //      continuous operation, or with noDataMicroBatches off) would be
  //      judged against — and re-arm — expired state. The test is
  //      STRICT: `watermark > lastSeen + ttl`. EventTimeTimeout itself
  //      fires only once the watermark passes BEYOND the timestamp, so
  //      at exact equality a key (or entry) is kept;
  //   3. the horizon is monotone in EVENT time (`extendHorizon`):
  //      max(stored newest, this batch's newest), and the timeout is
  //      set to horizon + ttl. With a nonzero watermark delay a later
  //      batch can carry older (still in-watermark) sightings; they
  //      must not drag the horizon backward and expire a key before its
  //      true newest sighting + ttl.
  //
  // `Long.MinValue` means "no sighting time yet": nothing expires
  // against it and it never sets a timeout. The four `*WithTtl`
  // operators drop null-`ts` records before their watermark (`timed`):
  // a record with no time cannot be placed against the horizon, just
  // as the watermark drops a record it cannot place. The curation
  // store keeps them: they get verdicts but never extend a horizon.

  /** Step 2's boundary: `lastSeenMs` is strictly more than `ttlMs`
    * behind the watermark. */
  private[streaming] def pastHorizon(watermarkMs: Long, lastSeenMs: Long, ttlMs: Long): Boolean =
    lastSeenMs != Long.MinValue && watermarkMs > lastSeenMs + ttlMs

  /** Step 1: a timed-out key is removed and emits nothing; any other
    * invocation runs `step`. */
  private[streaming] def unlessTimedOut[S, O](state: GroupState[S])(
      step: => Iterator[O]): Iterator[O] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else step

  /** Step 2 for a store holding one newest sighting per key. */
  private[streaming] def expireOnAccess[S](state: GroupState[S], ttlMs: Long)(
      lastSeenMs: S => Long): Unit =
    if (state.exists &&
        pastHorizon(state.getCurrentWatermarkMs(), lastSeenMs(state.get), ttlMs))
      state.remove()

  /** Step 3: the horizon to store, max(`lastSeenMs`, `newestMs`), with
    * the timeout set `ttlMs` past it. A batch with no sighting time
    * (`newestMs` = `Long.MinValue`) leaves both as they were. */
  private[streaming] def extendHorizon(state: GroupState[_], ttlMs: Long,
      lastSeenMs: Long, newestMs: Long): Long =
    if (newestMs == Long.MinValue) lastSeenMs
    else {
      val horizon = math.max(lastSeenMs, newestMs)
      state.setTimeoutTimestamp(horizon + ttlMs)
      horizon
    }

  /** A TTL operator's input: null-`ts` records dropped, then
    * watermarked on `ts`. */
  private def timed[T](records: Dataset[T], watermark: String): Dataset[T] =
    records.filter(col("ts").isNotNull).withWatermark("ts", watermark)

  /** Tumbling-window aggregation per event type. On a streaming input a
    * watermark bounds state; on batch it's a plain window groupBy. */
  def windowedEventAgg(
      events: DataFrame,
      windowDuration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(count(lit(1)).as("n"), Num.stableRound(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").cast("long").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Per-user session count with a fixed inactivity gap — batch analog of
    * session windows, expressed with lag so the same semantics are
    * SQL-oracle-checkable. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("_prev", lag(col("ts"), 1).over(w))
      .withColumn("_new_session",
        when(col("_prev").isNull ||
          col("ts").cast("long") - col("_prev").cast("long") > gapMinutes * 60L, 1)
          .otherwise(0))
      .groupBy("user_id")
      .agg(sum("_new_session").as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** CDC-style last-write-wins compaction: one surviving row per
    * (user_id, event_type) — the latest by ts, ties broken by highest
    * event_id (the standard "greatest sequence number wins" CDC rule,
    * made total here because event_ids are unique). This is the batch
    * form of changelog materialization: upserts collapse to final
    * state.
    *
    * 100 TB shape: one exchange keyed on the compaction key, then an
    * in-partition row_number — the minimum any keyed compaction pays.
    * (An agg-of-struct-max form would fold map-side too, but the window
    * keeps the full surviving row without a rejoin; with AQE skew-split
    * the exchange handles hot keys.) */
  def compactLatest(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    events.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** [[streamCompactLatest]] record (public: janino-generated encoder
    * code cannot touch private member classes). */
  final case class CompactRecord(userId: Long, eventType: String,
      eventId: Long, ts: java.sql.Timestamp, value: Double)

  /** Latest-row state per compaction key. */
  final case class CompactState(eventId: Long, tsMicros: Long, value: Double)

  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Streaming CDC compaction — the stream form of [[compactLatest]]:
    * per (user_id, event_type), emit a change record whenever the
    * latest (ts, event_id) row advances; the LAST emission per key IS
    * the compacted state (append-mode changelog of a running upsert —
    * the shape a downstream materializer or compacted-topic writer
    * consumes). State per key is one (event_id, ts, value) triple —
    * bounded by the key universe, not the stream; micros-precision ts
    * comparison so batch and stream order rows identically. Within one
    * batch only the winning row is emitted (intermediate same-batch
    * advances collapse), so emissions are ≤ one per key per batch. */
  def streamCompactLatest(records: Dataset[CompactRecord])(
      implicit spark: SparkSession): Dataset[CompactRecord] = {
    import spark.implicits._
    records.groupByKey(r => (r.userId, r.eventType))
      .flatMapGroupsWithState[CompactState, CompactRecord](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, String), batch: Iterator[CompactRecord],
         state: GroupState[CompactState]) =>
          val incoming = batch.maxBy(r => (tsMicros(r.ts), r.eventId))
          val advances = state.getOption.forall { s =>
            val (im, ie) = (tsMicros(incoming.ts), incoming.eventId)
            im > s.tsMicros || (im == s.tsMicros && ie > s.eventId)
          }
          if (advances) {
            state.update(CompactState(
              incoming.eventId, tsMicros(incoming.ts), incoming.value))
            Iterator.single(incoming)
          } else Iterator.empty
      }
  }

  /** Per-(user, session) rows via the built-in `session_window` (gap-based
    * merge; a new session starts when ts ≥ previous ts + gap, at
    * MICROsecond precision — the oracle must compare integer micros, not
    * floored seconds). Works identically on batch and streaming; on a
    * stream the watermark bounds session state and sessions emit on
    * watermark passage (append mode). */
  def sessionWindowAgg(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").cast("long").as("sess_start"),
        col("session_window.end").cast("long").as("sess_end"),
        col("n_events"))
  }

  /** Event-time interval join (stream-stream): for each left event, every
    * right event with the same key and r.ts ∈ [l.ts, l.ts + bound].
    * On streams both sides carry watermarks and the time-range predicate
    * lets Spark bound the join state (each side's buffered rows are
    * dropped once the other side's watermark passes the bound); on batch
    * the same plan is a plain equi-join with a range predicate. New
    * design — the reference has no streaming (SURVEY §2.10 charter). */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      key: String = "user_id",
      boundSeconds: Long = 1800L,
      watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val l0 = if (left.isStreaming) left.withWatermark("ts", watermark) else left
    val r0 = if (right.isStreaming) right.withWatermark("ts", watermark) else right
    val l = l0.select(col(key).as("_lk"), col("ts").as("l_ts"), col("event_id").as("l_id"))
    val r = r0.select(col(key).as("_rk"), col("ts").as("r_ts"), col("event_id").as("r_id"))
    // left_outer on streams: unmatched left rows emit once the right
    // watermark passes the bound (Spark's stream-stream outer contract)
    l.join(r,
        col("_lk") === col("_rk") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $boundSeconds SECONDS"),
        joinType)
      .select(col("_lk").as(key), col("l_id"), col("r_id"),
        col("l_ts").cast("long").as("l_sec"), col("r_ts").cast("long").as("r_sec"))
  }

  /** Distributed as-of join (backward): for each left event, the single
    * LATEST right event with the same key and r.ts ∈ [l.ts − tolerance,
    * l.ts] — the purchase→last-click attribution shape (pandas
    * merge_asof / Flink temporal join / kdb aj). New design — the
    * reference has no event operators (SURVEY §2.10 charter). Batch
    * operator: window functions are unsupported on streams; the
    * streaming analog of "latest right per key" is
    * flatMapGroupsWithState keyed state, as in [[rateLimit]].
    *
    * 100 TB shape: NOT a candidate join. An equi-join + argmax first
    * materializes every (left, earlier-right) pair — a hot key with L
    * lefts and R rights emits L·R candidate rows before the argmax
    * prunes them. Instead both sides union into ONE frame, shuffle once
    * on the key, and a running `last(right, ignoreNulls)` over the
    * (ts, side, id) sort order pins every left row's match in a single
    * sorted pass — O((L+R)·log(L+R)) per key, the only exchange the
    * same hash-partition an aggregation would pay, zero candidate
    * materialization. Tolerance needs no second lookback: if the
    * latest right before l.ts is already older than the tolerance,
    * every earlier right is older still, so nulling the single carried
    * match is exact.
    *
    * Ties are a stated contract (the DuckDB oracle asserts it
    * independently via join + row_number): a right event AT l.ts
    * matches (right sorts before left on equal ts), and among right
    * events sharing the match timestamp the largest id wins (last in
    * sort order).
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               key: String = "user_id",
               toleranceSec: Long = 1800L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = left.select(col(key).as("_k"), unix_micros(col("ts")).as("_us"),
      col("event_id").as("_id"), lit(1).as("_side"))
    val r = right.select(col(key).as("_k"), unix_micros(col("ts")).as("_us"),
      col("event_id").as("_id"), lit(0).as("_side"))
    val w = Window.partitionBy("_k")
      .orderBy(col("_us"), col("_side"), col("_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = last(when(col("_side") === 0,
      struct(col("_us").as("us"), col("_id").as("id"))), ignoreNulls = true).over(w)
    l.unionByName(r)
      .withColumn("_m", m)
      .filter(col("_side") === 1)
      .withColumn("_hit", col("_m").isNotNull &&
        col("_m.us") >= col("_us") - lit(toleranceSec * 1000000L))
      .select(col("_k").as(key), col("_id").as("l_id"),
        when(col("_hit"), col("_m.id")).as("r_id"),
        expr("_us div 1000000").as("l_sec"),
        when(col("_hit"), expr("_m.us div 1000000")).as("r_sec"))
  }

  // ---------- incremental token blocking (stateful streaming) ----------

  /** One tokenized record on one side of the stream. */
  final case class TokenRecord(key: String, side: String, id: String)

  /** A newly discovered candidate pair for a token block. */
  final case class CandidatePair(key: String, leftId: String, rightId: String)

  /** Per-token state. Public (not `private`): Spark's generated encoder
    * code is compiled by janino in a separate class and cannot touch
    * private member classes. */
  final case class TokenState(left: Seq[String], right: Seq[String])

  /** The per-token admission step of both token blockers. Each side
    * maps its live ids to their last-seen ms (`Long.MinValue` in the
    * unbounded form) in admission order. Records `(side, id, ms)` come
    * in the caller's order. A re-sighted id refreshes its age and emits
    * nothing; a new id is admitted only while its side is below
    * `maxIdsPerSide`, and emits its pairs against the other side at
    * admission — so each cross pair emits exactly once, at the later
    * endpoint's admission. The cap bounds ADMISSION, hence both the
    * state row and the per-batch emission: muting emission alone once a
    * side is full would still let one hot first batch emit its full
    * cross product and grow the stored sets without bound. */
  private def admitTokens(key: String, maxIdsPerSide: Int,
      left: mutable.LinkedHashMap[String, Long], right: mutable.LinkedHashMap[String, Long],
      recs: Iterator[(String, String, Long)]): Iterator[CandidatePair] = {
    val out = Seq.newBuilder[CandidatePair]
    recs.foreach { case (side, id, t) =>
      val (mine, other, mineIsLeft) =
        if (side == "left") (left, right, true) else (right, left, false)
      mine.get(id) match {
        case Some(old) => if (t > old) mine.update(id, t)
        case None if mine.size < maxIdsPerSide =>
          other.keysIterator.foreach { o =>
            out += (if (mineIsLeft) CandidatePair(key, id, o) else CandidatePair(key, o, id))
          }
          mine += id -> t
        case None => // side full: stop admitting (hot-token cap)
      }
    }
    out.result().iterator
  }

  /** Incremental token blocking: as entities stream in, each token group
    * keeps the id sets seen so far and emits ONLY the new candidate
    * pairs each batch — the streaming form of TokenBlocker (A1+J1),
    * with per-token state bounded by `maxIdsPerSide` (the streaming
    * equivalent of the hot-token cap: once a side is full it stops
    * ADMITTING). Within a batch records are admitted in (side, id)
    * order. */
  def incrementalTokenBlocks(
      records: Dataset[TokenRecord],
      maxIdsPerSide: Int = 10000)(implicit spark: SparkSession): Dataset[CandidatePair] = {
    import spark.implicits._
    records.groupByKey(_.key)
      .flatMapGroupsWithState[TokenState, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[TokenRecord], state: GroupState[TokenState]) =>
          val st = state.getOption.getOrElse(TokenState(Seq.empty, Seq.empty))
          val left = mutable.LinkedHashMap.from(st.left.iterator.map(_ -> Long.MinValue))
          val right = mutable.LinkedHashMap.from(st.right.iterator.map(_ -> Long.MinValue))
          val out = admitTokens(key, maxIdsPerSide, left, right,
            batch.toSeq.sortBy(r => (r.side, r.id)).iterator.map(r => (r.side, r.id, Long.MinValue)))
          state.update(TokenState(left.keys.toSeq, right.keys.toSeq))
          out
      }
  }

  /** [[TokenRecord]] with an event time, for the TTL variant. */
  final case class TimedTokenRecord(
      key: String, side: String, id: String, ts: java.sql.Timestamp)

  /** Per-token TTL state: per-side parallel (id, last-seen ms) lists. */
  final case class TimedTokenState(
      left: Seq[String], leftSeen: Seq[Long],
      right: Seq[String], rightSeen: Seq[Long])

  /** TTL variant of [[incrementalTokenBlocks]] — the unbounded form
    * keeps every (token, side, id) forever (bench_stream's
    * `state_plateau: false` row). Here each stored id carries its
    * last-seen event time and the horizon rule bounds the store: an
    * entry past the horizon is evicted on access, and a token with no
    * arrivals for `ttl` past its newest entry drops its state entirely.
    * The `maxIdsPerSide` cap applies to the LIVE (post-eviction) sets,
    * so a hot token that cools down resumes emitting. Within a batch
    * records are admitted in (ts, side, id) order; null-`ts` records
    * are dropped before the watermark.
    *
    * Documented divergences vs the unbounded form:
    *   - a candidate pair whose two sides arrive more than `ttl` apart
    *     is no longer guaranteed to emit (retention is at least `ttl`
    *     behind the watermark, not exact);
    *   - after eviction a re-sighted id RE-ADMITS and re-emits pairs
    *     against the other side's surviving ids — duplicate candidates
    *     across horizons; downstream consumers already dedupe pairs
    *     (J1's distinct contract).
    *
    * Streaming-only semantics — multi-batch specs; the unbounded
    * variant carries the batch oracle. */
  def incrementalTokenBlocksWithTtl(
      records: Dataset[TimedTokenRecord],
      maxIdsPerSide: Int = 10000,
      ttl: String = "1 hour",
      watermark: String = "1 hour")(
      implicit spark: SparkSession): Dataset[CandidatePair] = {
    import spark.implicits._
    val ttlMs = ttlMillis(ttl)
    timed(records, watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[TimedTokenState, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, batch: Iterator[TimedTokenRecord],
         state: GroupState[TimedTokenState]) => unlessTimedOut(state) {
          val st = state.getOption.getOrElse(
            TimedTokenState(Seq.empty, Seq.empty, Seq.empty, Seq.empty))
          val wm = state.getCurrentWatermarkMs()
          def live(ids: Seq[String], seen: Seq[Long]) = mutable.LinkedHashMap.from(
            ids.iterator.zip(seen).filterNot { case (_, t) => pastHorizon(wm, t, ttlMs) })
          val (left, right) = (live(st.left, st.leftSeen), live(st.right, st.rightSeen))
          val recs = batch.toSeq.sortBy(r => (r.ts.getTime, r.side, r.id))
          val out = admitTokens(key, maxIdsPerSide, left, right,
            recs.iterator.map(r => (r.side, r.id, r.ts.getTime)))
          state.update(TimedTokenState(
            left.keys.toSeq, left.values.toSeq, right.keys.toSeq, right.values.toSeq))
          extendHorizon(state, ttlMs,
            (left.valuesIterator ++ right.valuesIterator).foldLeft(Long.MinValue)(math.max),
            recs.last.ts.getTime)
          out
        }
      }
  }

  // ---------- streaming exact dedup (stateful) ----------

  /** One keyed record for streaming dedup: `key` is the content hash
    * (e.g. the canonical token-set md5), `seq` the arrival order. */
  final case class DedupRecord(key: String, id: String, seq: Long)

  /** The record kept for a content key. */
  final case class DedupKeep(key: String, id: String)

  /** Kept-id state per content key (public: janino-generated encoder
    * code cannot touch private member classes). */
  final case class DedupState(kept: String)

  /** The per-key admission step of both exact-dedup operators: a key
    * that already keeps an id emits nothing; otherwise `first` — the
    * caller's batch winner — is kept and emitted. */
  private def admitFirst(key: String, kept: Option[String], first: => String): Option[DedupKeep] =
    if (kept.isDefined) None else Some(DedupKeep(key, first))

  /** First-occurrence exact dedup over a stream: per content key, emit
    * only the first record ever seen — (seq, id)-minimal within a
    * batch, arrival order across batches. The streaming analog of
    * [[graft.dedup.Dedup.exactDuplicates]]'s groupBy: state is one kept
    * id per key, bounded by the distinct-key count (at larger horizons
    * use [[streamExactDedupWithTtl]] — exactness then holds within the
    * TTL window, the standard streaming-dedup contract). A single-batch
    * run over a static frame equals the batch rule `row_number() OVER
    * (PARTITION BY key ORDER BY seq, id) = 1` — the oracle. */
  def streamExactDedup(records: Dataset[DedupRecord])(
      implicit spark: SparkSession): Dataset[DedupKeep] = {
    import spark.implicits._
    records.groupByKey(_.key)
      .flatMapGroupsWithState[DedupState, DedupKeep](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[DedupRecord], state: GroupState[DedupState]) =>
          val out = admitFirst(key, state.getOption.map(_.kept), batch.minBy(r => (r.seq, r.id)).id)
          out.foreach(k => state.update(DedupState(k.id)))
          out.iterator
      }
  }

  /** [[streamExactDedup]] record with an event time, for the TTL
    * variant (the watermark needs a time column). */
  final case class TimedDedupRecord(key: String, id: String, ts: java.sql.Timestamp)

  /** Kept id + newest sighting time (ms) for the TTL'd dedup, so the
    * horizon rule can check it on access (public: janino). CHECKPOINT
    * COMPATIBILITY: this replaced the bare [[DedupState]] for the TTL
    * variant — restart TTL'd queries from a fresh checkpoint after
    * upgrading across this change. */
  final case class TimedDedupState(kept: String, lastSeenMs: Long)

  /** TTL variant of [[streamExactDedup]] — the unbounded-horizon
    * version keeps one state row per distinct key forever; here each
    * key's state expires under the horizon rule once the watermark
    * passes `ttl` beyond its last sighting (sliding TTL), after which
    * the key is RE-ADMITTED and emits again. This is the standard
    * streaming-dedup contract at corpus scale: exact within the TTL
    * horizon, state bounded by the number of keys seen within it. The
    * batch winner is (ts, id)-minimal; null-`ts` records are dropped
    * before the watermark. Streaming-only semantics (timeouts never
    * fire in a single batch) — covered by multi-batch specs, the
    * unbounded variant carries the batch oracle. */
  def streamExactDedupWithTtl(
      records: Dataset[TimedDedupRecord],
      ttl: String = "1 hour",
      watermark: String = "1 hour")(implicit spark: SparkSession): Dataset[DedupKeep] = {
    import spark.implicits._
    val ttlMs = ttlMillis(ttl)
    timed(records, watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[TimedDedupState, DedupKeep](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, batch: Iterator[TimedDedupRecord],
         state: GroupState[TimedDedupState]) => unlessTimedOut(state) {
          expireOnAccess(state, ttlMs)(_.lastSeenMs)
          val recs = batch.toSeq.sortBy(r => (r.ts.getTime, r.id))
          val st = state.getOption
          val out = admitFirst(key, st.map(_.kept), recs.head.id)
          state.update(TimedDedupState(out.fold(st.get.kept)(_.id),
            extendHorizon(state, ttlMs, st.fold(Long.MinValue)(_.lastSeenMs),
              recs.last.ts.getTime)))
          out.iterator
        }
      }
  }

  // ---------- streaming MinHash near-dup (stateful) ----------

  /** One complete tokenized document on the stream (tokens as produced by
    * the corpus tokenizer — duplicates are harmless, signature mins
    * ignore them). */
  final case class DocRecord(id: String, tokens: Seq[String])

  /** (band bucket, id, signature) after row-local signing/banding. */
  final case class BandedDoc(bucket: String, id: String, sig: Seq[Long])

  /** A near-dup candidate with its signature-estimated Jaccard (fraction
    * of matching minhashes — `matches/numPerm`, an exact binary fraction). */
  final case class NearDupPair(idA: String, idB: String, est: Double)

  /** Per-bucket state: parallel id/signature lists (public + Seq-only for
    * the janino-compiled encoder). */
  final case class BucketState(ids: Seq[String], sigs: Seq[Seq[Long]])

  /** Per-partition row-local MinHash signer — one digest instance per
    * partition (NOT serializable; construct inside `mapPartitions`).
    * Hash family in lockstep with [[graft.functions.MinHash.signature]]:
    * ONE md5 per token (first-15-hex-chars-as-long semantics, computed
    * bytewise — the first 15 hex chars ARE the first 8 digest bytes
    * big-endian shifted right a nibble), reduced mod 2^32, then
    * per-permutation affine mixing with MinHash.permA/permB. Every
    * banded operator signs through [[bandDocs]], so their signatures
    * and bucket keys are bit-identical (and identical to the batch
    * oracle's SQL mirror). */
  private final class MinHashSigner(numPerm: Int, bands: Int) {
    import graft.functions.MinHash
    private val rows = numPerm / bands
    private val md = java.security.MessageDigest.getInstance("MD5")
    private val hexChars = "0123456789abcdef".toCharArray
    private val as = Array.tabulate(numPerm)(MinHash.permA)
    private val bs = Array.tabulate(numPerm)(MinHash.permB)
    private def hex(bytes: Array[Byte]): String = {
      val out = new Array[Char](bytes.length * 2)
      var i = 0
      while (i < bytes.length) {
        out(2 * i) = hexChars((bytes(i) >> 4) & 0xF)
        out(2 * i + 1) = hexChars(bytes(i) & 0xF)
        i += 1
      }
      new String(out)
    }
    private def md5Long15(token: Array[Byte]): Long = {
      md.update(token)
      val d = md.digest()
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
      v >>> 4
    }
    def sign(tokens: Seq[String]): Array[Long] = {
      val xs = tokens.map(t => md5Long15(t.getBytes("UTF-8")) % MinHash.Space)
      Array.tabulate(numPerm) { i =>
        var m = Long.MaxValue
        xs.foreach { x =>
          val h = (as(i) * x + bs(i)) % MinHash.Modulus
          if (h < m) m = h
        }
        m
      }
    }
    def bucketKey(j: Int, sig: Array[Long]): String =
      s"$j:" + hex(md.digest(
        (j * rows until (j + 1) * rows).map(sig(_).toString)
          .mkString(",").getBytes("UTF-8")))
  }

  /** Sign and band each document row-locally (no shuffle before the
    * bucket key): `row(doc, bucket, band, signature)` once per band, or
    * `tokenless(doc)` when the document has no tokens. The banding of
    * both near-dup operators and [[streamRefineVerdicts]]. */
  private def bandDocs[D, B: org.apache.spark.sql.Encoder](
      docs: Dataset[D], numPerm: Int, bands: Int)(tokens: D => Seq[String])(
      row: (D, String, Int, Seq[Long]) => B,
      tokenless: D => Option[B] = (_: D) => None): Dataset[B] = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    docs.mapPartitions { it =>
      val signer = new MinHashSigner(numPerm, bands)
      it.flatMap { d =>
        val toks = tokens(d)
        if (toks.isEmpty) tokenless(d).iterator
        else {
          val sig = signer.sign(toks)
          val s = sig.toSeq
          (0 until bands).iterator.map(j => row(d, signer.bucketKey(j, sig), j, s))
        }
      }
    }
  }

  /** How many of the `numPerm` minhashes two signatures share. */
  private def sigMatches(a: IndexedSeq[Long], b: IndexedSeq[Long], numPerm: Int): Int = {
    var m = 0
    var i = 0
    while (i < numPerm) { if (a(i) == b(i)) m += 1; i += 1 }
    m
  }

  /** The per-bucket admission step of both near-dup operators. The
    * bucket's live entries are parallel (id, signature, last-seen ms)
    * buffers in admission order (`Long.MinValue` times in the unbounded
    * form); documents `(id, sig, ms)` come in the caller's order. A
    * re-sighted id refreshes its age and emits nothing; a new id is
    * admitted only while the bucket is below `maxIdsPerBucket` (the
    * hot-bucket guard: a full bucket stops admitting and emitting), and
    * emits a pair for every live signature whose estimated Jaccard
    * reaches `minEst`. The step never sorts: which ids a full bucket
    * admits follows the caller's order. */
  private def admitBucket(numPerm: Int, minEst: Double, maxIdsPerBucket: Int,
      ids: mutable.ArrayBuffer[String], sigs: mutable.ArrayBuffer[IndexedSeq[Long]],
      seen: mutable.ArrayBuffer[Long],
      docs: Iterator[(String, Seq[Long], Long)]): Iterator[NearDupPair] = {
    val live = mutable.HashMap.empty[String, Int] ++= ids.iterator.zipWithIndex
    val out = Seq.newBuilder[NearDupPair]
    docs.foreach { case (id, sig, t) =>
      live.get(id) match {
        case Some(i) => if (t > seen(i)) seen(i) = t
        case None if ids.size < maxIdsPerBucket =>
          val dsig = sig.toIndexedSeq
          var k = 0
          while (k < ids.length) {
            val est = sigMatches(sigs(k), dsig, numPerm).toDouble / numPerm
            if (est >= minEst) {
              val oid = ids(k)
              out += (if (oid < id) NearDupPair(oid, id, est) else NearDupPair(id, oid, est))
            }
            k += 1
          }
          live += id -> ids.size
          ids += id; sigs += dsig; seen += t
        case None => // bucket full: stop admitting (hot-bucket cap)
      }
    }
    out.result().iterator
  }

  /** Streaming MinHash-LSH near-duplicate detection — the near-dup
    * analog of [[streamExactDedup]]: as documents stream in, each is
    * signed and banded ROW-LOCALLY (md5 hash family in lockstep with
    * [[graft.functions.MinHash.signature]] — no shuffle before the
    * bucket key), then each band bucket's state keeps the (id,
    * signature) list seen so far and emits a pair for every new document
    * whose signature-estimated Jaccard against a stored one reaches
    * `minEst`. Verification-by-estimate keeps per-bucket state bounded
    * (signatures only — never token sets); `maxIdsPerBucket` is the
    * hot-bucket guard, the streaming form of the blockers' hot-token
    * cap. Within a batch a bucket admits documents in group-iterator
    * order.
    *
    * A pair sharing several bands emits once per shared bucket —
    * downstream, dedupe by (idA, idB) (`dropDuplicates` on a bounded
    * horizon, or [[streamExactDedup]] keyed on the pair). A single-batch
    * run over a static corpus therefore equals the batch band-bucket
    * self-join + estimate filter, distinct'd — the DuckDB-oracled
    * `st_stream_neardup` query. On an open-ended corpus use
    * [[streamMinHashNearDupWithTtl]]. */
  def streamMinHashNearDup(
      docs: Dataset[DocRecord], numPerm: Int = 16, bands: Int = 4,
      minEst: Double = 0.375, maxIdsPerBucket: Int = 10000)(
      implicit spark: SparkSession): Dataset[NearDupPair] = {
    import spark.implicits._
    bandDocs(docs, numPerm, bands)(_.tokens)(
        (d, bucket, _, sig) => BandedDoc(bucket, d.id, sig))
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bucket: String, batch: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          val st = state.getOption.getOrElse(BucketState(Seq.empty, Seq.empty))
          val ids = mutable.ArrayBuffer.from(st.ids)
          val sigs = mutable.ArrayBuffer.from(st.sigs.map(_.toIndexedSeq))
          val seen = mutable.ArrayBuffer.fill(ids.length)(Long.MinValue)
          val out = admitBucket(numPerm, minEst, maxIdsPerBucket, ids, sigs, seen,
            batch.map(d => (d.id, d.sig, Long.MinValue)))
          state.update(BucketState(ids.toSeq, sigs.toSeq))
          out
      }
  }

  /** [[DocRecord]] with an event time, for the TTL variant. */
  final case class TimedDocRecord(id: String, tokens: Seq[String], ts: java.sql.Timestamp)

  /** (band bucket, id, signature, event time) after row-local banding. */
  final case class TimedBandedDoc(
      bucket: String, id: String, sig: Seq[Long], ts: java.sql.Timestamp)

  /** Per-bucket TTL state: parallel (id, signature, last-seen ms) lists. */
  final case class TimedBucketState(
      ids: Seq[String], sigs: Seq[Seq[Long]], seen: Seq[Long])

  /** TTL variant of [[streamMinHashNearDup]] — the unbounded form keeps
    * every admitted (id, signature) forever (bench_stream's
    * `state_plateau: false` row: state grows with distinct content, as
    * first-occurrence near-dup semantics demand on an open-ended
    * corpus). Here each stored signature carries its last-seen event
    * time and the horizon rule bounds the store: an entry past the
    * horizon is evicted on access (also freeing `maxIdsPerBucket`
    * capacity), and a bucket with no arrivals for `ttl` past its newest
    * entry removes its state entirely. State is bounded by the
    * signatures seen within one TTL horizon. Within a batch a bucket
    * admits documents in (ts, id) order; null-`ts` documents are
    * dropped before the watermark.
    *
    * Documented divergences vs the unbounded form (the standard
    * bounded-horizon near-dup contract):
    *
    *   - a pair whose members arrive MORE than `ttl` apart is no longer
    *     guaranteed to emit: eviction is watermark-driven, so retention
    *     is AT LEAST `ttl` behind the watermark but not exact — the
    *     bound is on state size, the miss is the semantic cost;
    *   - after eviction a re-sighted id RE-ADMITS as new, so a pair
    *     may re-emit once per horizon; downstream dedupe by (idA, idB)
    *     (already the multi-band contract) absorbs this.
    *
    * Streaming-only semantics (timeouts never fire in a single batch) —
    * covered by multi-batch specs; the unbounded variant carries the
    * batch oracle. */
  def streamMinHashNearDupWithTtl(
      docs: Dataset[TimedDocRecord], numPerm: Int = 16, bands: Int = 4,
      minEst: Double = 0.375, maxIdsPerBucket: Int = 10000,
      ttl: String = "1 hour", watermark: String = "1 hour")(
      implicit spark: SparkSession): Dataset[NearDupPair] = {
    import spark.implicits._
    val ttlMs = ttlMillis(ttl)
    val banded = bandDocs(docs, numPerm, bands)(_.tokens)(
      (d, bucket, _, sig) => TimedBandedDoc(bucket, d.id, sig, d.ts))
    timed(banded, watermark)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[TimedBucketState, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (bucket: String, batch: Iterator[TimedBandedDoc],
         state: GroupState[TimedBucketState]) => unlessTimedOut(state) {
          val st = state.getOption.getOrElse(
            TimedBucketState(Seq.empty, Seq.empty, Seq.empty))
          val wm = state.getCurrentWatermarkMs()
          val keep = st.seen.indices.filterNot(k => pastHorizon(wm, st.seen(k), ttlMs))
          val ids = mutable.ArrayBuffer.from(keep.map(st.ids))
          val sigs = mutable.ArrayBuffer.from(keep.map(k => st.sigs(k).toIndexedSeq))
          val seen = mutable.ArrayBuffer.from(keep.map(st.seen))
          val recs = batch.toSeq.sortBy(d => (d.ts.getTime, d.id))
          val out = admitBucket(numPerm, minEst, maxIdsPerBucket, ids, sigs, seen,
            recs.iterator.map(d => (d.id, d.sig, d.ts.getTime)))
          state.update(TimedBucketState(ids.toSeq, sigs.map(_.toSeq).toSeq, seen.toSeq))
          extendHorizon(state, ttlMs, seen.foldLeft(Long.MinValue)(math.max),
            recs.last.ts.getTime)
          out
        }
      }
  }

  // ---------- streaming corpus refinement (gate → near-dup → keep) ----------

  /** A document with an arrival sequence (seq) — first-wins dedup needs a
    * total arrival order; on batch runs pass a deterministic one (e.g.
    * the numeric id). */
  final case class SeqDoc(id: String, seq: Long, tokens: Seq[String])

  /** (bucket, band, id, seq, signature) after row-local signing. */
  final case class BandedSeqDoc(
      bucket: String, band: Int, id: String, seq: Long, sig: Seq[Long])

  /** One per (document, band): did this band's bucket hold an
    * earlier-arrived signature within `minEst` when the document was
    * processed? A document's keep decision is the AND of its bands'
    * negations — combined per micro-batch by [[refineKeepManifest]]. */
  final case class RefineVerdict(id: String, seq: Long, band: Int, matched: Boolean)

  /** The stateful core of the streaming refine pipeline — first-wins
    * near-duplicate admission: as (already quality-gated) documents
    * stream in, each is signed and banded row-locally (same hash family
    * and bucket keys as [[streamMinHashNearDup]]), and each band bucket
    * emits ONE verdict per document: `matched` = some earlier-arrived
    * signature in this bucket estimates Jaccard ≥ `minEst`. Every
    * processed document enters bucket state (even matched ones — a drop
    * decision must still shadow later copies, the transitive-chain rule
    * a batch keep-list gets from connected components), until the
    * `maxIdsPerBucket` hot-bucket admission cap.
    *
    * Within a (micro-)batch, each bucket processes its documents in
    * `seq` order, so a single-batch run over a static corpus fed with
    * seq = numeric id IS the deterministic batch form: a document is
    * dropped iff it shares an est ≥ `minEst` band candidate with a
    * smaller-seq document — the DuckDB-oracled `st_pipe_refine` query.
    * Across batches, first-wins follows arrival order (feed refreshes in
    * seq order for reproducibility).
    *
    * Tokenless documents (the gate passed but the shingle space is
    * empty) get a per-document bucket ("e:id", band 0) so they still
    * carry a verdict — they can near-dup nothing and are kept. A
    * re-submitted id estimates 1.0 against its own stored signature and
    * is reported matched (a duplicate of itself). */
  def streamRefineVerdicts(
      docs: Dataset[SeqDoc], numPerm: Int = 16, bands: Int = 4,
      minEst: Double = 0.375, maxIdsPerBucket: Int = 10000)(
      implicit spark: SparkSession): Dataset[RefineVerdict] = {
    import spark.implicits._
    val banded = bandDocs(docs, numPerm, bands)(_.tokens)(
      (d, bucket, j, sig) => BandedSeqDoc(bucket, j, d.id, d.seq, sig),
      d => Some(BandedSeqDoc("e:" + d.id, 0, d.id, d.seq, Seq.empty)))
    banded.groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, RefineVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bucket: String, batch: Iterator[BandedSeqDoc], state: GroupState[BucketState]) =>
          val st = state.getOption.getOrElse(BucketState(Seq.empty, Seq.empty))
          val ids = scala.collection.mutable.ArrayBuffer.empty[String] ++= st.ids
          val sigs = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Long]] ++=
            st.sigs.map(_.toIndexedSeq)
          val seen = scala.collection.mutable.HashSet.empty[String] ++= st.ids
          val out = Seq.newBuilder[RefineVerdict]
          // sort by (seq, id): within a batch the bucket's group iterator
          // order is partition-dependent, but first-wins must follow
          // arrival order — this makes the single-batch (pure batch mode)
          // run deterministic and equal to the id-ordered streaming feed
          batch.toArray.sortBy(d => (d.seq, d.id)).foreach { d =>
            val dsig = d.sig.toIndexedSeq
            var matched = false
            var k = 0
            while (k < ids.length && !matched) {
              val osig = sigs(k)
              if (osig.length == numPerm && dsig.length == numPerm) {
                if (sigMatches(osig, dsig, numPerm).toDouble / numPerm >= minEst) matched = true
              } else if (osig == dsig) matched = true // tokenless re-submit
              k += 1
            }
            out += RefineVerdict(d.id, d.seq, d.band, matched)
            if (!seen.contains(d.id) && ids.size < maxIdsPerBucket) {
              ids += d.id
              sigs += dsig
              seen += d.id
            }
          }
          state.update(BucketState(ids.toSeq, sigs.toSeq))
          out.result().iterator
      }
  }

  /** Combine [[streamRefineVerdicts]] output into the corpus manifest:
    * keep = no band matched, then content-addressed shard assignment —
    * (id, shard), the same shape as the batch `pipe_refine_corpus`.
    *
    * All of a document's band verdicts are emitted in the micro-batch it
    * arrives in, so this aggregation is complete per batch — run it
    * inside `foreachBatch` on a stream (keep decisions append-only,
    * no cross-batch state), or directly on a batch run's verdicts. */
  def refineKeepManifest(verdicts: DataFrame, numShards: Int = 16): DataFrame =
    graft.dedup.Dedup.shardAssignment(
      verdicts.groupBy("id")
        .agg(max(when(col("matched"), 1).otherwise(0)).as("_matched"))
        .filter(col("_matched") === 0)
        .select("id"),
      "id", numShards)

  // ---------- per-key event-time rate limiting (stateful) ----------

  /** One keyed record for rate limiting. */
  final case class RateRecord(key: String, id: String, ts: java.sql.Timestamp)

  /** An admitted record: its original event time (so downstream
    * event-time operators can re-watermark the admitted stream), its
    * tumbling window start (epoch seconds) and 1-based admission
    * sequence within that (key, window). */
  final case class RateAdmit(
      key: String, id: String, ts: java.sql.Timestamp, winStart: Long, seqInWin: Int)

  /** Rate-limiter state: the key's latest window and its admit count.
    * Public: janino-generated encoder code cannot touch private member
    * classes. */
  final case class RateState(winStart: Long, count: Int)

  /** [[RateState]] + the newest sighting time (ms) for the TTL
    * variant — horizon checkable on access, monotone in event time
    * (public: janino). CHECKPOINT COMPATIBILITY: replaced the bare
    * [[RateState]] for [[rateLimitWithTtl]] — restart TTL'd queries
    * from a fresh checkpoint after upgrading across this change. */
  final case class TimedRateState(winStart: Long, count: Int, lastSeenMs: Long)

  /** The per-key step of both rate limiters: from window state `st`,
    * admit `recs` (in the caller's (µs, id) order) up to `maxPerWindow`
    * per tumbling `windowSeconds` window. A record for a window older
    * than the key's latest is dropped. Returns the state after `recs`
    * and the admitted records. */
  private def admitRate(key: String, maxPerWindow: Int, windowSeconds: Long,
      st: RateState, recs: Seq[RateRecord]): (RateState, Seq[RateAdmit]) = {
    var cur = st
    val out = recs.flatMap { r =>
      val win = Math.floorDiv(tsMicros(r.ts), windowSeconds * 1000000L) * windowSeconds
      if (win > cur.winStart) cur = RateState(win, 0)
      if (win < cur.winStart || cur.count >= maxPerWindow) None
      else {
        cur = RateState(cur.winStart, cur.count + 1)
        Some(RateAdmit(key, r.id, r.ts, win, cur.count))
      }
    }
    (cur, out)
  }

  /** Per-key event-time rate limiting: admit at most `maxPerWindow`
    * records per key per tumbling `windowSeconds` window, in
    * (event-time µs, id) order — the streaming throttle a training-data
    * pipeline puts in front of a crawl (cap documents per domain, events
    * per user) so one hot key cannot flood downstream state.
    *
    * State is O(1) per key (latest window + count). Records for a window
    * older than the key's latest are late beyond the per-key horizon and
    * are dropped — the standard lateness contract; within a batch records
    * are processed in (ts, id) order so windows advance monotonically.
    * A single-batch run over a static frame therefore equals the batch
    * rule `row_number() OVER (PARTITION BY key, window ORDER BY ts, id)
    * <= maxPerWindow` — the oracle; cross-batch state persistence is
    * spec-tested with MemoryStream.
    */
  def rateLimit(
      records: Dataset[RateRecord],
      maxPerWindow: Int = 2,
      windowSeconds: Long = 3600L)(
      implicit spark: SparkSession): Dataset[RateAdmit] = {
    import spark.implicits._
    records.groupByKey(_.key)
      .flatMapGroupsWithState[RateState, RateAdmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[RateRecord], state: GroupState[RateState]) =>
          // event-time µs, not getTime: sub-millis differences must order
          val (st, out) = admitRate(key, maxPerWindow, windowSeconds,
            state.getOption.getOrElse(RateState(Long.MinValue, 0)),
            batch.toSeq.sortBy(r => (tsMicros(r.ts), r.id)))
          state.update(st)
          out.iterator
      }
  }

  /** [[rateLimit]] with a bounded state store — the unbounded form
    * keeps one (winStart, count) row per key FOREVER (tiny rows, but
    * key-cardinality growth on an open-ended stream). Here a key with
    * no arrivals for `ttl` past its newest event drops its state under
    * the horizon rule, bounding state by the keys active within one TTL
    * horizon. Null-`ts` records are dropped before the watermark.
    *
    * Unlike the near-dup/token TTL variants the TTL itself can be
    * EXACT: with `ttl >= windowSeconds + watermark delay`, an expired
    * key's next on-time event necessarily lands in a LATER tumbling
    * window than the expired state's — where the unbounded form would
    * reset the count anyway — so expiry never changes an admission
    * decision and the TTL costs nothing semantically. A shorter ttl
    * re-admits inside a still-open window (over-admission up to
    * maxPerWindow).
    *
    * The WATERMARK is a separate divergence: events arriving more than
    * the delay behind a prior batch's max event time are dropped as
    * late BEFORE the state op — the unbounded [[rateLimit]] carries no
    * watermark and would still process them (same-window stragglers
    * admitted, count permitting). The delay-0 default is exact only
    * for feeds ordered across batches; size `watermark` to the feed's
    * cross-batch disorder (in-batch disorder is handled by the (ts,id)
    * sort either way), and keep `ttl` above the delay (the timeout
    * timestamp must lead the watermark). Streaming-mode only:
    * event-time timeouts need the watermark, which batch execution
    * does not carry — batch callers use [[rateLimit]] (whose single
    * mega-batch never expires state anyway). */
  def rateLimitWithTtl(
      records: Dataset[RateRecord],
      maxPerWindow: Int = 2,
      windowSeconds: Long = 3600L,
      ttl: String = "2 hours",
      watermark: String = "0 seconds")(
      implicit spark: SparkSession): Dataset[RateAdmit] = {
    import spark.implicits._
    val ttlMs = ttlMillis(ttl)
    timed(records, watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[TimedRateState, RateAdmit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, batch: Iterator[RateRecord], state: GroupState[TimedRateState]) =>
          unlessTimedOut(state) {
            expireOnAccess(state, ttlMs)(_.lastSeenMs)
            val prior = state.getOption.getOrElse(
              TimedRateState(Long.MinValue, 0, Long.MinValue))
            val recs = batch.toSeq.sortBy(r => (tsMicros(r.ts), r.id))
            val (st, out) = admitRate(key, maxPerWindow, windowSeconds,
              RateState(prior.winStart, prior.count), recs)
            state.update(TimedRateState(st.winStart, st.count,
              extendHorizon(state, ttlMs, prior.lastSeenMs, recs.last.ts.getTime)))
            out.iterator
          }
      }
  }

  /** Rate-limited interval join — the composed front-door of an event
    * pipeline: cap the LEFT side at `maxPerWindow` events per key per
    * tumbling window (so one hot key cannot flood join state), then
    * event-time interval-join the survivors against the right side.
    *
    * On batch the two stages compose directly in one plan (the capped
    * left is a single-pass stateful projection, the join a range
    * equi-join). On streams the same chain runs as ONE query — Spark 4
    * supports a stream-stream join downstream of
    * `flatMapGroupsWithState` (multiple stateful operators; [[RateAdmit]]
    * re-exposes the admitted event time so [[intervalJoin]] can
    * re-watermark it) — or as TWO queries with a durable handoff
    * (rate-limit into files/Kafka, `readStream` that into the join),
    * which decouples checkpoints so the throttle restarts without
    * rebuilding join state. StreamingSpec drives both compositions
    * against this batch form.
    *
    * Bounding the throttle's per-key state on an open-ended stream
    * ([[rateLimitWithTtl]], the `--state-ttl` discipline) REQUIRES the
    * two-query handoff: an event-time-timeout operator upstream of a
    * stream-stream join in ONE query trips Spark's global-watermark
    * correctness check (the timeout op can emit rows the join's
    * watermark would discard as late) — a genuine hazard, not a check
    * to disable. The handoff re-derives the join watermark from the
    * durable admitted stream, so the composition stays exact;
    * spec-pinned end-to-end in StreamingSpec. */
  def rateLimitedIntervalJoin(
      left: DataFrame, right: DataFrame,
      key: String = "user_id",
      maxPerWindow: Int = 2, windowSeconds: Long = 3600L,
      boundSeconds: Long = 1800L, watermark: String = "2 hours",
      joinType: String = "inner")(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val limited = rateLimit(
        left.select(col(key).cast("string").as("key"),
          col("event_id").cast("string").as("id"), col("ts")).as[RateRecord],
        maxPerWindow, windowSeconds)
      .toDF()
      .select(col("key").as(key), col("ts"), col("id").as("event_id"))
    intervalJoin(
      limited,
      right.select(col(key).cast("string").as(key), col("ts"),
        col("event_id").cast("string").as("event_id")),
      key, boundSeconds, watermark, joinType)
  }

  /** [[asofJoin]]'s scale path: identical output (spec-asserted
    * bucket-width-invariant, same oracle), but no task ever sorts a
    * whole key. [[asofJoin]] windows over `partitionBy(key)`, so one
    * hot key — a bot user with years of events — lands on a single
    * task. Here events split into (key, time-bucket) windows bounded
    * by `bucketSeconds`, and the cross-bucket dependency collapses to
    * a summary join: per (key, bucket), the max right event (its
    * (us, id) struct max IS the as-of winner — tuple order matches the
    * tie contract); a running max over buckets `< b` per key (a window
    * over the bucket SUMMARY table, #buckets rows per key, built over
    * buckets present on EITHER side so right-empty buckets still
    * carry) seeds each bucket with its carry-in right. Within a
    * bucket the carried right is older than every local right, so
    * `coalesce(local running last, carry-in)` is exact.
    *
    * Cost vs [[asofJoin]]: one extra small aggregation + broadcast-ish
    * join keyed (key, bucket); the big frame still shuffles ONCE. */
  def asofJoinBucketed(left: DataFrame, right: DataFrame,
                       key: String = "user_id",
                       toleranceSec: Long = 1800L,
                       bucketSeconds: Long = 86400L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val width = bucketSeconds * 1000000L
    val l = left.select(col(key).as("_k"), unix_micros(col("ts")).as("_us"),
      col("event_id").as("_id"), lit(1).as("_side"))
    val r = right.select(col(key).as("_k"), unix_micros(col("ts")).as("_us"),
      col("event_id").as("_id"), lit(0).as("_side"))
    val all = l.unionByName(r)
      .withColumn("_bkt", expr(s"_us div ${width}L"))
    // (key, bucket) → max right in-bucket, over buckets present on either
    // side (right-less buckets get a null max but still carry forward)
    val perBkt = all.groupBy("_k", "_bkt")
      .agg(max(when(col("_side") === 0,
        struct(col("_us").as("us"), col("_id").as("id")))).as("_mx"))
    val wCarry = Window.partitionBy("_k").orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = perBkt.withColumn("_carry", max(col("_mx")).over(wCarry))
      .select("_k", "_bkt", "_carry")
    val wIn = Window.partitionBy("_k", "_bkt")
      .orderBy(col("_us"), col("_side"), col("_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localLast = last(when(col("_side") === 0,
      struct(col("_us").as("us"), col("_id").as("id"))), ignoreNulls = true).over(wIn)
    all.join(carry, Seq("_k", "_bkt"))
      .withColumn("_m", coalesce(localLast, col("_carry")))
      .filter(col("_side") === 1)
      .withColumn("_hit", col("_m").isNotNull &&
        col("_m.us") >= col("_us") - lit(toleranceSec * 1000000L))
      .select(col("_k").as(key), col("_id").as("l_id"),
        when(col("_hit"), col("_m.id")).as("r_id"),
        expr("_us div 1000000").as("l_sec"),
        when(col("_hit"), expr("_m.us div 1000000")).as("r_sec"))
  }

  /** One event on one side of an as-of stream: side 0 = right
    * (reference side), side 1 = left (probe side). µs event time. */
  final case class AsofRecord(key: String, side: Int, us: Long, id: Long)

  /** Per-key as-of state: the single latest right event seen. */
  final case class AsofState(us: Long, id: Long)

  /** A left event's as-of verdict (rId/rUs None when nothing matched). */
  final case class AsofMatch(key: String, lId: Long, rId: Option[Long],
                             lUs: Long, rUs: Option[Long])

  /** Streaming as-of join — the deployment shape of [[asofJoin]] for an
    * unbounded feed, with O(1) per-key state: the ONLY state is the
    * latest right event seen so far (its µs timestamp and id), updated
    * as rights flow past and read by each left. Within a micro-batch
    * records sort by (us, side, id) — group-iterator order is
    * partition-dependent, and the as-of contract is defined over event
    * time — so a single-batch (or any event-time-ordered) feed
    * reproduces [[asofJoin]] exactly; `st_asof_join` runs this operator
    * in batch mode against the SAME oracle SQL as `ev_asof_join`.
    *
    * Late-data contract (the price of O(1) state, stated rather than
    * hidden): a right event older than the retained one is absorbed
    * without effect, and a late LEFT — one older than the retained
    * right — emits no match even if an even-older right once existed,
    * because overwritten rights are gone. Feeds that are ordered per
    * key (the common log-shipping case) never hit either path. */
  def streamAsofJoin(records: Dataset[AsofRecord], toleranceSec: Long = 1800L)(
      implicit spark: SparkSession): Dataset[AsofMatch] = {
    import spark.implicits._
    records.groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[AsofRecord], state: GroupState[AsofState]) =>
          var st = state.getOption.orNull
          val out = batch.toSeq.sortBy(r => (r.us, r.side, r.id)).flatMap { r =>
            if (r.side == 0) {
              if (st == null || r.us > st.us || (r.us == st.us && r.id > st.id))
                st = AsofState(r.us, r.id)
              None
            } else {
              val hit = st != null && st.us <= r.us &&
                st.us >= r.us - toleranceSec * 1000000L
              Some(AsofMatch(key, r.id, if (hit) Some(st.id) else None,
                r.us, if (hit) Some(st.us) else None))
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** [[streamFunnel]] record: stage is the 1-based index of the event's
    * funnel stage (callers map event types to indices; non-stage events
    * are filtered before the operator). */
  final case class FunnelEvent(key: String, stage: Int, us: Long, id: Long)

  /** Per-user funnel progress: highest stage reached, entry time, time
    * of the latest advancement. */
  final case class FunnelState(reached: Int, t0: Long, tPrev: Long)

  /** One advancement record — a user reaching `stage`. The per-stage
    * user counts of the batch funnel are `count(*) GROUP BY stage` over
    * this changelog (each user emits each stage at most once). */
  final case class FunnelAdvance(key: String, stage: Int, us: Long)

  /** Streaming first-touch funnel — the stateful-stream form of
    * [[graft.events.EventAnalytics.funnel]]: per user, greedily advance
    * through stages 1..nStages in event-time order; stage s > 1 counts
    * only strictly after the previous advancement and within
    * `horizonSec` of the stage-1 entry. Greedy advancement over a
    * time-ordered feed is exactly the batch min-time chaining (each
    * stage's time is the earliest qualifying occurrence given the
    * previous ones), so a single-batch run ≡ the batch funnel and
    * `st_funnel` shares `ev_funnel`'s oracle.
    *
    * State per user is one (reached, t0, tPrev) triple — O(1), bounded
    * by the key universe. Within a batch, records sort by (us, id)
    * (group-iterator order is partition-dependent; the contract is
    * event-time order). Late-data contract: an event older than the
    * latest advancement cannot retroactively improve the chain —
    * earlier qualifying occurrences that arrive late are absorbed
    * without effect (the O(1)-state price, stated not hidden; per-key
    * ordered feeds never hit it). */
  def streamFunnel(events: Dataset[FunnelEvent], nStages: Int,
      horizonSec: Long)(
      implicit spark: SparkSession): Dataset[FunnelAdvance] = {
    import spark.implicits._
    val horizonUs = horizonSec * 1000000L
    events.groupByKey(_.key)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[FunnelEvent],
         state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, 0L, 0L))
          val out = batch.toSeq.sortBy(e => (e.us, e.id)).flatMap { e =>
            val advances =
              if (e.stage == 1 && st.reached == 0) true
              else e.stage == st.reached + 1 && st.reached >= 1 &&
                e.us > st.tPrev && e.us <= st.t0 + horizonUs
            if (advances && e.stage <= nStages) {
              st = FunnelState(e.stage,
                if (e.stage == 1) e.us else st.t0, e.us)
              Some(FunnelAdvance(key, e.stage, e.us))
            } else None
          }
          if (st.reached > 0) state.update(st)
          out.iterator
      }
  }

  /** [[streamRetention]] record/state/output. */
  final case class RetentionEvent(key: String, day: Int, us: Long, id: Long)
  final case class RetentionState(cohort: Int, seen: Seq[Int])
  final case class RetentionMark(key: String, cohort: Int, offset: Int)

  /** Streaming cohort retention — the stateful-stream form of
    * [[graft.events.EventAnalytics.retention]]: per user, the first
    * event pins the cohort day and each later event emits its
    * day-offset the FIRST time that offset is seen (≤ `maxOffsetDays`).
    * Downstream `groupBy(cohort, offset).count` is the retention
    * matrix, so a single-batch run over a static frame shares
    * `ev_retention`'s DuckDB oracle (within a batch records sort by
    * (us, id) — the [[streamAsofJoin]] contract — so the cohort is the
    * min-ts day exactly as the batch operator computes it).
    *
    * State per user: one cohort int + the distinct offsets emitted,
    * bounded by `maxOffsetDays + 1` ints — O(1) in corpus size, the
    * same boundedness class as [[streamFunnel]]. Late-data contract: an
    * event EARLIER than the pinned cohort cannot re-pin it
    * (O(1) state cannot re-derive already-emitted offsets); per-key
    * event-time-ordered feeds never hit it. */
  def streamRetention(events: Dataset[RetentionEvent], maxOffsetDays: Int)(
      implicit spark: SparkSession): Dataset[RetentionMark] = {
    import spark.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[RetentionState, RetentionMark](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[RetentionEvent],
         state: GroupState[RetentionState]) =>
          var st = state.getOption.orNull
          val out = batch.toSeq.sortBy(e => (e.us, e.id)).flatMap { e =>
            if (st == null) st = RetentionState(e.day, Seq.empty)
            val off = e.day - st.cohort
            if (off >= 0 && off <= maxOffsetDays && !st.seen.contains(off)) {
              st = RetentionState(st.cohort, st.seen :+ off)
              Some(RetentionMark(key, st.cohort, off))
            } else None
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** [[streamMarkov]] record/state/output. */
  final case class MarkovEvent(key: String, typ: String, us: Long, id: Long)
  final case class MarkovState(typ: String, us: Long, id: Long)
  final case class MarkovTransition(key: String, fromType: String,
      toType: String, us: Long)

  /** Streaming first-order transition feed — the stateful-stream form
    * of [[graft.events.EventAnalytics.markovTransitions]]: per user,
    * emit (prev_type → type) as events arrive in event-time order.
    * State per user is the single latest (type, us, id) triple; within
    * a batch records sort by (us, id) (the [[streamAsofJoin]]
    * contract), so a single-batch run produces exactly the batch
    * operator's transition multiset and the driver-gated form shares
    * `ev_markov_transitions`'s oracle after the count/normalize rollup.
    * Late-data contract: an event older than the retained latest is
    * treated as the next in sequence anyway (O(1) state cannot
    * re-order history); per-key ordered feeds never hit it. */
  def streamMarkov(events: Dataset[MarkovEvent])(
      implicit spark: SparkSession): Dataset[MarkovTransition] = {
    import spark.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[MarkovState, MarkovTransition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[MarkovEvent],
         state: GroupState[MarkovState]) =>
          var st = state.getOption.orNull
          val out = batch.toSeq.sortBy(e => (e.us, e.id)).flatMap { e =>
            val t = if (st == null) None
              else Some(MarkovTransition(key, st.typ, e.typ, e.us))
            st = MarkovState(e.typ, e.us, e.id)
            t
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Tokenize a raw (id, text, side) stream into TokenRecords. */
  def tokenize(df: DataFrame, idCol: String, textCol: String, sideCol: String)(
      implicit spark: SparkSession): Dataset[TokenRecord] = {
    import spark.implicits._
    df.select(
        explode(Text.tokenize(col(textCol))).as("key"),
        col(sideCol).cast("string").as("side"),
        col(idCol).cast("string").as("id"))
      .as[TokenRecord]
  }

  /** Drive `op` through N deterministic micro-batches (one per wave of
    * a MemoryStream) and return the memory sink's accumulated rows as a
    * BATCH DataFrame — the replay harness the TTL-eviction oracles use
    * (`st_ttl_*_replay`): event times are fixed constants, the waves
    * are bounded driver-side fixtures, and `processAllAvailable` after
    * each wave makes the watermark sequence (max prior event time −
    * delay) a pure function of the wave times, so the multi-batch
    * output is deterministic and SQL-replayable. The result is
    * localCheckpointed so the sink's temp view and the query can be
    * torn down before returning. */
  def replayWaves[I](waves: Seq[Seq[I]], sinkName: String)(
      op: Dataset[I] => Dataset[_])(
      implicit spark: SparkSession,
      enc: org.apache.spark.sql.Encoder[I]): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // State-partition count scaled to the (driver-bounded, known-size)
    // replay fixture instead of the session-wide shuffle-partition
    // setting: a stateful micro-batch instantiates one state store per
    // shuffle partition PER stateful operator PER batch (open + replay +
    // delta write + commit on local disk), so a 3-wave replay of a few
    // thousand rows paid ~32 stores × ops × batches of pure store
    // overhead while every task carried a handful of rows. The count is
    // derived from the fixture size (≥4 for compute parallelism, ~1000
    // rows/partition — stateful-overhead-bound replays never need finer
    // grain than that — never above the session setting, so a real
    // stream's sizing is untouched and larger fixtures scale back up),
    // and the emitted rows are partition-count-independent: every
    // stateful operator here is keyed (groupByKey / window / dropDup)
    // and the per-row signature work is row-local (StreamingSpec parity
    // + the unchanged oracle hashes pin this).
    val parts = math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      math.max(4, waves.map(_.size).sum / 1000))
    // clone the session so the partition setting cannot leak into the
    // caller's conf (same SparkContext, own SQLConf/catalog) — but carry
    // the caller's MODIFIED runtime confs onto the clone first:
    // newSession() starts from the context defaults, so a caller's
    // conf.set (e.g. a st_ttl_* replay disabling noDataMicroBatches to
    // exercise idle-batch expiry) would otherwise silently not apply to
    // the replay query (ADVICE r18).
    // The caller's checkpoint location is never carried: a same-named
    // memory-sink replay would resume its stale state instead of starting
    // fresh.
    val ss = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (k != "spark.sql.streaming.checkpointLocation" &&
          ss.conf.isModifiable(k) && ss.conf.getOption(k) != Some(v))
        ss.conf.set(k, v)
    }
    ss.conf.set("spark.sql.shuffle.partitions", parts)
    // the replay's tasks share the executor's default class loader and so
    // its compiled code ([[Queries]]); `ss` is new, holds no artifacts, and
    // no caller sees it, so nothing is restored
    ss.conf.set(Queries.Isolation, false)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = MemoryStream[I]
    val sq = op(mem.toDS()).writeStream.format("memory")
      .queryName(sinkName).outputMode("append").start()
    try {
      waves.foreach { w => mem.addData(w: _*); sq.processAllAvailable() }
      ss.table(sinkName).localCheckpoint()
    } finally {
      sq.stop()
      ss.catalog.dropTempView(sinkName)
    }
  }
}
