package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.multimodal.Multimodal
import graft.streaming.StreamingOps
import graft.functions.Num
import QueryDef.table

/** Events-table (streaming-shaped) + multimodal-column queries. The
  * event transforms are the exact functions the streaming path uses
  * (StreamingOps works on batch and stream frames alike); the driver
  * runs them in batch, StreamingSpec runs them against MemoryStream. */
object EventQueries {

  /** ev_mad_outliers' modified-z cut — ONE definition interpolated into
    * both the Spark call and the DuckDB oracle (the standard 3.5 of
    * Iglewicz & Hoaglin 1993). */
  private val MadCut = 3.5

  /** The events table's clicks and purchases. */
  private def clicksAndPurchases(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = QueryDef.events(s, dir)
    (ev.filter(col("event_type") === "click"), ev.filter(col("event_type") === "purchase"))
  }

  /** Every document as media bytes through the real feature decoder. */
  private def decodedMedia(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    Multimodal.decodeFeatures(
        Multimodal.withBinary(table(s, dir, "documents"), "doc_id", "text")
          .as[Multimodal.MediaRecord])
      .toDF()
  }

  // ---- DuckDB replay fragments -------------------------------------------
  // A batch operator and its streaming twin share one contract, so each
  // replay below is written once and serves both rows.

  /** Clicks `c` and purchases `p` as (user_id, event_id, us). */
  private val clickPurchaseCtes: String =
    """WITH c AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
      |          FROM events WHERE event_type = 'click'),
      |     p AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
      |          FROM events WHERE event_type = 'purchase')""".stripMargin

  /** Each click joined (`join` = "JOIN" or "LEFT JOIN") to the same
    * user's purchases within 30 minutes after it. */
  private def intervalJoinSql(join: String): String =
    s"""$clickPurchaseCtes
       |SELECT c.user_id AS user_id, c.event_id AS l_id, p.event_id AS r_id,
       |       c.us // 1000000 AS l_sec, p.us // 1000000 AS r_sec
       |FROM c $join p ON c.user_id = p.user_id
       |  AND p.us >= c.us AND p.us <= c.us + 1800000000
       |ORDER BY c.user_id, l_id, r_id""".stripMargin

  /** Each purchase with the latest click of its user at most 30 minutes
    * before it, by candidate join + row_number argmax. */
  private val asofJoinSql: String =
    s"""$clickPurchaseCtes,
       |cand AS (
       |  SELECT p.user_id, p.event_id AS l_id, p.us AS l_us,
       |         c.event_id AS r_id, c.us AS r_us,
       |         row_number() OVER (PARTITION BY p.event_id
       |             ORDER BY c.us DESC, c.event_id DESC) AS rk
       |  FROM p LEFT JOIN c ON p.user_id = c.user_id
       |    AND c.us <= p.us AND c.us >= p.us - 1800000000)
       |SELECT user_id, l_id, r_id, l_us // 1000000 AS l_sec,
       |       r_us // 1000000 AS r_sec
       |FROM cand WHERE rk = 1 ORDER BY user_id, l_id""".stripMargin

  /** The rate limiter's rule: timed events matching `cond` (" AND …" or
    * "") as `r(key, id, us)`, then `ranked`, each event's place `seq`
    * in its key's hour window by (us, id). Null-`ts` events have no
    * window and are dropped. */
  private def rateRankedCtes(cond: String): String =
    s"""r AS (
       |  SELECT user_id::varchar AS key, event_id::varchar AS id,
       |         epoch_ns(ts) // 1000 AS us
       |  FROM events WHERE ts IS NOT NULL$cond),
       |ranked AS (
       |  SELECT key, id, us,
       |         us // 3600000000 * 3600 AS win_start,
       |         row_number() OVER (PARTITION BY key, us // 3600000000
       |             ORDER BY us, id) AS seq
       |  FROM r)""".stripMargin

  /** The latest event per (user_id, event_type) by (ts, event_id). */
  private val compactLatestSql: String =
    """WITH r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
      |       floor((value) * 1e6 + 0.5) / 1e6 AS value
      |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** The signup → view → purchase funnel, 7-day horizon, by per-stage
    * equi-join + min. */
  private val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
      |s1 AS (
      |  SELECT user_id, min(us) AS t0
      |  FROM e WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, t0, min(us) AS t1
      |  FROM e JOIN s1 USING (user_id)
      |  WHERE event_type = 'view' AND us > t0 AND us <= t0 + 604800000000
      |  GROUP BY 1, 2),
      |s3 AS (
      |  SELECT e.user_id, min(us) AS t2
      |  FROM e JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND us > t1 AND us <= t0 + 604800000000
      |  GROUP BY 1)
      |SELECT 1 AS stage, 'signup' AS event_type,
      |       (SELECT count(*) FROM s1) AS users
      |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
      |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
      |ORDER BY stage""".stripMargin

  /** The cohort retention matrix over 30 day offsets. */
  private val retentionSql: String =
    """WITH f AS (
      |  SELECT user_id, min(ts)::date AS cohort FROM events GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, ts::date AS day FROM events),
      |j AS (
      |  SELECT cohort, date_diff('day', cohort, day) AS day_offset
      |  FROM a JOIN f USING (user_id)
      |  WHERE date_diff('day', cohort, day) <= 30)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
      |       day_offset::int AS day_offset, count(*) AS users
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** First-order event-type transition probabilities per user stream. */
  private val markovSql: String =
    """WITH t AS (
      |  SELECT user_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id) AS prev
      |  FROM events),
      |c AS (
      |  SELECT prev AS from_type, event_type AS to_type, count(*) AS n
      |  FROM t WHERE prev IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       floor((n::double / sum(n) OVER (PARTITION BY from_type))
      |             * 1e6 + 0.5) / 1e6 AS p
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** Per-document character counts `counts(id, bucket, c)` in 32-wide
    * codepoint buckets — the byte-histogram feature replay. */
  private val charBucketCtes: String =
    """WITH chars AS (
      |  SELECT doc_id AS id, unnest(split(text, '')) AS ch FROM documents),
      |counts AS (
      |  SELECT id, ord(ch) // 32 AS bucket, count(*)::double AS c
      |  FROM chars GROUP BY id, bucket)""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- tumbling-window aggregation (the streaming headline) ------------
    "ev_window_agg" -> QueryDef(
      (s, dir) => StreamingOps.windowedEventAgg(QueryDef.events(s, dir))
        .orderBy("win_start", "event_type"),
      Some("""SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts))::bigint AS win_start,
             |       event_type, count(*) AS n, floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      api = "StreamingOps.windowedEventAgg",
      desc = "Tumbling event-time window aggregation — identical frame batch and streaming (spec-asserted parity)."),

    // ---- JSON prop extraction --------------------------------------------
    "ev_json_extract" -> QueryDef(
      (s, dir) => QueryDef.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Num.stableRound(avg(col("k")), 6).as("avg_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             |       floor((avg(json_extract_string(props, '$.k')::int)) * 1e6 + 0.5) / 1e6 AS avg_k
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      api = "get_json_object / from_json",
      desc = "Typed extraction from the events JSON payload column — schema-on-read without a UDF."),

    // ---- W2-style top-k per group ----------------------------------------
    "ev_top_users_per_type" -> QueryDef(
      (s, dir) => {
        val totals = QueryDef.events(s, dir)
          .groupBy("event_type", "user_id")
          .agg(Num.stableRound(sum(col("value")), 4).as("total"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("total").desc, col("user_id").asc)
        totals.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .orderBy("event_type", "rank")
      },
      Some("""WITH totals AS (
             |  SELECT event_type, user_id, floor((sum(value)) * 1e4 + 0.5) / 1e4 AS total
             |  FROM events GROUP BY 1, 2),
             |ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY event_type
             |      ORDER BY total DESC, user_id ASC) AS rank
             |  FROM totals)
             |SELECT event_type, user_id, total, rank::int AS rank
             |FROM ranked WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin),
      api = "Window.partitionBy + rank",
      desc = "Top-n users per event type (W2) — per-type window with deterministic ties."),

    // ---- CDC last-write-wins compaction ----------------------------------
    // changelog → final state: latest (ts, event_id) row per
    // (user_id, event_type); micros-precision ts so both engines compare
    // the same integers.
    "ev_compact_latest" -> QueryDef(
      (s, dir) => StreamingOps.compactLatest(QueryDef.events(s, dir))
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          Num.stableRound(col("value"), 6).as("value"))
        .orderBy("user_id", "event_type"),
      Some(compactLatestSql),
      api = "StreamingOps.compactLatest",
      desc = "CDC compaction to latest-per-key (max_by-free: (ts, tiebreak) window) — batch form."),

    // ---- gap-based sessionization ----------------------------------------
    "ev_sessionize" -> QueryDef(
      (s, dir) => StreamingOps.sessionize(QueryDef.events(s, dir), 30)
        .orderBy("user_id"),
      // integer epoch_ns arithmetic end-to-end (no double rounding), and
      // sum(..)::bigint — DuckDB's HUGEINT sum renders as float64 in the
      // driver's hasher while Spark emits int64 (values were identical).
      Some("""WITH e AS (
             |  SELECT user_id, ts, epoch_ns(ts) // 1000000000 AS sec FROM events),
             |lagged AS (
             |  SELECT user_id, sec,
             |         lag(sec) OVER (PARTITION BY user_id ORDER BY ts) AS prev
             |  FROM e),
             |flags AS (
             |  SELECT user_id,
             |         CASE WHEN prev IS NULL OR sec - prev > 1800
             |              THEN 1 ELSE 0 END AS new_session
             |  FROM lagged)
             |SELECT user_id, sum(new_session)::bigint AS n_sessions, count(*) AS n_events
             |FROM flags GROUP BY user_id ORDER BY user_id""".stripMargin),
      api = "StreamingOps.sessionize",
      desc = "Gap-based sessionization via lag + cumulative session ids — one user-keyed shuffle."),

    // ---- event-time interval join (stream-stream join, batch form) --------
    // clicks joined to purchases by the same user within 30 minutes after
    // the click — the funnel query; on streams both sides are watermarked
    // and the range predicate bounds the join state.
    "ev_interval_join" -> QueryDef(
      (s, dir) => {
        val (clicks, buys) = clicksAndPurchases(s, dir)
        StreamingOps.intervalJoin(clicks, buys, "user_id", 1800L)
          .orderBy("user_id", "l_id", "r_id")
      },
      Some(intervalJoinSql("JOIN")),
      api = "StreamingOps.intervalJoin",
      desc = "Interval (range) join events×spans through a bucketed equi-join — range predicates never become a nested loop."),

    // ---- event-time interval join, LEFT OUTER (unmatched clicks kept) -----
    "ev_interval_join_outer" -> QueryDef(
      (s, dir) => {
        val (clicks, buys) = clicksAndPurchases(s, dir)
        StreamingOps.intervalJoin(clicks, buys, "user_id", 1800L, joinType = "left_outer")
          .orderBy("user_id", "l_id", "r_id")
      },
      Some(intervalJoinSql("LEFT JOIN")),
      api = "StreamingOps.intervalJoin",
      desc = "Outer interval join: unmatched left rows survive with null span columns, same bucket plan."),

    // ---- as-of join: purchase → latest click within 30 min ---------------
    // the oracle states the same contract through the OPPOSITE algorithm
    // (candidate join + row_number argmax) — semantic agreement, not a
    // re-derivation of the union-window pass.
    "ev_asof_join" -> QueryDef(
      (s, dir) => {
        val (clicks, buys) = clicksAndPurchases(s, dir)
        StreamingOps.asofJoin(buys, clicks, "user_id", 1800L)
          .orderBy("user_id", "l_id")
      },
      Some(asofJoinSql),
      api = "StreamingOps.asofJoin",
      desc = "As-of join (latest quote ≤ event ts) via union + last_value window — no per-row subquery."),

    // ---- as-of join, bucketed scale path (same contract, same oracle) ----
    // hourly buckets so the carry machinery is genuinely exercised at
    // every SF (events span days); output is bucket-width-invariant
    // (spec) and hash-identical to ev_asof_join's oracle.
    "ev_asof_join_bucketed" -> QueryDef(
      (s, dir) => {
        val (clicks, buys) = clicksAndPurchases(s, dir)
        StreamingOps.asofJoinBucketed(buys, clicks, "user_id", 1800L, bucketSeconds = 3600L)
          .orderBy("user_id", "l_id")
      },
      Some(asofJoinSql),
      api = "StreamingOps.asofJoinBucketed",
      desc = "As-of join for hot keys: time-bucketed equi-join carries only bucket-local candidates — the 100 TB shape."),

    // ---- streaming as-of join, batch form ---------------------------------
    // single-batch run of streamAsofJoin: the per-key (us, side, id) sort
    // makes one batch ≡ an event-time-ordered feed ≡ the batch asofJoin
    // contract, so the ev_asof_join oracle applies verbatim. Cross-batch
    // state persistence + late-data divergence are spec-tested.
    "st_asof_join" -> QueryDef(
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val ev = QueryDef.events(s, dir)
        val recs = ev.filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id").cast("string").as("key"),
            when(col("event_type") === "click", 0).otherwise(1).as("side"),
            unix_micros(col("ts")).as("us"), col("event_id").as("id"))
          .as[StreamingOps.AsofRecord]
        StreamingOps.streamAsofJoin(recs, 1800L).toDF()
          .select(col("key").cast("long").as("user_id"), col("lId").as("l_id"),
            col("rId").as("r_id"), expr("lUs div 1000000").as("l_sec"),
            expr("rUs div 1000000").as("r_sec"))
          .orderBy("user_id", "l_id")
      },
      Some(asofJoinSql),
      api = "StreamingOps.streamAsofJoin",
      desc = "Streaming as-of join with keyed quote state and watermark expiry."),

    // ---- per-key event-time rate limiting (batch form of the stateful op) --
    // single-batch run of StreamingOps.rateLimit ≡ row_number per
    // (key, tumbling window) in (ts µs, id) order, capped; cross-batch
    // state persistence + late-drop are spec-tested in StreamingSpec.
    "ev_rate_limit" -> QueryDef(
      (s, dir) => {
        implicit val sp = s
        import s.implicits._
        StreamingOps.rateLimit(
          QueryDef.events(s, dir)
            .select(col("user_id").cast("string").as("key"),
              col("event_id").cast("string").as("id"), col("ts"))
            .as[StreamingOps.RateRecord],
          maxPerWindow = 2, windowSeconds = 3600L)
          .toDF()
          .select(col("key"), col("id"), col("winStart").as("win_start"),
            col("seqInWin").as("seq_in_win"))
          .orderBy("key", "win_start", "seq_in_win")
      },
      Some(s"""WITH ${rateRankedCtes("")}
             |SELECT key, id, win_start, seq::int AS seq_in_win
             |FROM ranked WHERE seq <= 2
             |ORDER BY key, win_start, seq_in_win""".stripMargin),
      api = "StreamingOps.rateLimit",
      desc = "Per-key rate limiting (first N per window) — deterministic window + filter, batch form."),

    // ---- rate-limited interval join (composed pipeline front door) --------
    // clicks capped at 2/user/hour, survivors interval-joined to purchases
    // within 30 min — the batch form of the two-query streaming
    // composition (see rateLimitedIntervalJoin's scaladoc + StreamingSpec)
    "ev_rate_limited_join" -> QueryDef(
      (s, dir) => {
        implicit val sp = s
        val (clicks, buys) = clicksAndPurchases(s, dir)
        StreamingOps.rateLimitedIntervalJoin(clicks, buys, "user_id",
          maxPerWindow = 2, windowSeconds = 3600L, boundSeconds = 1800L)
          .orderBy("user_id", "l_id", "r_id")
      },
      Some(s"""WITH ${rateRankedCtes(" AND event_type = 'click'")},
             |p AS (
             |  SELECT user_id::varchar AS user_id, event_id::varchar AS event_id,
             |         epoch_ns(ts) // 1000 AS us
             |  FROM events WHERE event_type = 'purchase')
             |SELECT c.key AS user_id, c.id AS l_id, p.event_id AS r_id,
             |       c.us // 1000000 AS l_sec, p.us // 1000000 AS r_sec
             |FROM ranked c JOIN p ON c.key = p.user_id
             |  AND p.us >= c.us AND p.us <= c.us + 1800000000
             |WHERE c.seq <= 2
             |ORDER BY c.key, l_id, r_id""".stripMargin),
      api = "StreamingOps.rateLimitedIntervalJoin",
      desc = "Rate limiter composed with the interval join — admission control before join fan-out."),

    // ---- session windows (built-in session_window, batch form) ------------
    // new-session rule is ts >= prev + gap at MICRO precision (Spark's
    // session merge compares event time against session end = last+gap),
    // so the oracle compares integer epoch-micros, not floored seconds.
    "ev_session_windows" -> QueryDef(
      (s, dir) => StreamingOps.sessionWindowAgg(QueryDef.events(s, dir))
        .orderBy("user_id", "sess_start"),
      Some("""WITH e AS (
             |  SELECT user_id, ts, epoch_ns(ts) // 1000 AS us FROM events),
             |lagged AS (
             |  SELECT user_id, ts, us,
             |         lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us
             |  FROM e),
             |flags AS (
             |  SELECT user_id, ts, us,
             |         CASE WHEN prev_us IS NULL OR us >= prev_us + 1800000000
             |              THEN 1 ELSE 0 END AS new_session
             |  FROM lagged),
             |sess AS (
             |  SELECT user_id, ts, us,
             |         sum(new_session) OVER (PARTITION BY user_id ORDER BY us
             |             ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flags)
             |SELECT user_id,
             |       (min(us) // 1000000) AS sess_start,
             |       ((max(us) + 1800000000) // 1000000) AS sess_end,
             |       count(*) AS n_events
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, sess_start""".stripMargin),
      api = "StreamingOps.sessionWindowAgg",
      desc = "Native session_window aggregation — the Structured Streaming session form on batch data."),

    // ---- multimodal: metadata decode over binary columns ------------------
    // runs the REAL per-partition ImageIO decode path; the synthetic
    // corpus payloads are text, so every row takes the deterministic
    // fallback (bit-identical to the column stub — the oracle covers it);
    // real-PNG decoding is asserted in MultimodalSpec. `decoded` is
    // projected away: DuckDB sees only the text-reproducible columns.
    "mm_decode_meta" -> QueryDef(
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        Multimodal.decodeImageMeta(
            Multimodal.withBinary(table(s, dir, "documents"), "doc_id", "text")
              .as[Multimodal.MediaRecord])
          .toDF()
          .select(col("id"), col("nBytes").as("n_bytes"),
            col("contentHash").as("content_hash"), col("width"), col("height"))
          .orderBy("id")
      },
      Some("""SELECT doc_id AS id, octet_length(encode(text))::bigint AS n_bytes,
             |       md5(text) AS content_hash,
             |       (('0x'||substr(md5(text), 1, 15))::bigint % 1280 + 1)::int AS width,
             |       (('0x'||substr(md5(text||'h'), 1, 15))::bigint % 720 + 1)::int AS height
             |FROM documents ORDER BY id""".stripMargin),
      api = "Multimodal.decodeImageMeta",
      desc = "Image header decode (real ImageIO) → typed width/height/format metadata; per-partition codec init."),

    // ---- multimodal: frame sampling over binary ---------------------------
    // ASCII corpus → byte offsets == char offsets, so the oracle slices
    // the text directly.
    "mm_frame_sample" -> QueryDef(
      (s, dir) => Multimodal.sampleFrames(
          Multimodal.withBinary(table(s, dir, "documents"), "doc_id", "text"),
          frameSize = 32, every = 2)
        .select(col("id"), col("frame_idx"),
          md5(col("frame")).as("frame_hash"),
          length(col("frame")).as("frame_bytes"))
        .orderBy("id", "frame_idx"),
      Some("""WITH f AS (
             |  SELECT doc_id AS id, octet_length(encode(text)) AS nb, text,
             |         unnest(range(0, ceil(octet_length(encode(text)) / 32.0)::int)) AS frame_idx
             |  FROM documents)
             |SELECT id, frame_idx,
             |       md5(substring(text, frame_idx * 32 + 1, 32)) AS frame_hash,
             |       least(32, nb - frame_idx * 32)::int AS frame_bytes
             |FROM f WHERE frame_idx % 2 = 0 ORDER BY id, frame_idx""".stripMargin),
      api = "Multimodal.sampleFrames",
      desc = "Deterministic frame sampling from video-like binaries (zero-length guarded) — the mapPartitions plumbing, stub codec."),

    // ---- multimodal: real resize path (JDK ImageIO decode→scale→encode);
    // the synthetic corpus is text, so every blob takes the deterministic
    // prefix fallback (bit-identical to resizeStub) — which the oracle can
    // replicate, and the pinned `resized = false` flag proves the real
    // dispatch ran. MultimodalSpec covers the true-image branch.
    "mm_resize" -> QueryDef(
      (s, dir) => {
        implicit val sp = s
        import s.implicits._
        Multimodal.resizeImages(
            Multimodal.withBinary(table(s, dir, "documents"), "doc_id", "text")
              .as[Multimodal.MediaRecord], 50)
          .select(col("id"), length(col("data")).as("n_bytes"),
            md5(col("data")).as("hash"), col("resized"))
          .orderBy("id")
      },
      Some("""SELECT doc_id AS id,
             |       greatest((octet_length(encode(text)) * 50) // 100, 1)::int AS n_bytes,
             |       md5(substring(text, 1, greatest((octet_length(encode(text)) * 50) // 100, 1))) AS hash,
             |       false AS resized
             |FROM documents ORDER BY id""".stripMargin),
      api = "Multimodal.resizeImages",
      desc = "Bilinear image resize over binary columns — batch-shaped, codec-pluggable."),

    // ---- multimodal: per-partition feature extraction ---------------------
    // runs the REAL decodeFeatures path (pixel luminance histograms for
    // images); the synthetic corpus is text → every row takes the
    // byte-histogram fallback, which the oracle replicates byte-for-byte
    // (ASCII corpus → DuckDB codepoints == bytes). Long format
    // (id, bucket, v) keeps the oracle join-shaped instead of
    // array-building; v is count/n — the same integer division on both
    // sides, so doubles are bit-identical. Pinned `decoded = false`
    // proves the real dispatch ran; the pixel branch is spec-asserted.
    "mm_features" -> QueryDef(
      (s, dir) => {
        decodedMedia(s, dir)
          .select(col("id"), posexplode(col("features")), col("decoded"))
          .select(col("id"), col("pos").cast("int").as("bucket"),
            col("col").as("v"), col("decoded"))
          .orderBy("id", "bucket")
      },
      Some(s"""$charBucketCtes,
             |grid AS (
             |  SELECT doc_id AS id,
             |         greatest(octet_length(encode(text)), 1)::double AS n,
             |         r.range AS bucket
             |  FROM documents CROSS JOIN range(8) r)
             |SELECT g.id, g.bucket::int AS bucket,
             |       coalesce(c.c, 0) / g.n AS v, false AS decoded
             |FROM grid g LEFT JOIN counts c ON g.id = c.id AND g.bucket = c.bucket
             |ORDER BY g.id, g.bucket""".stripMargin),
      api = "Multimodal.decodeFeatures",
      desc = "Pixel feature extraction (channel means/edges) from decoded images."),

    // ---- multimodal: perceptual-hash duplicate groups ---------------------
    // quantized perceptual hash over the decoded feature vectors: phash =
    // md5 of the per-dim features floored at 1e-4 — media items identical
    // at that resolution form a duplicate group (dd_exact's group form;
    // output is group-sized, never pairwise-quadratic). Design note,
    // measured on this corpus: a DCT-style SIGN-bit hash (12 md5
    // hyperplanes over mean-centered features) collapses to ≤2 groups —
    // the 8-dim char-class histograms vary along ~one direction, so sign
    // bits carry ~1 bit; quantization at 1e-4 resolves the corpus's REAL
    // duplicate structure (115 groups at sf0.01, sizes to 8 — the copied
    // documents). With richer real-image features the sign-bit variant
    // becomes viable; the grouping pipeline is identical either way.
    // Zero-length media still hash (n floor-guarded to 1 upstream).
    "mm_phash_dedup" -> QueryDef(
      (s, dir) => {
        decodedMedia(s, dir)
          .select(col("id").cast("string").as("id"),
            md5(concat_ws(",",
              transform(col("features"),
                v => floor(v * 10000).cast("long")))).as("phash"))
          .groupBy("phash")
          .agg(array_join(array_sort(collect_set(col("id"))), ",").as("ids"),
            countDistinct(col("id")).as("n"))
          .filter(col("n") >= 2)
          .orderBy("phash")
      },
      Some(s"""$charBucketCtes,
             |grid AS (
             |  SELECT doc_id AS id,
             |         greatest(octet_length(encode(text)), 1)::double AS n,
             |         r.range AS i
             |  FROM documents CROSS JOIN range(8) r),
             |f AS (SELECT g.id, g.i, coalesce(c.c, 0) / g.n AS v
             |      FROM grid g LEFT JOIN counts c ON g.id = c.id AND g.i = c.bucket),
             |bk AS (SELECT cast(id AS varchar) AS id,
             |              md5(string_agg(cast(floor(v * 10000) AS bigint)::varchar,
             |                             ',' ORDER BY i)) AS phash
             |       FROM f GROUP BY id)
             |SELECT phash, array_to_string(list_sort(list(DISTINCT id)), ',') AS ids,
             |       count(DISTINCT id) AS n
             |FROM bk GROUP BY phash HAVING count(DISTINCT id) >= 2
             |ORDER BY phash""".stripMargin),
      api = "Multimodal.decodeFeatures + hash",
      desc = "Perceptual-hash duplicate groups from quantized features — group form, never pairwise.")
  ) ++ Map(

    // ---- ordered funnel (signup → view → purchase, 7-day horizon) --------
    // first-touch min-time semantics, timestamps compared in integer
    // micros. The engine is the horizon-prefiltered fold (NOTES_r9 §2):
    // filter to stage-typed events, ONE groupBy(user) with a time-sorted
    // collect_list, greedy row-local chain walk — one shuffle, invariant
    // in stage count. The oracle deliberately keeps the per-stage
    // equi-join + min formulation: it is the independently-derived
    // definition the fold must agree with, not a port of the plan.
    "ev_funnel" -> QueryDef(
      (s, dir) => graft.events.EventAnalytics.funnel(
        QueryDef.events(s, dir), Seq("signup", "view", "purchase"),
        horizonSec = 7 * 86400L).orderBy("stage"),
      Some(funnelSql),
      api = "EventAnalytics.funnel",
      desc = "K-stage funnel in ONE user-keyed shuffle (ordered-stage scan per user, hot-user bound) — not O(k²) self-joins."),

    // ---- cohort retention matrix -----------------------------------------
    "ev_retention" -> QueryDef(
      (s, dir) => graft.events.EventAnalytics.retention(
        QueryDef.events(s, dir), maxOffsetDays = 30)
        .orderBy("cohort_day", "day_offset"),
      Some(retentionSql),
      api = "EventAnalytics.retention",
      desc = "Cohort retention matrix: first-seen cohort × activity period, two aggs."),

    // ---- robust outliers: median/MAD modified z (Iglewicz-Hoaglin) -------
    // three keyed passes (med → MAD → count); exact percentile parity with
    // DuckDB's quantile_cont, rounding via the shared e4 floor.
    "ev_mad_outliers" -> QueryDef(
      (s, dir) => graft.events.EventAnalytics.madOutliers(
        QueryDef.events(s, dir), cut = MadCut).orderBy("event_type"),
      Some(s"""WITH m AS (
             |  SELECT event_type, quantile_cont(value, 0.5) AS med
             |  FROM events GROUP BY 1),
             |s AS (
             |  SELECT event_type, any_value(med) AS med,
             |         quantile_cont(abs(value - med), 0.5) AS mad
             |  FROM events JOIN m USING (event_type) GROUP BY 1)
             |SELECT event_type, count(*) AS n,
             |       floor((any_value(s.med)) * 1e4 + 0.5) / 1e4 AS med,
             |       floor((any_value(s.mad)) * 1e4 + 0.5) / 1e4 AS mad,
             |       sum(CASE WHEN s.mad > 0
             |                 AND 0.6745 * abs(value - s.med) > $MadCut * s.mad
             |                THEN 1 ELSE 0 END)::bigint AS n_outliers
             |FROM events JOIN s USING (event_type)
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      api = "EventAnalytics.madOutliers",
      desc = "Robust MAD outlier flags with interpolated median cut — approx-quantile based, no global sort."),

    // ---- exact per-type value quantiles ----------------------------------
    // Spark's exact `percentile` vs DuckDB quantile_cont — both
    // interpolate linearly at rank q·(n−1); stable-rounded to 4 decimals.
    "ev_value_quantiles" -> QueryDef(
      (s, dir) => graft.events.EventAnalytics.valueQuantiles(
        QueryDef.events(s, dir)).orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             |  floor((quantile_cont(value, 0.25)) * 1e4 + 0.5) / 1e4 AS p25,
             |  floor((quantile_cont(value, 0.50)) * 1e4 + 0.5) / 1e4 AS p50,
             |  floor((quantile_cont(value, 0.90)) * 1e4 + 0.5) / 1e4 AS p90,
             |  floor((quantile_cont(value, 0.99)) * 1e4 + 0.5) / 1e4 AS p99
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      api = "EventAnalytics.valueQuantiles",
      desc = "Per-type value quantiles (exact grid via window ranks) — the distribution report."),

    // ---- first-order Markov transition matrix ----------------------------
    "ev_markov_transitions" -> QueryDef(
      (s, dir) => graft.events.EventAnalytics.markovTransitions(
        QueryDef.events(s, dir)).orderBy("from_type", "to_type"),
      Some(markovSql),
      api = "EventAnalytics.markovTransitions",
      desc = "Event-type Markov transition matrix via lag over per-user ordered streams."),

    // ---- streaming Markov transitions, batch form ------------------------
    // single-batch run of streamMarkov ≡ the batch lag-window operator
    // (per-key (us, id) sort), so after the count/normalize rollup the
    // ev_markov_transitions oracle applies verbatim; cross-batch state
    // is spec-tested in StreamingSpec.
    // ---- streaming cohort retention (batch form, shares ev_retention's
    // oracle): first event pins the cohort, each later event emits its
    // day-offset once; groupBy(cohort, offset) is the retention matrix.
    "st_retention" -> QueryDef(
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val epoch = to_date(lit("1970-01-01"))
        val ev = QueryDef.events(s, dir)
          .select(col("user_id").cast("string").as("key"),
            datediff(to_date(col("ts")), epoch).cast("int").as("day"),
            unix_micros(col("ts")).as("us"), col("event_id").cast("long").as("id"))
          .as[StreamingOps.RetentionEvent]
        StreamingOps.streamRetention(ev, maxOffsetDays = 30).toDF()
          .groupBy(col("cohort"), col("offset"))
          .agg(count(lit(1)).as("users"))
          .select(
            date_format(date_add(epoch, col("cohort")), "yyyy-MM-dd").as("cohort_day"),
            col("offset").cast("int").as("day_offset"), col("users"))
          .orderBy("cohort_day", "day_offset")
      },
      Some(retentionSql),
      api = "StreamingOps.streamRetention",
      desc = "Streaming retention with per-user first-seen state."),

    "st_markov" -> QueryDef(
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val ev = QueryDef.events(s, dir)
          .select(col("user_id").cast("string").as("key"),
            col("event_type").as("typ"), unix_micros(col("ts")).as("us"),
            col("event_id").as("id"))
          .as[StreamingOps.MarkovEvent]
        val trans = StreamingOps.streamMarkov(ev).toDF()
          .groupBy(col("fromType").as("from_type"), col("toType").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("from_type")
        trans.withColumn("p", Num.stableRound(col("n") / sum(col("n")).over(w), 6))
          .orderBy("from_type", "to_type")
      },
      Some(markovSql),
      api = "StreamingOps.streamMarkov",
      desc = "Streaming Markov transitions: last-state-per-user keyed state."),

    // ---- mergeable HLL sketches with an honest tolerance gate ------------
    // the 100-TB architecture: per-DAY DataSketches HLL partials built
    // map-side, union-merged across days, estimated once — distinct
    // counting without re-shuffling raw ids. DuckDB can't replay the
    // sketch, so the oracle checks the exact count plus a pinned
    // within-5% invariant (`hll_ok` must be true) — the mh_mllib-style
    // invariant-oracle, honest rather than rows-only.
    "ev_hll_users" -> QueryDef(
      (s, dir) => {
        val ev = QueryDef.events(s, dir)
        val daily = ev
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val merged = daily.groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
          .join(merged, Seq("event_type"))
          .select(col("event_type"), col("exact_users"),
            (abs(col("est") - col("exact_users"))
              <= col("exact_users") * lit(0.05)).as("hll_ok"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS exact_users,
             |       true AS hll_ok
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      api = "approx_count_distinct",
      desc = "Distinct users per type, exact + HLL sketch with pinned within-5% invariant oracle."),

    // ---- rolling z-score anomaly signal ----------------------------------
    "ev_rolling_zscore" -> QueryDef(
      (s, dir) => graft.events.EventAnalytics.rollingZScore(
        QueryDef.events(s, dir)).orderBy("event_id"),
      Some("""WITH w AS (
             |  SELECT event_id, user_id,
             |         count(value) OVER win AS n,
             |         avg(value) OVER win AS mean,
             |         stddev_samp(value) OVER win AS sd,
             |         value
             |  FROM events
             |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
             |                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
             |SELECT event_id, user_id, n AS n_prev,
             |       floor((CASE WHEN sd > 0 THEN (value - mean) / sd
             |                   ELSE 0.0 END) * 1e4 + 0.5) / 1e4 AS z
             |FROM w WHERE n >= 10 ORDER BY event_id""".stripMargin),
      api = "EventAnalytics.rollingZScore",
      desc = "Rolling z-score anomaly signal over a trailing event window per key."),

    // ---- Z-order (Morton) layout statistics ------------------------------
    "ev_zorder_stats" -> QueryDef(
      (s, dir) => graft.events.EventAnalytics.zOrderStats(
        QueryDef.events(s, dir)).orderBy("bucket"),
      Some {
        val z = Num.zOrder16Sql("a16", "b16")
        s"""WITH e AS (
           |  SELECT user_id AS u, (epoch_ns(ts) // 1000) // 3600000000 AS hr
           |  FROM events),
           |bounds AS (
           |  SELECT min(u) AS ulo, max(u) AS uhi,
           |         min(hr) AS hlo, max(hr) AS hhi FROM e),
           |nrm AS (
           |  SELECT u, hr,
           |         (u - ulo) * 65535 // greatest(uhi - ulo, 1) AS a16,
           |         (hr - hlo) * 65535 // greatest(hhi - hlo, 1) AS b16
           |  FROM e, bounds),
           |zv AS (SELECT u, hr, $z AS z FROM nrm)
           |SELECT (z >> 26)::int AS bucket, count(*) AS n,
           |       count(DISTINCT u) AS users,
           |       (max(hr) - min(hr))::bigint AS hour_span
           |FROM zv GROUP BY 1 ORDER BY 1""".stripMargin
      },
      api = "EventAnalytics.zOrderStats",
      desc = "Z-order (Morton) interleave of (ts, user) with per-file-bucket min/max overlap stats — the layout-clustering evidence.",
      auditAllow = Some("one-row dimension-bounds broadcast into the range normalization (EventAnalytics.zOrderStats)")),

    // ---- streaming funnel, batch form ------------------------------------
    // single-batch run of streamFunnel: greedy advancement over the
    // per-key (us, id)-sorted feed ≡ the batch min-time chaining, so the
    // ev_funnel oracle applies verbatim. Cross-batch state and late-data
    // behavior are spec-tested in StreamingSpec. Stages with no users
    // are kept as zero rows via the static stage frame (matching the
    // batch operator's all-stages output).
    "st_funnel" -> QueryDef(
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val stages = Seq("signup", "view", "purchase")
        val idx = stages.zipWithIndex
          .foldLeft(lit(0)) { case (acc, (n, i)) =>
            when(col("event_type") === n, i + 1).otherwise(acc)
          }
        val ev = QueryDef.events(s, dir)
          .filter(col("event_type").isin(stages: _*))
          .select(col("user_id").cast("string").as("key"),
            idx.as("stage"), unix_micros(col("ts")).as("us"),
            col("event_id").as("id"))
          .as[StreamingOps.FunnelEvent]
        val counts = StreamingOps.streamFunnel(ev, stages.size, 7 * 86400L)
          .toDF().groupBy("stage").agg(count(lit(1)).as("n"))
        stages.zipWithIndex.map { case (n, i) => (i + 1, n) }
          .toDF("stage", "event_type")
          .join(counts, Seq("stage"), "left")
          .select(col("stage"), col("event_type"),
            coalesce(col("n"), lit(0L)).as("users"))
          .orderBy("stage")
      },
      Some(funnelSql),
      api = "StreamingOps.streamFunnel",
      desc = "Streaming funnel: per-user O(1) stage-progress state, population-bounded."),

    // ---- streaming CDC compaction, batch form ----------------------------
    // single-batch run of streamCompactLatest: state starts empty, each
    // key emits exactly its winning row ≡ compactLatest, so the
    // ev_compact_latest oracle applies verbatim. Cross-batch advance/
    // suppress semantics are spec-tested in StreamingSpec.
    "st_compact_latest" -> QueryDef(
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val recs = QueryDef.events(s, dir)
          .select(col("user_id").as("userId"), col("event_type").as("eventType"),
            col("event_id").as("eventId"), col("ts"), col("value"))
          .as[StreamingOps.CompactRecord]
        StreamingOps.streamCompactLatest(recs).toDF()
          .select(col("userId").as("user_id"), col("eventType").as("event_type"),
            col("eventId").as("event_id"), unix_micros(col("ts")).as("ts_us"),
            Num.stableRound(col("value"), 6).as("value"))
          .orderBy("user_id", "event_type")
      },
      Some(compactLatestSql),
      api = "StreamingOps.streamCompactLatest",
      desc = "Streaming CDC compaction with keyed state — one row per key, updates collapse in-state.")
  )
}
