package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{CandidatePair, TokenRecord}

/** Structured Streaming paths driven end-to-end with MemoryStream; the
  * batch run of the SAME transform is the oracle. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedEventAgg: streaming result equals batch result") {
    val rows = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:45:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "click", 4.0),
      (ts("2024-01-01 10:10:00"), "view", 8.0))
    val batch = StreamingOps.windowedEventAgg(
      rows.toDF("ts", "event_type", "value")).collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val sq = StreamingOps.windowedEventAgg(
        mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      sq.processAllAvailable()
      val streamed = spark.table("win_agg").collect().toSet
      assert(streamed == batch)
      assert(batch.map(r => (r.getLong(0), r.getString(1), r.getLong(2))) ==
        Set((1704103200L, "click", 2L), (1704106800L, "click", 1L), (1704103200L, "view", 1L)))
    } finally sq.stop()
  }

  test("incrementalTokenBlocks emits each candidate pair exactly once across batches") {
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[TokenRecord]
    val sq = StreamingOps.incrementalTokenBlocks(mem.toDS())
      .writeStream.format("memory").queryName("inc_blocks")
      .outputMode("append").start()
    try {
      // batch 1: l1 and r1 share token t
      mem.addData(TokenRecord("t", "left", "l1"), TokenRecord("t", "right", "r1"))
      sq.processAllAvailable()
      val b1 = spark.table("inc_blocks").as[CandidatePair].collect().toSet
      assert(b1 == Set(CandidatePair("t", "l1", "r1")))
      // batch 2: new left l2 arrives → only the new pairs appear
      mem.addData(TokenRecord("t", "left", "l2"), TokenRecord("t", "left", "l1"))
      sq.processAllAvailable()
      val b2 = spark.table("inc_blocks").as[CandidatePair].collect().toSet
      assert(b2 == Set(CandidatePair("t", "l1", "r1"), CandidatePair("t", "l2", "r1")))
      // batch 3: new right r2 → pairs with ALL known lefts, no repeats
      mem.addData(TokenRecord("t", "right", "r2"))
      sq.processAllAvailable()
      val b3 = spark.table("inc_blocks").as[CandidatePair].collect()
      assert(b3.length == 4)
      assert(b3.toSet == Set(
        CandidatePair("t", "l1", "r1"), CandidatePair("t", "l2", "r1"),
        CandidatePair("t", "l1", "r2"), CandidatePair("t", "l2", "r2")))
    } finally sq.stop()
  }

  test("incrementalTokenBlocks: the cap bounds ADMISSION — state and emission, not just post-hoc muting") {
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[TokenRecord]
    val sq = StreamingOps.incrementalTokenBlocks(mem.toDS(), maxIdsPerSide = 2)
      .writeStream.format("memory").queryName("inc_cap")
      .outputMode("append").start()
    try {
      // a hot FIRST batch: 3 lefts + 2 rights on one token. Only the
      // first 2 lefts (deterministic (side,id) order) may admit — the
      // pre-fix form emitted the full 3×2 cross product here and stored
      // all 3 lefts (unbounded state on exactly the hot token)
      mem.addData(
        TokenRecord("t", "left", "l1"), TokenRecord("t", "left", "l2"),
        TokenRecord("t", "left", "l3"),
        TokenRecord("t", "right", "r1"), TokenRecord("t", "right", "r2"))
      sq.processAllAvailable()
      val b1 = spark.table("inc_cap").as[CandidatePair].collect().toSet
      assert(b1 == Set(
        CandidatePair("t", "l1", "r1"), CandidatePair("t", "l1", "r2"),
        CandidatePair("t", "l2", "r1"), CandidatePair("t", "l2", "r2")), b1.toString)
      // later batches cannot grow the full side either
      mem.addData(TokenRecord("t", "left", "l4"), TokenRecord("t", "right", "r3"))
      sq.processAllAvailable()
      val b2 = spark.table("inc_cap").as[CandidatePair].collect().toSet
      assert(b2 == b1, s"full left side must stop admitting: ${b2 -- b1}")
    } finally sq.stop()
  }

  test("ttl intervals: a day is 24 hours, months are rejected loudly") {
    assert(StreamingOps.ttlMillis("2 hours") == 2L * 3600 * 1000)
    assert(StreamingOps.ttlMillis("1 day") == 24L * 3600 * 1000)
    assert(StreamingOps.ttlMillis("1 day 2 hours") == 26L * 3600 * 1000)
    for (bad <- Seq("1 month", "1 year", "1 month 1 day")) {
      val e = intercept[IllegalArgumentException](StreamingOps.ttlMillis(bad))
      assert(e.getMessage.contains(bad) && e.getMessage.contains("month"), e.getMessage)
    }
    intercept[IllegalArgumentException](StreamingOps.ttlMillis("0 seconds"))
  }

  test("streamExactDedupWithTtl: an older in-watermark re-sight never moves the horizon backward") {
    import graft.streaming.StreamingOps.{DedupKeep, TimedDedupRecord}
    // the StreamingCuration monotone-horizon rule, back-ported: with a
    // 4 h watermark delay, the 10:00 re-sight of content first seen at
    // 12:00 must not drag the TTL horizon from 14:30 back to 12:30 —
    // pre-fix, the filler batch pushes the watermark to 13:30, the
    // dragged-back timeout fires, and the 17:40 re-sight re-admits
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[TimedDedupRecord]
    val sq = StreamingOps.streamExactDedupWithTtl(
        mem.toDS(), ttl = "150 minutes", watermark = "4 hours")
      .writeStream.format("memory").queryName("sd_ttl_mono")
      .outputMode("append").start()
    def keeps(): Seq[DedupKeep] =
      spark.table("sd_ttl_mono").as[DedupKeep].collect().toSeq
    try {
      mem.addData(TimedDedupRecord("k", "a", ts("2024-01-01 12:00:00")))
      sq.processAllAvailable()
      mem.addData(TimedDedupRecord("k", "b", ts("2024-01-01 10:00:00")))
      sq.processAllAvailable()
      mem.addData(TimedDedupRecord("x", "f", ts("2024-01-01 17:30:00")))
      sq.processAllAvailable()
      mem.addData(TimedDedupRecord("k", "c", ts("2024-01-01 17:40:00")))
      sq.processAllAvailable()
      assert(keeps().filter(_.key == "k") == Seq(DedupKeep("k", "a")),
        s"horizon must be monotone in event time: ${keeps()}")
    } finally sq.stop()
  }

  test("streamExactDedupWithTtl: same-batch re-sight past the horizon re-admits (on-access check)") {
    import graft.streaming.StreamingOps.{DedupKeep, TimedDedupRecord}
    // with idle micro-batches off, the timeout callback cannot fire
    // between waves — the access-time horizon check is the only guard
    // (the StreamingCuration stale-canonical rule, back-ported)
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val prev = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val mem = MemoryStream[TimedDedupRecord]
    val sq = StreamingOps.streamExactDedupWithTtl(
        mem.toDS(), ttl = "150 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sd_ttl_access")
      .outputMode("append").start()
    def keeps(): Seq[DedupKeep] =
      spark.table("sd_ttl_access").as[DedupKeep].collect().toSeq
    try {
      mem.addData(TimedDedupRecord("k", "a", ts("2024-01-01 10:00:00")))
      sq.processAllAvailable()
      // filler: the NEXT batch's watermark (16:00) is past 10:00 + 150m
      mem.addData(TimedDedupRecord("x", "f", ts("2024-01-01 16:00:00")))
      sq.processAllAvailable()
      mem.addData(TimedDedupRecord("k", "c", ts("2024-01-01 16:10:00")))
      sq.processAllAvailable()
      assert(keeps().filter(_.key == "k").map(_.id).sorted == Seq("a", "c"),
        s"expired state must evict on access and re-admit: ${keeps()}")
    } finally {
      sq.stop()
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev)
    }
  }

  test("incrementalTokenBlocksWithTtl: an older in-watermark batch never expires live entries") {
    import graft.streaming.StreamingOps.TimedTokenRecord
    // whole-token timeout must follow the newest RETAINED sighting, not
    // the batch max: pre-fix, the late 10:00 right record dragged token
    // t's timeout to 12:30; the filler watermark (13:30) fired it and
    // deleted L1 (seen 12:00, still within its 150-minute ttl), so the
    // 17:40 arrival found an empty bucket and emitted nothing
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[TimedTokenRecord]
    val sq = StreamingOps.incrementalTokenBlocksWithTtl(
        mem.toDS(), maxIdsPerSide = 100,
        ttl = "150 minutes", watermark = "4 hours")
      .writeStream.format("memory").queryName("tk_ttl_mono")
      .outputMode("append").start()
    def pairs(): Set[(String, String, String)] =
      spark.table("tk_ttl_mono").as[CandidatePair].collect()
        .map(p => (p.key, p.leftId, p.rightId)).toSet
    try {
      mem.addData(TimedTokenRecord("t", "left", "L1", ts("2024-01-01 12:00:00")))
      sq.processAllAvailable()
      mem.addData(TimedTokenRecord("t", "right", "R1", ts("2024-01-01 10:00:00")))
      sq.processAllAvailable()
      assert(pairs() == Set(("t", "L1", "R1")), pairs().toString)
      mem.addData(TimedTokenRecord("u", "left", "F", ts("2024-01-01 17:30:00")))
      sq.processAllAvailable()
      // L1's true horizon is 12:00 + 150m = 14:30 > wm 13:30 → alive
      mem.addData(TimedTokenRecord("t", "right", "R2", ts("2024-01-01 17:40:00")))
      sq.processAllAvailable()
      assert(pairs().contains(("t", "L1", "R2")),
        s"the dragged-back timeout deleted a live entry: ${pairs()}")
    } finally sq.stop()
  }

  test("rateLimitWithTtl: a late in-watermark event never re-opens a full window early") {
    // maxPerWindow=1, 6 h windows, ttl 5 h, delay 4 h. e1@12:30 fills
    // window [12:00, 18:00). The late e2@10:30 lands in the PRIOR
    // window (rejected) — pre-fix it dragged the timeout from 17:30
    // back to 15:30; the filler watermark (16:00) fired it, and
    // e3@16:30 (SAME still-open window) was over-admitted as a fresh
    // count. Post-fix the state survives and e3 is rejected.
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[StreamingOps.RateRecord]
    val sq = StreamingOps.rateLimitWithTtl(
        mem.toDS(), maxPerWindow = 1, windowSeconds = 6 * 3600L,
        ttl = "5 hours", watermark = "4 hours")
      .writeStream.format("memory").queryName("rl_ttl_mono")
      .outputMode("append").start()
    def admitted(): Seq[String] =
      spark.table("rl_ttl_mono").as[StreamingOps.RateAdmit]
        .collect().toSeq.filter(_.key == "k").map(_.id).sorted
    try {
      mem.addData(StreamingOps.RateRecord("k", "e1", ts("2024-01-01 12:30:00")))
      sq.processAllAvailable()
      mem.addData(StreamingOps.RateRecord("k", "e2", ts("2024-01-01 10:30:00")))
      sq.processAllAvailable()
      mem.addData(StreamingOps.RateRecord("x", "f", ts("2024-01-01 20:00:00")))
      sq.processAllAvailable()
      mem.addData(StreamingOps.RateRecord("k", "e3", ts("2024-01-01 16:30:00")))
      sq.processAllAvailable()
      assert(admitted() == Seq("e1"),
        s"window [12:00,18:00) is full; e3 must be rejected: ${admitted()}")
    } finally sq.stop()
  }

  test("streaming tokenize feeds the incremental blocker end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[(String, String, String)]
    val records = StreamingOps.tokenize(
      mem.toDF().toDF("id", "text", "side"), "id", "text", "side")
    val sq = StreamingOps.incrementalTokenBlocks(records)
      .writeStream.format("memory").queryName("e2e_blocks")
      .outputMode("append").start()
    try {
      mem.addData(("a1", "john mcexample", "left"), ("b1", "john smith", "right"))
      sq.processAllAvailable()
      val got = spark.table("e2e_blocks").as[CandidatePair].collect().toSet
      assert(got == Set(CandidatePair("john", "a1", "b1")))
    } finally sq.stop()
  }

  test("intervalJoin: streaming result equals batch result") {
    // clicks (left) and purchases (right); bound 30 min
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 12:00:00"), 101L),
      (2L, ts("2024-01-01 10:00:00"), 102L))
    val buys = Seq(
      (1L, ts("2024-01-01 10:20:00"), 200L), // 20 min after click 100 → match
      (1L, ts("2024-01-01 11:00:00"), 201L), // 60 min after click 100 → no
      (2L, ts("2024-01-01 10:40:00"), 202L)) // 40 min after click 102 → no
    def df(rows: Seq[(Long, Timestamp, Long)]) =
      rows.toDF("user_id", "ts", "event_id")
    val batch = StreamingOps.intervalJoin(df(clicks), df(buys)).collect().toSet
    assert(batch.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Set((1L, 100L, 200L)))

    implicit val sqlCtx = spark.sqlContext
    val ml = MemoryStream[(Long, Timestamp, Long)]
    val mr = MemoryStream[(Long, Timestamp, Long)]
    val sq = StreamingOps.intervalJoin(
        ml.toDF().toDF("user_id", "ts", "event_id"),
        mr.toDF().toDF("user_id", "ts", "event_id"))
      .writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      ml.addData(clicks: _*)
      mr.addData(buys: _*)
      sq.processAllAvailable()
      assert(spark.table("ij").collect().toSet == batch)
    } finally sq.stop()
  }

  test("asofJoin: brute-force parity incl. ties, tolerance misses, no-match") {
    def df(rows: Seq[(Long, Timestamp, Long)]) =
      rows.toDF("user_id", "ts", "event_id")
    // hand-built cases: equal-ts right matches; two rights at the same
    // matching ts → larger id; right newer than left never matches;
    // match outside tolerance nulls out; keyless left keeps its row
    val rights = Seq(
      (1L, ts("2024-01-01 10:00:00"), 200L),
      (1L, ts("2024-01-01 10:30:00"), 201L),
      (1L, ts("2024-01-01 10:30:00"), 202L), // tie with 201 → 202 wins
      (2L, ts("2024-01-01 08:00:00"), 203L), // > 30 min before every left
      (3L, ts("2024-01-01 11:00:00"), 204L)) // after the only key-3 left
    val lefts = Seq(
      (1L, ts("2024-01-01 10:30:00"), 100L), // equal ts → right 202
      (1L, ts("2024-01-01 10:10:00"), 101L), // → right 200
      (2L, ts("2024-01-01 10:00:00"), 102L), // tolerance miss → null
      (3L, ts("2024-01-01 10:00:00"), 103L), // no earlier right → null
      (4L, ts("2024-01-01 10:00:00"), 104L)) // key absent on right → null
    val got = StreamingOps.asofJoin(df(lefts), df(rights), "user_id", 1800L)
      .collect()
      .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    assert(got == Set((100L, 202L), (101L, 200L), (102L, -1L),
      (103L, -1L), (104L, -1L)))

    // randomized parity vs a driver-side brute force (dup timestamps on
    // both sides, several keys)
    val rnd = new scala.util.Random(7)
    def randRows(n: Int, idBase: Long) = (0 until n).map { i =>
      (rnd.nextInt(4).toLong,
        new Timestamp(1704100000000L + rnd.nextInt(40) * 60000L),
        idBase + i)
    }
    val l = randRows(60, 1000); val r = randRows(80, 5000)
    val tol = 600L
    val expect = l.map { case (k, lts, lid) =>
      val cands = r.filter { case (rk, rts, _) =>
        rk == k && rts.getTime <= lts.getTime &&
          rts.getTime >= lts.getTime - tol * 1000L }
      val m = if (cands.isEmpty) -1L
        else cands.maxBy { case (_, rts, rid) => (rts.getTime, rid) }._3
      (lid, m)
    }.toSet
    val got2 = StreamingOps.asofJoin(df(l), df(r), "user_id", tol)
      .collect()
      .map(x => (x.getLong(1), if (x.isNullAt(2)) -1L else x.getLong(2)))
      .toSet
    assert(got2 == expect)
  }

  test("lmScore composes on a stream: static reference model, streaming ≡ batch") {
    import graft.text.TextAnalysis
    val ref = Seq(("r1", "foo bar foo")).toDF("doc_id", "text")
    val rows = Seq(("d1", "foo zzz"), ("d2", "bar bar foo"), ("d3", "foo foo"))
    val batch = TextAnalysis.lmScore(rows.toDF("doc_id", "text"), ref)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val sq = TextAnalysis.lmScore(mem.toDF().toDF("doc_id", "text"), ref)
      .writeStream.format("memory").queryName("lm_stream")
      .outputMode("complete").start()
    try {
      mem.addData(rows.take(1): _*)
      sq.processAllAvailable()
      mem.addData(rows.drop(1): _*)
      sq.processAllAvailable()
      val streamed = spark.table("lm_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch)
    } finally sq.stop()
  }

  test("asofJoinBucketed: bucket-width-invariant vs plain asofJoin, incl. degenerate widths") {
    def df(rows: Seq[(Long, Timestamp, Long)]) =
      rows.toDF("user_id", "ts", "event_id")
    val rnd = new scala.util.Random(13)
    def randRows(n: Int, idBase: Long) = (0 until n).map { i =>
      (rnd.nextInt(3).toLong,
        new Timestamp(1704100000000L + rnd.nextInt(7200) * 1000L),
        idBase + i)
    }
    val l = randRows(80, 1000); val r = randRows(100, 5000)
    val tol = 900L
    def norm(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) -1L else x.getLong(2))).toSet
    val plain = norm(StreamingOps.asofJoin(df(l), df(r), "user_id", tol))
    // wide (one bucket), medium (many buckets incl. right-empty ones
    // that must still carry), and 1-second degenerate buckets
    for (w <- Seq(86400L, 600L, 1L)) {
      val b = norm(StreamingOps.asofJoinBucketed(df(l), df(r), "user_id", tol, w))
      assert(b == plain, s"bucketSeconds=$w diverged")
    }
  }

  test("streamAsofJoin: ordered-feed parity with batch, cross-batch state, late-left divergence") {
    import graft.streaming.StreamingOps.{AsofMatch, AsofRecord}
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx = spark.sqlContext
    val us0 = 1704100000000000L
    def rec(k: String, side: Int, offSec: Long, id: Long) =
      AsofRecord(k, side, us0 + offSec * 1000000L, id)

    // event-time-ordered feed split across 3 micro-batches: the right in
    // batch 1 must match lefts arriving in batches 2 and 3 (within
    // tolerance) purely from state
    val mem = MemoryStream[AsofRecord]
    val sq = StreamingOps.streamAsofJoin(mem.toDS(), toleranceSec = 600L)
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      mem.addData(rec("u1", 0, 0L, 500L), rec("u1", 1, 10L, 1L))
      sq.processAllAvailable()
      mem.addData(rec("u1", 1, 300L, 2L), rec("u1", 0, 400L, 501L))
      sq.processAllAvailable()
      mem.addData(rec("u1", 1, 900L, 3L), rec("u1", 1, 2000L, 4L))
      sq.processAllAvailable()
      val got = spark.table("asof_stream").as[AsofMatch].collect()
        .map(m => (m.lId, m.rId.getOrElse(-1L))).toMap
      // l1 ← r500 (same batch); l2 ← r500 (carried state, batch 2 sorts
      // the later right AFTER l2 by event time); l3 ← r501; l4 at +2000s
      // is 1600s past r501 → tolerance miss
      assert(got == Map(1L -> 500L, 2L -> 500L, 3L -> 501L, 4L -> -1L))

      // the same feed as ONE batch run equals the batch asofJoin contract
      val all = Seq(rec("u1", 0, 0L, 500L), rec("u1", 1, 10L, 1L),
        rec("u1", 1, 300L, 2L), rec("u1", 0, 400L, 501L),
        rec("u1", 1, 900L, 3L), rec("u1", 1, 2000L, 4L))
      val oneBatch = StreamingOps.streamAsofJoin(all.toDS(), 600L)
        .collect().map(m => (m.lId, m.rId.getOrElse(-1L))).toMap
      assert(oneBatch == got)
    } finally sq.stop()

    // stated late-data divergence: a left older than the retained right
    // finds nothing, even though a still-older right once existed
    val mem2 = MemoryStream[AsofRecord]
    val sq2 = StreamingOps.streamAsofJoin(mem2.toDS(), toleranceSec = 600L)
      .writeStream.format("memory").queryName("asof_late")
      .outputMode("append").start()
    try {
      mem2.addData(rec("u1", 0, 0L, 500L), rec("u1", 0, 400L, 501L))
      sq2.processAllAvailable()
      mem2.addData(rec("u1", 1, 100L, 9L)) // late left; batch op would say 500
      sq2.processAllAvailable()
      val late = spark.table("asof_late").as[AsofMatch].collect()
      assert(late.map(m => (m.lId, m.rId)).toSeq == Seq((9L, None)))
    } finally sq2.stop()
  }

  test("intervalJoin left_outer emits unmatched lefts after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val ml = MemoryStream[(Long, Timestamp, Long)]
    val mr = MemoryStream[(Long, Timestamp, Long)]
    val sq = StreamingOps.intervalJoin(
        ml.toDF().toDF("user_id", "ts", "event_id"),
        mr.toDF().toDF("user_id", "ts", "event_id"),
        watermark = "1 hour", joinType = "left_outer")
      .writeStream.format("memory").queryName("ij_outer")
      .outputMode("append").start()
    try {
      // a click with no purchase; matched pair for another user
      ml.addData((1L, ts("2024-01-01 10:00:00"), 100L),
        (2L, ts("2024-01-01 10:00:00"), 101L))
      mr.addData((2L, ts("2024-01-01 10:10:00"), 200L))
      sq.processAllAvailable()
      // push both watermarks far past 10:00 + bound so the unmatched
      // left row can be finalized and emitted with a null right side
      ml.addData((9L, ts("2024-01-01 20:00:00"), 900L))
      mr.addData((9L, ts("2024-01-01 20:00:00"), 901L))
      sq.processAllAvailable()
      val got = spark.table("ij_outer").collect()
        .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(got.contains((101L, 200L)), got.toString) // matched pair
      assert(got.contains((100L, -1L)), got.toString)  // unmatched click
    } finally sq.stop()
  }

  test("intervalJoin drops right-side state behind the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val ml = MemoryStream[(Long, Timestamp, Long)]
    val mr = MemoryStream[(Long, Timestamp, Long)]
    val sq = StreamingOps.intervalJoin(
        ml.toDF().toDF("user_id", "ts", "event_id"),
        mr.toDF().toDF("user_id", "ts", "event_id"),
        watermark = "1 hour")
      .writeStream.format("memory").queryName("ij_wm")
      .outputMode("append").start()
    try {
      // advance both watermarks far past 10:00
      ml.addData((9L, ts("2024-01-02 10:00:00"), 900L))
      mr.addData((9L, ts("2024-01-02 10:00:00"), 901L))
      sq.processAllAvailable()
      // a click arriving a DAY late cannot match anything: the right
      // side's matching purchases were never buffered this far back
      ml.addData((9L, ts("2024-01-01 10:00:00"), 999L))
      sq.processAllAvailable()
      val got = spark.table("ij_wm").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((900L, 901L)), got.toString)
    } finally sq.stop()
  }

  test("streamExactDedup keeps the first occurrence across batches") {
    import graft.streaming.StreamingOps.{DedupKeep, DedupRecord}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[DedupRecord]
    val sq = StreamingOps.streamExactDedup(mem.toDS())
      .writeStream.format("memory").queryName("sd")
      .outputMode("append").start()
    try {
      // batch 1: two records for k1 → the (seq, id)-minimal one wins
      mem.addData(DedupRecord("k1", "b", 2L), DedupRecord("k1", "a", 1L))
      sq.processAllAvailable()
      assert(spark.table("sd").as[DedupKeep].collect().toSet ==
        Set(DedupKeep("k1", "a")))
      // batch 2: an even earlier k1 record arrives late → already kept,
      // nothing emitted; a new key emits
      mem.addData(DedupRecord("k1", "z", 0L), DedupRecord("k2", "c", 5L))
      sq.processAllAvailable()
      assert(spark.table("sd").as[DedupKeep].collect().toSet ==
        Set(DedupKeep("k1", "a"), DedupKeep("k2", "c")))
    } finally sq.stop()
  }

  test("streamExactDedupWithTtl re-admits a key after its TTL expires") {
    import graft.streaming.StreamingOps.{DedupKeep, TimedDedupRecord}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[TimedDedupRecord]
    val sq = StreamingOps.streamExactDedupWithTtl(
        mem.toDS(), ttl = "1 hour", watermark = "30 minutes")
      .writeStream.format("memory").queryName("sd_ttl")
      .outputMode("append").start()
    try {
      // batch 1: k emits; TTL runs to 11:00
      mem.addData(TimedDedupRecord("k", "a", ts("2024-01-01 10:00:00")))
      sq.processAllAvailable()
      // batch 2: duplicate within the horizon → suppressed (TTL slides to 11:30)
      mem.addData(TimedDedupRecord("k", "b", ts("2024-01-01 10:30:00")))
      sq.processAllAvailable()
      assert(spark.table("sd_ttl").as[DedupKeep].collect().toSeq ==
        Seq(DedupKeep("k", "a")))
      // batch 3: another key far ahead pushes the watermark past 11:30
      // → k's state times out and is removed
      mem.addData(TimedDedupRecord("other", "x", ts("2024-01-01 14:00:00")))
      sq.processAllAvailable()
      // batch 4: k re-admitted → emits again with the new id
      mem.addData(TimedDedupRecord("k", "c", ts("2024-01-01 14:10:00")))
      sq.processAllAvailable()
      val got = spark.table("sd_ttl").as[DedupKeep].collect().toSeq
      assert(got.count(r => r.key == "k") == 2, got.toString)
      assert(got.contains(DedupKeep("k", "c")), got.toString)
    } finally sq.stop()
  }

  test("streamMinHashNearDupWithTtl: in-horizon pairs, per-entry eviction, bucket timeout re-admit") {
    import graft.streaming.StreamingOps.{NearDupPair, TimedDocRecord}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val T = Seq("alpha", "beta", "gamma", "delta") // one shared signature/bucket set
    val mem = MemoryStream[TimedDocRecord]
    // watermark 0s → wm = max event ts seen in PRIOR batches (tight horizon)
    val sq = StreamingOps.streamMinHashNearDupWithTtl(
        mem.toDS(), 16, 4, minEst = 0.99, maxIdsPerBucket = 100,
        ttl = "1 hour", watermark = "0 seconds")
      .writeStream.format("memory").queryName("nd_ttl")
      .outputMode("append").start()
    def pairs(): Set[(String, String)] =
      spark.table("nd_ttl").as[NearDupPair].collect().map(p => (p.idA, p.idB)).toSet
    try {
      // A alone, then B within the horizon → (A,B)
      mem.addData(TimedDocRecord("A", T, ts("2024-01-01 10:00:00")))
      sq.processAllAvailable()
      mem.addData(TimedDocRecord("B", T, ts("2024-01-01 10:50:00")))
      sq.processAllAvailable()
      assert(pairs() == Set(("A", "B")))
      // C keeps the bucket alive and advances the watermark to 11:45
      mem.addData(TimedDocRecord("C", T, ts("2024-01-01 11:45:00")))
      sq.processAllAvailable()
      assert(pairs() == Set(("A", "B"), ("A", "C"), ("B", "C")))
      // D at 12:30: floor = 11:45 − 1 h = 10:45 → A (10:00) is evicted
      // from a STILL-LIVE bucket; B and C survive
      mem.addData(TimedDocRecord("D", T, ts("2024-01-01 12:30:00")))
      sq.processAllAvailable()
      assert(pairs() == Set(("A", "B"), ("A", "C"), ("B", "C"), ("B", "D"), ("C", "D")),
        s"A must not pair with D after eviction: ${pairs()}")
      // far-future unrelated doc pushes wm past the bucket's timeout
      // (13:30); the NEXT batch (bucket has no data, timeout < wm) fires
      // hasTimedOut → whole-bucket state removed
      mem.addData(TimedDocRecord("X", Seq("zeta", "eta"), ts("2024-01-01 16:00:00")))
      sq.processAllAvailable()
      mem.addData(TimedDocRecord("Y", Seq("theta", "iota"), ts("2024-01-01 16:05:00")))
      sq.processAllAvailable()
      // E re-admits silently (nothing stored), F then pairs with E only
      mem.addData(TimedDocRecord("E", T, ts("2024-01-01 16:10:00")))
      sq.processAllAvailable()
      val before = pairs()
      assert(!before.exists(p => p._1 == "E" || p._2 == "E"), before.toString)
      mem.addData(TimedDocRecord("F", T, ts("2024-01-01 16:20:00")))
      sq.processAllAvailable()
      assert(pairs() -- before == Set(("E", "F")), (pairs() -- before).toString)
    } finally sq.stop()
  }

  test("incrementalTokenBlocksWithTtl: in-horizon pairs, per-entry eviction, timeout re-admit") {
    import graft.streaming.StreamingOps.{CandidatePair, TimedTokenRecord}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[TimedTokenRecord]
    val sq = StreamingOps.incrementalTokenBlocksWithTtl(
        mem.toDS(), maxIdsPerSide = 100, ttl = "1 hour", watermark = "0 seconds")
      .writeStream.format("memory").queryName("tk_ttl")
      .outputMode("append").start()
    def got(): Seq[CandidatePair] =
      spark.table("tk_ttl").as[CandidatePair].collect().toSeq
    try {
      mem.addData(TimedTokenRecord("k", "left", "l1", ts("2024-01-01 10:00:00")))
      sq.processAllAvailable()
      mem.addData(TimedTokenRecord("k", "right", "r1", ts("2024-01-01 10:30:00")))
      sq.processAllAvailable()
      assert(got().toSet == Set(CandidatePair("k", "l1", "r1")))
      // r2 within the horizon pairs with l1 and advances wm to 11:20
      mem.addData(TimedTokenRecord("k", "right", "r2", ts("2024-01-01 11:20:00")))
      sq.processAllAvailable()
      assert(got().toSet == Set(
        CandidatePair("k", "l1", "r1"), CandidatePair("k", "l1", "r2")))
      // l2 at 11:30: floor = 11:20 − 1 h = 10:20 → l1 (10:00) evicted,
      // r1 (10:30) and r2 (11:20) survive → l2 pairs with both
      mem.addData(TimedTokenRecord("k", "left", "l2", ts("2024-01-01 11:30:00")))
      sq.processAllAvailable()
      assert(got().toSet == Set(
        CandidatePair("k", "l1", "r1"), CandidatePair("k", "l1", "r2"),
        CandidatePair("k", "l2", "r1"), CandidatePair("k", "l2", "r2")))
      // far-future record on another token advances wm past k's timeout
      // (12:30); the following batch (k has no data) fires hasTimedOut →
      // k's state drops entirely
      mem.addData(TimedTokenRecord("adv", "left", "z", ts("2024-01-01 16:00:00")))
      sq.processAllAvailable()
      mem.addData(TimedTokenRecord("adv2", "left", "z2", ts("2024-01-01 16:05:00")))
      sq.processAllAvailable()
      // the SAME ids re-admit and the pair re-emits (the documented
      // duplicate-across-horizons divergence; downstream J1 dedupes)
      mem.addData(TimedTokenRecord("k", "left", "l1", ts("2024-01-01 16:10:00")))
      sq.processAllAvailable()
      mem.addData(TimedTokenRecord("k", "right", "r1", ts("2024-01-01 16:20:00")))
      sq.processAllAvailable()
      assert(got().count(_ == CandidatePair("k", "l1", "r1")) == 2, got().toString)
    } finally sq.stop()
  }

  test("streamExactDedupWithTtl agrees with dropDuplicatesWithinWatermark on in-horizon duplicates") {
    // Spark's built-in is the reference semantics for TTL-scoped
    // first-occurrence dedup: run the SAME input through both operators
    // (ttl == watermark delay) and compare the kept keys. Ours
    // additionally carries WHICH id was kept — asserted separately.
    import graft.streaming.StreamingOps.{DedupKeep, TimedDedupRecord}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val feed = Seq(
      Seq(TimedDedupRecord("k", "a", ts("2024-01-01 10:00:00")),
          TimedDedupRecord("u", "x", ts("2024-01-01 10:05:00"))),
      Seq(TimedDedupRecord("k", "b", ts("2024-01-01 10:10:00")), // dup in horizon
          TimedDedupRecord("v", "y", ts("2024-01-01 10:12:00"))))
    val memOurs = MemoryStream[TimedDedupRecord]
    val memRef = MemoryStream[TimedDedupRecord]
    val sqOurs = StreamingOps.streamExactDedupWithTtl(
        memOurs.toDS(), ttl = "30 minutes", watermark = "30 minutes")
      .writeStream.format("memory").queryName("ddw_ours")
      .outputMode("append").start()
    val sqRef = memRef.toDS()
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("key")
      .writeStream.format("memory").queryName("ddw_ref")
      .outputMode("append").start()
    try {
      feed.foreach { batch =>
        memOurs.addData(batch)
        memRef.addData(batch)
        sqOurs.processAllAvailable()
        sqRef.processAllAvailable()
      }
      val ours = spark.table("ddw_ours").as[DedupKeep].collect().toSet
      val ref = spark.table("ddw_ref").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(ours.map(_.key) == ref.keySet)
      assert(ours == Set(DedupKeep("k", "a"), DedupKeep("u", "x"), DedupKeep("v", "y")))
      assert(ref("k") == "a", "built-in also keeps the first arrival")
    } finally { sqOurs.stop(); sqRef.stop() }
  }

  test("rateLimit admits maxPerWindow per key-window across batches and drops late windows") {
    import graft.streaming.StreamingOps.{RateAdmit, RateRecord}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[RateRecord]
    val sq = StreamingOps.rateLimit(mem.toDS(), maxPerWindow = 2, windowSeconds = 3600L)
      .writeStream.format("memory").queryName("rl")
      .outputMode("append").start()
    try {
      val win10 = ts("2024-01-01 10:00:00").toInstant.getEpochSecond // hour-aligned
      val win11 = win10 + 3600L
      val (tsA, tsB, tsE) = (ts("2024-01-01 10:00:00"),
        ts("2024-01-01 10:10:00"), ts("2024-01-01 11:10:00"))
      // batch 1: three records in the 10:00 window → first two admitted
      mem.addData(
        RateRecord("u", "c", ts("2024-01-01 10:20:00")),
        RateRecord("u", "a", tsA),
        RateRecord("u", "b", tsB))
      sq.processAllAvailable()
      assert(spark.table("rl").as[RateAdmit].collect().toSet ==
        Set(RateAdmit("u", "a", tsA, win10, 1), RateAdmit("u", "b", tsB, win10, 2)))
      // batch 2: same window → still capped (state persists); next window
      // admits afresh
      mem.addData(
        RateRecord("u", "d", ts("2024-01-01 10:30:00")),
        RateRecord("u", "e", tsE))
      sq.processAllAvailable()
      assert(spark.table("rl").as[RateAdmit].collect().toSet ==
        Set(RateAdmit("u", "a", tsA, win10, 1), RateAdmit("u", "b", tsB, win10, 2),
          RateAdmit("u", "e", tsE, win11, 1)))
      // batch 3: a record for the now-stale 10:00 window → late, dropped
      mem.addData(RateRecord("u", "f", ts("2024-01-01 10:40:00")))
      sq.processAllAvailable()
      assert(spark.table("rl").count() == 3)
    } finally sq.stop()
  }

  test("streamExactDedupWithTtl agrees with built-in dropDuplicatesWithinWatermark on suppress-then-readmit") {
    import graft.streaming.StreamingOps.{DedupKeep, TimedDedupRecord}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    // same scenario through both operators: duplicate inside the horizon
    // is suppressed, the key re-admits once the horizon has passed
    val m1 = MemoryStream[TimedDedupRecord]
    val m2 = MemoryStream[TimedDedupRecord]
    val sqTtl = StreamingOps.streamExactDedupWithTtl(
        m1.toDS(), ttl = "30 minutes", watermark = "30 minutes")
      .writeStream.format("memory").queryName("cmp_ttl")
      .outputMode("append").start()
    val sqBuiltin = m2.toDS().toDF()
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("key")
      .writeStream.format("memory").queryName("cmp_builtin")
      .outputMode("append").start()
    val batches = Seq(
      Seq(TimedDedupRecord("k", "a", ts("2024-01-01 10:00:00"))),
      Seq(TimedDedupRecord("k", "b", ts("2024-01-01 10:10:00"))), // dup in-horizon
      Seq(TimedDedupRecord("adv", "x", ts("2024-01-01 15:00:00"))), // advance watermark
      Seq(TimedDedupRecord("k", "c", ts("2024-01-01 15:10:00")))) // re-admit
    try {
      batches.foreach { b =>
        m1.addData(b: _*); m2.addData(b: _*)
        sqTtl.processAllAvailable(); sqBuiltin.processAllAvailable()
      }
      val ttlIds = spark.table("cmp_ttl").as[DedupKeep].collect()
        .filter(_.key == "k").map(_.id).toSet
      val builtinIds = spark.table("cmp_builtin").collect()
        .filter(_.getString(0) == "k").map(_.getString(1)).toSet
      assert(ttlIds == Set("a", "c"), ttlIds.toString)
      assert(builtinIds == ttlIds, s"builtin=$builtinIds ttl=$ttlIds")
    } finally { sqTtl.stop(); sqBuiltin.stop() }
  }

  test("rate-limited interval join: two-query streaming handoff equals the batch composition") {
    import graft.streaming.StreamingOps.{RateAdmit, RateRecord}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    // u clicks 3× in one hour (cap 2 → click 102 dropped pre-join);
    // purchases within 30 min of an ADMITTED click match
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 10:05:00"), 101L),
      (1L, ts("2024-01-01 10:20:00"), 102L)) // capped out
    val buys = Seq(
      (1L, ts("2024-01-01 10:15:00"), 200L), // matches 100 + 101
      (1L, ts("2024-01-01 10:45:00"), 201L)) // matches 102 ONLY → must vanish
    def df(rows: Seq[(Long, Timestamp, Long)]) =
      rows.toDF("user_id", "ts", "event_id")
    val batch = StreamingOps.rateLimitedIntervalJoin(df(clicks), df(buys))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(batch == Set(("1", "100", "200"), ("1", "101", "200")))

    // stage 1: stream rate-limit → durable parquet handoff
    val handoff = java.nio.file.Files.createTempDirectory("rl_handoff")
    val ckpt = java.nio.file.Files.createTempDirectory("rl_ckpt")
    val ml = MemoryStream[RateRecord]
    val sq1 = StreamingOps.rateLimit(ml.toDS())
      .writeStream.format("parquet")
      .option("path", handoff.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      ml.addData(clicks.map { case (u, t, e) => RateRecord(u.toString, e.toString, t) }: _*)
      sq1.processAllAvailable()
    } finally sq1.stop()

    // stage 2: readStream the handoff → interval join against purchases
    val mr = MemoryStream[(Long, Timestamp, Long)]
    val admitted = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[RateAdmit].schema)
      .parquet(handoff.toString)
      .select(col("key").as("user_id"), col("ts"), col("id").as("event_id"))
    val sq2 = StreamingOps.intervalJoin(
        admitted,
        mr.toDF().toDF("user_id", "ts", "event_id")
          .select(col("user_id").cast("string").as("user_id"), col("ts"),
            col("event_id").cast("string").as("event_id")))
      .writeStream.format("memory").queryName("rl_ij")
      .outputMode("append").start()
    try {
      mr.addData(buys: _*)
      sq2.processAllAvailable()
      val streamed = spark.table("rl_ij").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally sq2.stop()
  }

  test("rate-limited interval join chains in ONE streaming query and matches batch") {
    // Spark 4 supports a stream-stream join downstream of
    // flatMapGroupsWithState (multiple stateful operators in one query):
    // rateLimit re-exposes the admitted event time, intervalJoin
    // re-watermarks it, and the chained single-query plan must equal the
    // batch composition. The two-query handoff (previous test) remains
    // the operationally decoupled deployment.
    import graft.streaming.StreamingOps.RateRecord
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 10:05:00"), 101L),
      (1L, ts("2024-01-01 10:20:00"), 102L)) // capped out
    val buys = Seq(
      (1L, ts("2024-01-01 10:15:00"), 200L),
      (1L, ts("2024-01-01 10:45:00"), 201L)) // matches only the capped 102
    val ml = MemoryStream[RateRecord]
    val mr = MemoryStream[(Long, Timestamp, Long)]
    val chained = StreamingOps.intervalJoin(
      StreamingOps.rateLimit(ml.toDS()).toDF()
        .select(col("key").as("user_id"), col("ts"), col("id").as("event_id")),
      mr.toDF().toDF("user_id", "ts", "event_id")
        .select(col("user_id").cast("string").as("user_id"), col("ts"),
          col("event_id").cast("string").as("event_id")))
    val sq = chained.writeStream.format("memory").queryName("rl_chain")
      .outputMode("append").start()
    try {
      ml.addData(clicks.map { case (u, t, e) => RateRecord(u.toString, e.toString, t) }: _*)
      mr.addData(buys: _*)
      sq.processAllAvailable()
      val got = spark.table("rl_chain").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set(("1", "100", "200"), ("1", "101", "200")), got.toString)
    } finally sq.stop()
  }

  test("rateLimitWithTtl: exact within the window rule; idle keys drop and re-admit") {
    import graft.streaming.StreamingOps.{RateAdmit, RateRecord}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[RateRecord]
    val sq = StreamingOps.rateLimitWithTtl(mem.toDS(), maxPerWindow = 2,
        windowSeconds = 3600L, ttl = "2 hours", watermark = "0 seconds")
      .writeStream.format("memory").queryName("rl_ttl")
      .outputMode("append").start()
    def admits(): Set[(String, Int)] =
      spark.table("rl_ttl").as[RateAdmit].collect()
        .map(a => (a.id, a.seqInWin)).toSet
    try {
      // cap 2 in the 10:00 window: e1, e2 admit, e3 capped
      mem.addData(RateRecord("u", "e1", ts("2024-01-01 10:00:00")),
        RateRecord("u", "e2", ts("2024-01-01 10:05:00")),
        RateRecord("u", "e3", ts("2024-01-01 10:20:00")))
      sq.processAllAvailable()
      assert(admits() == Set(("e1", 1), ("e2", 2)), admits().toString)
      // same window, next batch: state alive (wm 10:20 < timeout) → capped
      mem.addData(RateRecord("u", "e4", ts("2024-01-01 10:40:00")))
      sq.processAllAvailable()
      assert(admits() == Set(("e1", 1), ("e2", 2)), admits().toString)
      // another key pushes wm past u's timeout (12:40); the following
      // batch fires the timeout for the idle key → u's state drops
      mem.addData(RateRecord("z", "z1", ts("2024-01-01 14:00:00")))
      sq.processAllAvailable()
      mem.addData(RateRecord("z", "z2", ts("2024-01-01 14:05:00")))
      sq.processAllAvailable()
      // u re-admits with a FRESH window — exactly what the unbounded
      // form does for a new window, so the ttl(2h) ≥ window(1h) +
      // delay(0) contract holds: admission decisions are identical
      mem.addData(RateRecord("u", "e5", ts("2024-01-01 14:30:00")))
      sq.processAllAvailable()
      assert(admits() ==
        Set(("e1", 1), ("e2", 2), ("z1", 1), ("z2", 2), ("e5", 1)),
        admits().toString)
    } finally sq.stop()
    // a non-positive ttl would be the unbounded form wearing a bounded
    // label — rejected loudly by the shared parse
    intercept[IllegalArgumentException] {
      StreamingOps.rateLimitWithTtl(mem.toDS(), ttl = "0 seconds")
    }
  }

  test("TTL'd rate-limit → handoff → interval join equals the unbounded composition") {
    // the --state-ttl deployment shape: the TTL'd throttle MUST run as
    // the two-query handoff (an event-time-timeout op upstream of a
    // stream-stream join in one query trips Spark's global-watermark
    // correctness check — see rateLimitedIntervalJoin's scaladoc); the
    // handoff re-derives the join watermark from the durable admitted
    // stream, and with ttl(4h) ≥ window(1h) + delay the admissions are
    // exactly the unbounded form's
    import graft.streaming.StreamingOps.{RateAdmit, RateRecord}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 10:05:00"), 101L),
      (1L, ts("2024-01-01 10:20:00"), 102L)) // capped out
    val buys = Seq(
      (1L, ts("2024-01-01 10:15:00"), 200L),
      (1L, ts("2024-01-01 10:45:00"), 201L)) // matches only the capped 102
    def df(rows: Seq[(Long, Timestamp, Long)]) =
      rows.toDF("user_id", "ts", "event_id")
    val batch = StreamingOps.rateLimitedIntervalJoin(df(clicks), df(buys))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val handoff = java.nio.file.Files.createTempDirectory("rlttl_handoff")
    val ckpt = java.nio.file.Files.createTempDirectory("rlttl_ckpt")
    val ml = MemoryStream[RateRecord]
    val sq1 = StreamingOps.rateLimitWithTtl(ml.toDS(), ttl = "4 hours")
      .writeStream.format("parquet")
      .option("path", handoff.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      ml.addData(clicks.map { case (u, t, e) => RateRecord(u.toString, e.toString, t) }: _*)
      sq1.processAllAvailable()
    } finally sq1.stop()
    val mr = MemoryStream[(Long, Timestamp, Long)]
    val admitted = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[RateAdmit].schema)
      .parquet(handoff.toString)
      .select(col("key").as("user_id"), col("ts"), col("id").as("event_id"))
    val sq2 = StreamingOps.intervalJoin(
        admitted,
        mr.toDF().toDF("user_id", "ts", "event_id")
          .select(col("user_id").cast("string").as("user_id"), col("ts"),
            col("event_id").cast("string").as("event_id")))
      .writeStream.format("memory").queryName("rlttl_ij")
      .outputMode("append").start()
    try {
      mr.addData(buys: _*)
      sq2.processAllAvailable()
      val streamed = spark.table("rlttl_ij").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed == Set(("1", "100", "200"), ("1", "101", "200")))
    } finally sq2.stop()
  }

  test("streaming curation with stateTtl: in-horizon dup, expiry, re-admit") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val textA = "the quick brown fox jumps"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val sq = graft.streaming.StreamingCuration.verdicts(
        mem.toDF().toDF("doc_id", "text", "ts"),
        curationBench.toDF("doc_id", "text"),
        allowedLangs = Seq("en"), contamN = 3,
        minWords = 4, minMeanLen = 1.0, maxMeanLen = 20.0, minStopwords = 1,
        stateTtl = Some("150 minutes"), tsCol = "ts")
      .writeStream.format("memory").queryName("cur_ttl")
      .outputMode("append").start()
    def got(): Map[String, graft.streaming.StreamingCuration.CurationVerdict] =
      spark.table("cur_ttl")
        .as[graft.streaming.StreamingCuration.CurationVerdict]
        .collect().map(v => v.id -> v).toMap
    try {
      mem.addData((1L, textA, ts("2024-01-01 10:00:00")))
      sq.processAllAvailable()
      assert(got()("1").keep, got().toString)
      // in-horizon duplicate (wm 10:00, canonical timeout 13:30)
      mem.addData((4L, textA + " jumps", ts("2024-01-01 11:00:00")))
      sq.processAllAvailable()
      assert(got()("4").dup_of == Some("1"), got().toString)
      // unrelated content pushes wm past the canonical's slid timeout
      // (11:00 + 150 min = 13:30); the FOLLOWING batch fires the
      // timeout for the now-idle dup_key → its state drops (the
      // two-advance pattern of the incrementalTokenBlocksWithTtl spec)
      mem.addData((7L, "the other words entirely here", ts("2024-01-01 16:00:00")))
      sq.processAllAvailable()
      mem.addData((8L, "more unrelated words in the stream", ts("2024-01-01 16:05:00")))
      sq.processAllAvailable()
      // the documented horizon divergence: re-seen content RE-ADMITS as
      // a fresh canonical — one extra keep per content per horizon
      mem.addData((9L, textA, ts("2024-01-01 16:10:00")))
      sq.processAllAvailable()
      assert(got()("9").keep && got()("9").dup_of.isEmpty, got().toString)
    } finally sq.stop()
  }

  test("streaming curation stateTtl: same-batch re-sight past the horizon re-admits") {
    // the horizon-on-ACCESS rule: the expired canonical's timeout has
    // not fired yet when the re-sight arrives in a DATA batch whose
    // watermark already passed the horizon — without the access check
    // the content would be marked duplicate of the stale canonical AND
    // re-arm its state; the contract is a fresh canonical instead.
    // noDataMicroBatches OFF: with the default idle batches, the
    // timeout fires between processAllAvailable calls and the access
    // branch is never reached — disabling them reproduces continuous
    // operation, where data batches follow each other immediately and
    // the branch is the only guard
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val prev = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val textA = "the quick brown fox jumps"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val sq = graft.streaming.StreamingCuration.verdicts(
        mem.toDF().toDF("doc_id", "text", "ts"),
        curationBench.toDF("doc_id", "text"),
        allowedLangs = Seq("en"), contamN = 3,
        minWords = 4, minMeanLen = 1.0, maxMeanLen = 20.0, minStopwords = 1,
        stateTtl = Some("150 minutes"), tsCol = "ts")
      .writeStream.format("memory").queryName("cur_ttl_race")
      .outputMode("append").start()
    def got(): Map[String, graft.streaming.StreamingCuration.CurationVerdict] =
      spark.table("cur_ttl_race")
        .as[graft.streaming.StreamingCuration.CurationVerdict]
        .collect().map(v => v.id -> v).toMap
    try {
      mem.addData((1L, textA, ts("2024-01-01 10:00:00")))
      sq.processAllAvailable()
      assert(got()("1").keep, got().toString)
      // unrelated 16:00 doc: wm for the NEXT batch becomes 16:00, past
      // the canonical's horizon (10:00 + 150 min = 12:30) — and with
      // idle batches off, no timeout callback can fire in between
      mem.addData((7L, "the other words entirely here", ts("2024-01-01 16:00:00")))
      sq.processAllAvailable()
      mem.addData((9L, textA, ts("2024-01-01 16:10:00")))
      sq.processAllAvailable()
      assert(got()("9").keep && got()("9").dup_of.isEmpty,
        s"stale canonical must evict on access: ${got()("9")}")
    } finally {
      sq.stop()
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev)
    }
  }

  test("streaming curation stateTtl: exact horizon equality keeps the canonical") {
    // boundary parity with EventTimeTimeout (which fires only when the
    // watermark passes STRICTLY beyond the timestamp) and with the
    // sibling TTL stores (which keep entries at seen == wm − ttl): a
    // re-sight in a batch whose wm equals lastSeen + ttl exactly is
    // still a duplicate of the live canonical
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val prev = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val textA = "the quick brown fox jumps"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val sq = graft.streaming.StreamingCuration.verdicts(
        mem.toDF().toDF("doc_id", "text", "ts"),
        curationBench.toDF("doc_id", "text"),
        allowedLangs = Seq("en"), contamN = 3,
        minWords = 4, minMeanLen = 1.0, maxMeanLen = 20.0, minStopwords = 1,
        stateTtl = Some("2 hours"), tsCol = "ts")
      .writeStream.format("memory").queryName("cur_ttl_edge")
      .outputMode("append").start()
    def got(): Map[String, graft.streaming.StreamingCuration.CurationVerdict] =
      spark.table("cur_ttl_edge")
        .as[graft.streaming.StreamingCuration.CurationVerdict]
        .collect().map(v => v.id -> v).toMap
    try {
      mem.addData((1L, textA, ts("2024-01-01 10:00:00")))
      sq.processAllAvailable()
      // filler at exactly lastSeen + ttl → wave-3 wm == the horizon
      mem.addData((7L, "the other words entirely here", ts("2024-01-01 12:00:00")))
      sq.processAllAvailable()
      mem.addData((9L, textA, ts("2024-01-01 12:05:00")))
      sq.processAllAvailable()
      assert(got()("9").drop_stage.contains("duplicate")
        && got()("9").dup_of.contains("1"),
        s"equality is NOT past the horizon: ${got()("9")}")
    } finally {
      sq.stop()
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev)
    }
  }

  test("streaming curation stateTtl: an older in-watermark re-sight never moves the horizon backward") {
    // monotone-horizon rule: with a nonzero watermark delay a later
    // batch can carry an OLDER (still in-watermark) sighting of the
    // same content; lastSeenMs must take math.max, not the batch's
    // value — otherwise the 10:00 re-sight below drags the canonical's
    // horizon from 12:00+ttl=14:30 back to 10:00+ttl=12:30 and the
    // 17:40 re-sight (wm 13:30) finds it expired and re-admits.
    // Contract: the canonical lives to its NEWEST sighting + ttl.
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val prev = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val textA = "the quick brown fox jumps"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val sq = graft.streaming.StreamingCuration.verdicts(
        mem.toDF().toDF("doc_id", "text", "ts"),
        curationBench.toDF("doc_id", "text"),
        allowedLangs = Seq("en"), contamN = 3,
        minWords = 4, minMeanLen = 1.0, maxMeanLen = 20.0, minStopwords = 1,
        stateTtl = Some("150 minutes"), tsCol = "ts",
        watermark = "4 hours")
      .writeStream.format("memory").queryName("cur_ttl_mono")
      .outputMode("append").start()
    def got(): Map[String, graft.streaming.StreamingCuration.CurationVerdict] =
      spark.table("cur_ttl_mono")
        .as[graft.streaming.StreamingCuration.CurationVerdict]
        .collect().map(v => v.id -> v).toMap
    try {
      mem.addData((1L, textA, ts("2024-01-01 12:00:00")))
      sq.processAllAvailable() // canonical 1; newest sighting 12:00
      assert(got()("1").keep, got().toString)
      // older re-sight, in-watermark (wm is 8:00 after batch 1): a dup,
      // and it must NOT pull the horizon back to 10:00 + 150 min
      mem.addData((4L, textA, ts("2024-01-01 10:00:00")))
      sq.processAllAvailable()
      assert(got()("4").dup_of == Some("1"), got().toString)
      // filler: wm becomes 17:30 − 4 h = 13:30 — past the BACKWARD
      // horizon (12:30) but inside the true one (14:30)
      mem.addData((7L, "the other words entirely here", ts("2024-01-01 17:30:00")))
      sq.processAllAvailable()
      mem.addData((9L, textA, ts("2024-01-01 17:40:00")))
      sq.processAllAvailable()
      assert(got()("9").drop_stage.contains("duplicate")
        && got()("9").dup_of.contains("1"),
        s"horizon must be monotone in event time: ${got()("9")}")
    } finally {
      sq.stop()
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev)
    }
  }

  test("streamMinHashNearDup pairs new docs against bucket state across batches") {
    import graft.streaming.StreamingOps.{DocRecord, NearDupPair}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val shared = Seq("alpha beta gamma", "beta gamma delta", "gamma delta eps")
    val mem = MemoryStream[DocRecord]
    val sq = StreamingOps.streamMinHashNearDup(mem.toDS())
      .writeStream.format("memory").queryName("snd")
      .outputMode("append").start()
    try {
      // batch 1: one doc + an unrelated one → no pairs
      mem.addData(DocRecord("a", shared), DocRecord("x", Seq("zig zag zoo")))
      sq.processAllAvailable()
      assert(spark.table("snd").isEmpty)
      // batch 2: an identical doc arrives → pairs with a (est 1.0), not x
      mem.addData(DocRecord("b", shared))
      sq.processAllAvailable()
      val b2 = spark.table("snd").as[NearDupPair].collect().toSet
      assert(b2.map(p => (p.idA, p.idB, p.est)) == Set(("a", "b", 1.0)))
      // identical signatures share all 4 band buckets → 4 emissions
      assert(spark.table("snd").count() == 4)
      // batch 3: another copy → pairs with BOTH stored docs
      mem.addData(DocRecord("c", shared))
      sq.processAllAvailable()
      val b3 = spark.table("snd").as[NearDupPair].collect().toSet
        .map((p: NearDupPair) => (p.idA, p.idB))
      assert(b3 == Set(("a", "b"), ("a", "c"), ("b", "c")))
    } finally sq.stop()
  }

  test("streamMinHashNearDup hot-bucket cap stops admissions") {
    import graft.streaming.StreamingOps.{DocRecord, NearDupPair}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val shared = Seq("alpha beta gamma")
    val mem = MemoryStream[DocRecord]
    val sq = StreamingOps.streamMinHashNearDup(mem.toDS(), maxIdsPerBucket = 1)
      .writeStream.format("memory").queryName("snd_cap")
      .outputMode("append").start()
    try {
      mem.addData(DocRecord("a", shared))
      sq.processAllAvailable()
      // every bucket already holds its one admitted id → b neither
      // pairs nor enters state (the oversized-block contract)
      mem.addData(DocRecord("b", shared))
      sq.processAllAvailable()
      assert(spark.table("snd_cap").isEmpty)
    } finally sq.stop()
  }

  test("streamRefineVerdicts first-wins keep: earliest copy kept, chains shadowed") {
    import graft.streaming.StreamingOps.{SeqDoc, RefineVerdict}
    implicit val sess = spark
    val shared = Seq("alpha beta", "beta gamma", "gamma delta")
    val docs = Seq(
      SeqDoc("5", 5, shared),                  // later copy → dropped
      SeqDoc("1", 1, shared),                  // first arrival → kept
      SeqDoc("3", 3, shared),                  // later copy → dropped (by 1)
      SeqDoc("7", 7, Seq("zig zag", "zag zoo")), // unrelated → kept
      SeqDoc("9", 9, Seq.empty))               // tokenless → kept
    val verdicts = StreamingOps.streamRefineVerdicts(spark.createDataset(docs))
    // per-band verdicts: doc 1 unmatched in all 4 bands; 3 and 5 matched
    val byDoc = verdicts.collect().groupBy(_.id)
      .map { case (id, vs) => id -> vs.exists(_.matched) }
    assert(byDoc == Map("1" -> false, "3" -> true, "5" -> true,
      "7" -> false, "9" -> false), byDoc.toString)
    val manifest = StreamingOps.refineKeepManifest(verdicts.toDF(), 16)
      .collect().map(r => r.getString(0)).toSet
    assert(manifest == Set("1", "7", "9"), manifest.toString)
  }

  test("streaming refine pipeline matches its batch form across micro-batches") {
    import graft.streaming.StreamingOps.SeqDoc
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    // overlapping shingle sets: est values land wherever the fixed md5
    // family puts them — parity (not a hand-predicted keep set) is the
    // contract under test
    val base = (1 to 10).map(i => s"tok$i shin$i")
    val docs = (1 to 12).map { i =>
      SeqDoc(f"$i%02d", i.toLong, base.take(4 + i % 7) ++ Seq(s"own$i a", s"own$i b"))
    } ++ Seq(SeqDoc("13", 13, base), SeqDoc("14", 14, base))
    val batchManifest = StreamingOps.refineKeepManifest(
        StreamingOps.streamRefineVerdicts(spark.createDataset(docs)).toDF(), 16)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    // stream the same corpus in three seq-ordered micro-batches; keep
    // decisions are complete per batch → combine inside foreachBatch
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val mem = MemoryStream[SeqDoc]
    val sq = StreamingOps.streamRefineVerdicts(mem.toDS()).toDF()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        acc ++= StreamingOps.refineKeepManifest(b, 16)
          .collect().map(r => (r.getString(0), r.getInt(1)))
        ()
      }
      .outputMode("append").start()
    try {
      docs.grouped(5).foreach { chunk =>
        mem.addData(chunk: _*)
        sq.processAllAvailable()
      }
      assert(acc.toSet == batchManifest, s"stream=${acc.toSet} batch=$batchManifest")
      assert(acc.size == acc.toSet.size) // no double emissions
    } finally sq.stop()
  }

  test("qualityFilter runs unchanged on a document stream") {
    // the gate is a pure row-local projection, so the SAME call works on
    // a readStream frame — the C4-style filter in streaming ingest
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, (Seq("the") ++ (1 to 30).map(i => s"word$i")).mkString(" ")), // keep
      (2L, "the and tiny"))                                             // n_tokens
    val batch = graft.text.TextAnalysis.qualityFilter(
        docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(4), Option(r.getString(3))))).toMap
    val mem = MemoryStream[(Long, String)]
    val sq = graft.text.TextAnalysis.qualityFilter(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("q_gate")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      sq.processAllAvailable()
      val streamed = spark.table("q_gate").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(4), Option(r.getString(3))))).toMap
      assert(streamed == batch)
      assert(batch == Map(1L -> ((true, None)), 2L -> ((false, Some("n_tokens")))))
    } finally sq.stop()
  }

  test("piiRedact runs unchanged on a document stream") {
    // the scrub pass is a pure row-local projection like the quality
    // gate — the SAME call composes on streaming ingest
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "mail me at a@b.io or call 555-123-4567"),
      (2L, "clean row"))
    val batch = graft.text.TextAnalysis.piiRedact(
        docs.toDF("doc_id", "text"), "doc_id", "text").collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    val mem = MemoryStream[(Long, String)]
    val sq = graft.text.TextAnalysis.piiRedact(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      sq.processAllAvailable()
      val streamed = spark.table("pii_stream").collect()
        .map(r => r.getString(0) -> r.getString(4)).toMap
      assert(streamed == batch)
      assert(batch("1") == "mail me at <EMAIL> or call <PHONE>")
    } finally sq.stop()
  }

  test("sessionize counts gap-separated sessions") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:10:00")),
      (1L, ts("2024-01-01 11:00:00")), // 50-min gap → new session
      (2L, ts("2024-01-01 09:00:00")))
      .toDF("user_id", "ts")
    val got = StreamingOps.sessionize(events, 30).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (2L, 3L), 2L -> (1L, 1L)))
  }

  test("compactLatest keeps one latest row per key with ts/event_id tiebreak") {
    val events = Seq(
      (1L, 1L, "click", ts("2024-01-01 10:00:00"), 1.0),
      (2L, 1L, "click", ts("2024-01-01 11:00:00"), 2.0), // latest ts wins
      (3L, 1L, "view", ts("2024-01-01 10:00:00"), 3.0),
      (4L, 1L, "view", ts("2024-01-01 10:00:00"), 4.0), // ts tie → max event_id
      (5L, 2L, "click", ts("2024-01-01 09:00:00"), 5.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val got = StreamingOps.compactLatest(events).collect()
      .map(r => (r.getLong(1), r.getString(2)) -> r.getLong(0)).toMap
    assert(got == Map(
      (1L, "click") -> 2L, (1L, "view") -> 4L, (2L, "click") -> 5L))
  }

  test("streamCompactLatest: last emission per key equals batch compactLatest") {
    import graft.streaming.StreamingOps.CompactRecord
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[CompactRecord]
    val sq = StreamingOps.streamCompactLatest(mem.toDS())
      .writeStream.format("memory").queryName("cl")
      .outputMode("append").start()
    val b1 = Seq(
      CompactRecord(1L, "click", 1L, ts("2024-01-01 10:00:00"), 1.0),
      CompactRecord(1L, "click", 2L, ts("2024-01-01 11:00:00"), 2.0),
      CompactRecord(2L, "view", 3L, ts("2024-01-01 09:00:00"), 3.0))
    val b2 = Seq(
      // stale for (1, click): older ts than current state → no emission
      CompactRecord(1L, "click", 9L, ts("2024-01-01 10:30:00"), 9.0),
      // ts tie with state for (2, view) but higher event_id → advances
      CompactRecord(2L, "view", 4L, ts("2024-01-01 09:00:00"), 4.0))
    try {
      mem.addData(b1: _*); sq.processAllAvailable()
      mem.addData(b2: _*); sq.processAllAvailable()
      // one progress row per (key, batch) in arrival order; the latest
      // emission per key is the compacted state
      val emitted = spark.table("cl").as[CompactRecord].collect()
      val lastPerKey = emitted.zipWithIndex
        .groupBy(r => (r._1.userId, r._1.eventType))
        .map { case (k, rs) => k -> rs.maxBy(_._2)._1.eventId }
      val batch = StreamingOps.compactLatest(
          (b1 ++ b2).toDS().select(
            col("eventId").as("event_id"), col("userId").as("user_id"),
            col("eventType").as("event_type"), col("ts"), col("value")))
        .collect().map(r => (r.getLong(1), r.getString(2)) -> r.getLong(0)).toMap
      assert(lastPerKey == batch)
      assert(!emitted.map(_.eventId).contains(9L), "stale row never emitted")
    } finally sq.stop()
  }

  test("streamFunnel: cross-batch advancement, horizon cut, late-data absorb") {
    import graft.streaming.StreamingOps.{FunnelEvent, FunnelAdvance}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val day = 86400L * 1000000L
    val mem = MemoryStream[FunnelEvent]
    val sq = StreamingOps.streamFunnel(mem.toDS(), 3, 7 * 86400L)
      .writeStream.format("memory").queryName("fn")
      .outputMode("append").start()
    try {
      // batch 1: u1 enters + views; u2 enters; u3 views without entering
      mem.addData(
        FunnelEvent("u1", 1, 1000L, 1L), FunnelEvent("u1", 2, 2000L, 2L),
        FunnelEvent("u2", 1, 1000L, 3L),
        FunnelEvent("u3", 2, 1000L, 4L))
      sq.processAllAvailable()
      // batch 2: u1 completes (cross-batch state); u2's stage-2 lands
      // beyond the horizon; a LATE stage-2 for u1 (older than its last
      // advancement) is absorbed without effect
      mem.addData(
        FunnelEvent("u1", 3, 3000L, 5L),
        FunnelEvent("u2", 2, 1000L + 8 * day, 6L),
        FunnelEvent("u1", 2, 1500L, 7L))
      sq.processAllAvailable()
      val got = spark.table("fn").as[FunnelAdvance].collect()
        .map(a => (a.key, a.stage)).sorted.toSeq
      assert(got == Seq(("u1", 1), ("u1", 2), ("u1", 3), ("u2", 1)))
    } finally sq.stop()
  }

  test("streamFunnel single batch equals the batch funnel on shuffled events") {
    import graft.streaming.StreamingOps.FunnelEvent
    implicit val sess = spark
    // deterministic pseudo-random event log over 8 users, deliberately
    // out of order (the operator sorts per key by (us, id))
    val evs = for {
      u <- 1 to 8; i <- 1 to 12
      st = (u * 7 + i * 5) % 3 + 1
      us = ((i * 37 + u * 13) % 50) * 1000L
    } yield FunnelEvent(s"u$u", st, us, (u * 100 + i).toLong)
    val adv = StreamingOps.streamFunnel(
      evs.reverse.toDS(), 3, horizonSec = 1).toDF()
      .groupBy("stage").agg(count(lit(1)).as("users"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batchDf = evs.map(e =>
        (e.key, Seq("signup", "view", "purchase")(e.stage - 1), e.us / 1000000.0))
      .toDF("user_id", "event_type", "sec")
      .withColumn("ts", timestamp_micros((col("sec") * 1000000L).cast("long")))
    val batch = graft.events.EventAnalytics.funnel(
        batchDf, Seq("signup", "view", "purchase"), horizonSec = 1)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(adv.keySet.forall(s => adv(s) == batch(s)),
      s"stream $adv vs batch $batch")
    assert(batch.filter(_._2 > 0).keySet == adv.keySet)
  }

  test("streamMarkov: cross-batch transitions, per-batch event-time order") {
    import graft.streaming.StreamingOps.{MarkovEvent, MarkovTransition}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[MarkovEvent]
    val sq = StreamingOps.streamMarkov(mem.toDS())
      .writeStream.format("memory").queryName("mk")
      .outputMode("append").start()
    try {
      // batch 1 arrives OUT of order: must emit a→b then b→c
      mem.addData(
        MarkovEvent("u1", "c", 3000L, 3L), MarkovEvent("u1", "a", 1000L, 1L),
        MarkovEvent("u1", "b", 2000L, 2L))
      sq.processAllAvailable()
      // batch 2: the chain continues from retained state c → d
      mem.addData(MarkovEvent("u1", "d", 4000L, 4L))
      sq.processAllAvailable()
      val got = spark.table("mk").as[MarkovTransition].collect()
        .map(t => (t.fromType, t.toType)).sorted.toSeq
      assert(got == Seq(("a", "b"), ("b", "c"), ("c", "d")))
    } finally sq.stop()
  }

  test("streamRetention: cohort pin, per-offset dedup, cross-batch continuation") {
    import graft.streaming.StreamingOps.{RetentionEvent, RetentionMark}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val mem = MemoryStream[RetentionEvent]
    val sq = StreamingOps.streamRetention(mem.toDS(), maxOffsetDays = 30)
      .writeStream.format("memory").queryName("ret")
      .outputMode("append").start()
    try {
      // batch 1 out of order: day 12 arrives before day 10 — cohort must
      // pin to the EARLIEST (us-sorted) day; duplicate day-10 activity
      // emits offset 0 only once
      mem.addData(
        RetentionEvent("u1", 12, 3000L, 3L),
        RetentionEvent("u1", 10, 1000L, 1L),
        RetentionEvent("u1", 10, 1500L, 2L))
      sq.processAllAvailable()
      // batch 2: new offset (day 13) emits; repeated offset (day 12) is
      // deduped against retained state; beyond-horizon day is dropped
      mem.addData(
        RetentionEvent("u1", 13, 4000L, 4L),
        RetentionEvent("u1", 12, 5000L, 5L),
        RetentionEvent("u1", 99, 6000L, 6L))
      sq.processAllAvailable()
      val got = spark.table("ret").as[RetentionMark].collect()
        .map(m => (m.cohort, m.offset)).sorted.toSeq
      assert(got == Seq((10, 0), (10, 2), (10, 3)), got.toString)
    } finally sq.stop()
  }

  test("watermark drops late events in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val sq = StreamingOps.windowedEventAgg(
        mem.toDF().toDF("ts", "event_type", "value"),
        windowDuration = "1 hour", watermark = "1 hour")
      .writeStream.format("memory").queryName("wm_agg")
      .outputMode("append").start()
    try {
      // batch 1 establishes event time up to 14:00 → watermark 13:00
      mem.addData((ts("2024-01-01 10:30:00"), "click", 1.0))
      sq.processAllAvailable()
      mem.addData((ts("2024-01-01 14:00:00"), "click", 1.0))
      sq.processAllAvailable()
      // late event at 10:45 — its 10:00 window is far behind the 13:00
      // watermark, so it must be dropped
      mem.addData((ts("2024-01-01 10:45:00"), "click", 99.0))
      sq.processAllAvailable()
      mem.addData((ts("2024-01-01 16:00:00"), "click", 1.0))
      sq.processAllAvailable()
      val rows = spark.table("wm_agg").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
      // the 10:00 window (epoch 1704103200) was finalized with ONLY the
      // on-time event — the late 99.0 never appears anywhere
      assert(rows.contains((1704103200L, 1L, 1.0)), rows.toString)
      assert(!rows.exists(r => r._3 == 99.0 || r._3 == 100.0), rows.toString)
    } finally sq.stop()
  }

  test("file-source streaming over the events table matches batch") {
    val dir = "/root/testdata/sf0.001"
    val batchDf = graft.queries.QueryDef.events(spark, dir)
    val batch = StreamingOps.windowedEventAgg(batchDf).collect().toSet
    // the streaming file source needs a DIRECTORY; stage the single file
    val stream = java.nio.file.Files.createTempDirectory("evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stream.resolve("events.parquet"))
    val streamDf = spark.readStream
      .schema(spark.read.parquet(s"$dir/events.parquet").schema)
      .parquet(stream.toString)
    val converted = graft.queries.QueryDef.normalizeEventTs(streamDf)
    val sq = StreamingOps.windowedEventAgg(converted)
      .writeStream.format("memory").queryName("file_agg")
      .outputMode("complete").start()
    try {
      sq.processAllAvailable()
      assert(spark.table("file_agg").collect().toSet == batch)
    } finally sq.stop()
  }

  test("serveIvfPq: MemoryStream serving equals the batch search") {
    implicit val sp = spark
    val dims = 16
    def vec(i: Int): Array[Double] = {
      val base = if (i % 2 == 0) 1.0 else -1.0
      (0 until dims).map(d => base + 0.01 * ((i * 7 + d * 3) % 11)).toArray
    }
    val corpus = (0 until 20).map(i => (i.toLong, (i % 2).toString, vec(i)))
      .toDF("id", "bucket", "vec")
    val idx = graft.similarity.IndexStore.buildIvfPq(
      corpus, dims = dims, subspaces = 4, codebookSize = 8)
    val qRows = Seq(20L, 21L, 22L).map(i => (i, vec(i.toInt)))
    val batch = graft.streaming.AnnServing.serveIvfPq(
        qRows.toDF("id", "vec"), idx, k = 3, rankScale = 9)
      .collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Double])]
    val sq = graft.streaming.AnnServing.serveIvfPq(
        mem.toDF().toDF("id", "vec"), idx, k = 3, rankScale = 9)
      .writeStream.format("memory").queryName("ann_serve")
      .outputMode("append").start()
    try {
      mem.addData(qRows.take(2): _*)
      sq.processAllAvailable()
      mem.addData(qRows.drop(2): _*)
      sq.processAllAvailable()
      val got = spark.table("ann_serve")
        .as[graft.streaming.AnnServing.AnnHit].collect().toSet
      assert(got == batch, s"stream/batch drift: ${got.diff(batch)} vs ${batch.diff(got)}")
    } finally sq.stop()
  }

  // ---- checkpoint recovery (the 100-TB restart contract) -----------------
  // Stop a stateful query mid-stream, start a NEW query graph from the
  // SAME checkpoint, and prove (a) state continuity — a duplicate of a
  // pre-restart record is still suppressed — and (b) exactly-once sink
  // output — nothing from the committed pre-restart batches re-emits.
  // The parquet sink is the fault-tolerant one (its _spark_metadata log
  // is what makes replayed batches idempotent), so the final read-back
  // is the real recovery artifact, not the memory sink's best effort.

  test("checkpoint recovery: streamExactDedupWithTtl resumes its keyed state store") {
    import graft.streaming.StreamingOps.{DedupKeep, TimedDedupRecord}
    implicit val sqlCtx = spark.sqlContext
    implicit val sess = spark
    val out = java.nio.file.Files.createTempDirectory("ck_dedup_out")
    val ckpt = java.nio.file.Files.createTempDirectory("ck_dedup_ckpt")
    val mem = MemoryStream[TimedDedupRecord]
    // the restart rebuilds the WHOLE query graph from scratch (fresh
    // flatMapGroupsWithState dataset) — only the checkpoint carries over
    def start() = StreamingOps
      .streamExactDedupWithTtl(mem.toDS(), ttl = "4 hours",
        watermark = "0 seconds")
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    val sq1 = start()
    try {
      mem.addData(TimedDedupRecord("k", "a", ts("2024-01-01 10:00:00")))
      sq1.processAllAvailable()
      mem.addData(TimedDedupRecord("k", "b", ts("2024-01-01 10:10:00")))
      sq1.processAllAvailable() // in-horizon dup suppressed pre-restart
    } finally sq1.stop()
    val sq2 = start()
    try {
      // wave 3 after restart: k/c is an in-horizon duplicate of the
      // WAVE-1 canonical — only recovered state can know that; n is new
      mem.addData(TimedDedupRecord("k", "c", ts("2024-01-01 10:20:00")),
        TimedDedupRecord("n", "x", ts("2024-01-01 10:20:00")))
      sq2.processAllAvailable()
    } finally sq2.stop()
    val got = spark.read.parquet(out.toString).as[DedupKeep].collect()
      .map(k => (k.key, k.id)).toList.sorted
    assert(got == List(("k", "a"), ("n", "x")), got.toString)
  }

  test("checkpoint recovery: TTL'd curation store resumes canonical + watermark") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val textA = "the quick brown fox jumps"
    val out = java.nio.file.Files.createTempDirectory("ck_cur_out")
    val ckpt = java.nio.file.Files.createTempDirectory("ck_cur_ckpt")
    val mem = MemoryStream[(Long, String, Timestamp)]
    def start() = graft.streaming.StreamingCuration.verdicts(
        mem.toDF().toDF("doc_id", "text", "ts"),
        curationBench.toDF("doc_id", "text"),
        allowedLangs = Seq("en"), contamN = 3,
        minWords = 4, minMeanLen = 1.0, maxMeanLen = 20.0, minStopwords = 1,
        stateTtl = Some("150 minutes"), tsCol = "ts")
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    val sq1 = start()
    try {
      mem.addData((1L, textA, ts("2024-01-01 10:00:00")))
      sq1.processAllAvailable() // doc 1 becomes the dup canonical
    } finally sq1.stop()
    val sq2 = start()
    try {
      // post-restart, in-horizon near-dup: dup_of = "1" is only
      // derivable from the RECOVERED CanonState (and the recovered
      // watermark must not have regressed and expired it)
      mem.addData((4L, textA + " jumps", ts("2024-01-01 11:00:00")))
      sq2.processAllAvailable()
    } finally sq2.stop()
    val got = spark.read.parquet(out.toString)
      .as[graft.streaming.StreamingCuration.CurationVerdict]
      .collect().map(v => v.id -> v).toMap
    assert(got.keySet == Set("1", "4"), got.keySet.toString) // exactly once
    assert(got("1").keep && got("1").dup_of.isEmpty, got("1").toString)
    assert(got("4").dup_of == Some("1") && !got("4").keep, got("4").toString)
  }

  // ---- streaming curation ------------------------------------------------

  /** All five verdict outcomes engage: keep, lang, quality, duplicate,
    * contaminated. Ids as strings: "1" < "4" so min-id = d1. */
  private val curationDocs = Seq(
    (1L, "the quick brown fox jumps"),            // keep (dup canonical)
    (2L, "der hund und die katze laufen"),        // lang = de -> drop lang
    (3L, "the cat"),                              // en but 2 tokens -> quality
    (4L, "the quick brown fox jumps jumps"),      // same distinct token set as d1
    (5L, "see alpha beta gamma here the end"))    // shares a 3-gram with bench
  private val curationBench = Seq((100L, "alpha beta gamma delta"))

  private def curationBatch(docs: org.apache.spark.sql.DataFrame) =
    graft.text.Curation.verdicts(
      docs, curationBench.toDF("doc_id", "text"),
      allowedLangs = Seq("en"), contamN = 3,
      minWords = 4, minMeanLen = 1.0, maxMeanLen = 20.0, minStopwords = 1)

  private def curationStream(docs: org.apache.spark.sql.DataFrame) = {
    implicit val s = spark
    graft.streaming.StreamingCuration.verdicts(
      docs, curationBench.toDF("doc_id", "text"),
      allowedLangs = Seq("en"), contamN = 3,
      minWords = 4, minMeanLen = 1.0, maxMeanLen = 20.0, minStopwords = 1)
  }

  test("streaming curation: batch invocation equals Curation.verdicts") {
    val expected = curationBatch(curationDocs.toDF("doc_id", "text")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.getString(3)), Option(r.getString(4)), r.getLong(5),
        Option(r.getString(6)), r.getBoolean(7))).toSet
    val got = curationStream(curationDocs.toDF("doc_id", "text"))
      .collect().map(v => (v.id, v.lang, v.n_tokens, v.quality_reason,
        v.dup_of, v.n_hits, v.drop_stage, v.keep)).toSet
    assert(got == expected,
      s"stream/batch drift: ${got.diff(expected)} vs ${expected.diff(got)}")
    // the fixture engages every stage
    val stages = got.map(_._7)
    assert(stages == Set(None, Some("lang"), Some("quality"),
      Some("duplicate"), Some("contaminated")), s"stages: $stages")
  }

  test("streaming curation batch plan: one dup-key exchange, no joins") {
    // the 100 TB shape claim, asserted for both forms: tagging and
    // contamination are row-local (the benchmark grams ride the plan, no
    // benchmark join), so the ONLY exchange is the dup-key one — the
    // state op's groupByKey, or the batch form's canonical window
    val docs = curationDocs.toDF("doc_id", "text")
    Seq("streaming" -> curationStream(docs).toDF(), "batch" -> curationBatch(docs))
      .foreach { case (form, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Join"), s"$form verdicts must be join-free:\n$plan")
        val ex = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
        assert(ex == 1, s"$form: exactly the dup-key exchange expected, got $ex:\n$plan")
        assert(!plan.contains("ExistingRDD"), s"$form verdicts must not be checkpointed:\n$plan")
      }
  }

  /** Both curation forms over `docs`, each as its verdicts rendered and
    * sorted (so multiplicities compare too). */
  private def bothCurationForms(docs: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
    def render(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    (render(curationBatch(docs)), render(curationStream(docs).toDF()))
  }

  test("curation: a repeated id gives one verdict row per input row in both forms") {
    val (batch, stream) = bothCurationForms(Seq(
      (1L, "the quick brown fox jumps"),
      (1L, "the quick brown fox jumps jumps"),
      (5L, "see alpha beta gamma here the end")).toDF("doc_id", "text"))
    assert(batch.size == 3, batch.mkString("\n"))
    assert(stream == batch, s"stream:\n${stream.mkString("\n")}\nbatch:\n${batch.mkString("\n")}")
    // the canonical's own id repeats: neither copy is its own duplicate
    assert(batch.count(_.startsWith("1|en|")) == 2 && batch.forall(!_.contains("duplicate")))
  }

  test("curation: a null id gets a verdict, is never the canonical and has no dup_of") {
    val docs = Seq[(Option[Long], String)](
      (None, "the quick brown fox jumps"),
      (Some(4L), "the quick brown fox jumps jumps"),
      (Some(1L), "the quick brown fox jumps"),
      (None, "see alpha beta gamma here the end"),
      (None, "see alpha beta gamma here the end")).toDF("doc_id", "text")
    val (batch, stream) = bothCurationForms(docs)
    assert(stream == batch, s"stream:\n${stream.mkString("\n")}\nbatch:\n${batch.mkString("\n")}")
    val v = curationBatch(docs).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(4)), Option(r.getString(6))))
    assert(v.length == 5)
    // d1 is the canonical of its group, d4 points at it, the null id is kept
    assert(v.filter(_._1.isEmpty).forall(_._2.isEmpty), v.mkString(", "))
    assert(v.contains((Some("4"), Some("1"), Some("duplicate"))), v.mkString(", "))
    assert(v.contains((Some("1"), None, None)), v.mkString(", "))
    assert(v.count(_ == (None, None, None)) == 1, v.mkString(", "))
    assert(v.count(_ == (None, None, Some("contaminated"))) == 2, v.mkString(", "))
  }

  test("streaming curation: MemoryStream parity + first-seen canonical") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val sq = curationStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cur_stream")
      .outputMode("append").start()
    try {
      // d4 arrives BEFORE its lexicographically-smaller duplicate d1:
      // streaming canonical is first-seen, so d1 must point at d4
      mem.addData((4L, "the quick brown fox jumps jumps"),
        (2L, "der hund und die katze laufen"))
      sq.processAllAvailable()
      mem.addData((1L, "the quick brown fox jumps"),
        (3L, "the cat"), (5L, "see alpha beta gamma here the end"))
      sq.processAllAvailable()
      val got = spark.table("cur_stream")
        .as[graft.streaming.StreamingCuration.CurationVerdict]
        .collect().map(v => v.id -> v).toMap
      assert(got.size == 5)
      assert(got("4").keep && got("4").dup_of.isEmpty,
        s"first-seen doc is the canonical: ${got("4")}")
      assert(got("1").drop_stage.contains("duplicate")
        && got("1").dup_of.contains("4"),
        s"later duplicate points at the first-seen canonical: ${got("1")}")
      assert(got("2").drop_stage.contains("lang"))
      assert(got("3").drop_stage.contains("quality"))
      assert(got("5").drop_stage.contains("contaminated")
        && got("5").n_hits == 1L)
    } finally sq.stop()
  }

  /** The rows a replay of `waves` through `op` emits, rendered without
    * their timestamp fields (sorted, so multiplicities compare too). */
  private def replayed[I: org.apache.spark.sql.Encoder](name: String, waves: Seq[Seq[I]])(
      op: org.apache.spark.sql.Dataset[I] => org.apache.spark.sql.Dataset[_]): Seq[String] =
    StreamingOps.replayWaves(waves, name)(op)(spark, implicitly).collect()
      .map(_.toSeq.filterNot(_.isInstanceOf[Timestamp]).mkString(",")).toSeq.sorted

  test("TTL operators drop null-ts records instead of failing the query") {
    import graft.streaming.StreamingOps._
    implicit val sess = spark
    val (t0, t1) = (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00"))
    val T = Seq("alpha", "beta", "gamma", "delta")
    // wave 2 re-sights wave 1's key with a NULL event time next to a
    // timed record: the null row has no time to place against the
    // horizon, so it is dropped and the query goes on
    assert(replayed("nts_dedup", Seq(
        Seq(TimedDedupRecord("k", "a", t0)),
        Seq(TimedDedupRecord("k", "b", null), TimedDedupRecord("j", "c", t1))))(
        streamExactDedupWithTtl(_)) == Seq("j,c", "k,a"))
    assert(replayed("nts_rate", Seq(
        Seq(RateRecord("k", "a", t0)),
        Seq(RateRecord("k", "b", null), RateRecord("j", "c", t1))))(
        rateLimitWithTtl(_, maxPerWindow = 1, watermark = "1 hour"))
        .map(_.split(",").take(2).mkString(",")) == Seq("j,c", "k,a"))
    assert(replayed("nts_token", Seq(
        Seq(TimedTokenRecord("t", "left", "l1", t0)),
        Seq(TimedTokenRecord("t", "right", "r1", null),
          TimedTokenRecord("t", "right", "r2", t1))))(
        incrementalTokenBlocksWithTtl(_)) == Seq("t,l1,r2"))
    assert(replayed("nts_neardup", Seq(
        Seq(TimedDocRecord("A", T, t0)),
        Seq(TimedDocRecord("B", T, null), TimedDocRecord("C", T, t1))))(
        streamMinHashNearDupWithTtl(_)).distinct == Seq("A,C,1.0"))
    // the batch rate limiter and the rate-limited join drop them too
    import sess.implicits._
    assert(rateLimit(Seq(RateRecord("k", "a", t0), RateRecord("k", "b", null),
        RateRecord("j", "c", t1)).toDS(), maxPerWindow = 1)
      .collect().map(r => s"${r.key},${r.id}").sorted.toSeq == Seq("j,c", "k,a"))
    val clicks = Seq(("u", "c1", t0), ("u", "c2", null)).toDF("user_id", "event_id", "ts")
    val buys = Seq(("u", "p1", t1), ("u", "p2", null)).toDF("user_id", "event_id", "ts")
    assert(rateLimitedIntervalJoin(clicks, buys).collect()
      .map(r => s"${r.getAs[String]("l_id")},${r.getAs[String]("r_id")}").toSeq == Seq("c1,p1"))
  }

  test("a TTL horizon longer than the feed: token, near-dup and dedup TTL forms equal their unbounded forms") {
    import graft.streaming.StreamingOps._
    implicit val sess = spark
    // three event-time-ordered waves over 3 h against a 24-hour ttl, every
    // cap far above the feed, seq rising with ts: nothing can expire or
    // saturate, so both forms must emit the same rows. Record i (its
    // time always at(i)) re-sends record i − 20 every tenth step, which
    // drives the unbounded skip / TTL refresh path.
    val base = ts("2024-01-01 10:00:00").getTime
    def at(i: Int) = new Timestamp(base + i * 60000L)
    def src(i: Int) = if (i % 10 == 9 && i >= 20) i - 20 else i
    def side(i: Int) = if (src(i) % 3 == 0) "left" else "right"
    def toks(i: Int) = (0 until 8).map(j => s"w${src(i) % 20 / 2 * 3 + j}") :+ s"u${src(i) % 5}"
    val waves = (0 until 3).map(w => (w * 60 until w * 60 + 60).filter(_ % 7 != 3))
    def same[A: org.apache.spark.sql.Encoder, B: org.apache.spark.sql.Encoder](
        what: String, unbounded: Int => A, timed: Int => B)(
        u: org.apache.spark.sql.Dataset[A] => org.apache.spark.sql.Dataset[_],
        t: org.apache.spark.sql.Dataset[B] => org.apache.spark.sql.Dataset[_]): Unit = {
      val a = replayed(s"eq_${what}_u", waves.map(_.map(unbounded)))(u)
      val b = replayed(s"eq_${what}_t", waves.map(_.map(timed)))(t)
      assert(a.nonEmpty && a == b, s"$what: unbounded ${a.size} rows vs TTL ${b.size} rows")
    }
    same("token",
        i => TokenRecord(s"k${src(i) % 5}", side(i), s"d${src(i)}"),
        i => TimedTokenRecord(s"k${src(i) % 5}", side(i), s"d${src(i)}", at(i)))(
      incrementalTokenBlocks(_), incrementalTokenBlocksWithTtl(_, ttl = "24 hours"))
    same("neardup",
        i => DocRecord(s"d${src(i)}", toks(i)),
        i => TimedDocRecord(s"d${src(i)}", toks(i), at(i)))(
      streamMinHashNearDup(_), streamMinHashNearDupWithTtl(_, ttl = "24 hours"))
    same("dedup",
        i => DedupRecord(s"c${src(i) % 13}", s"d${src(i)}", i.toLong),
        i => TimedDedupRecord(s"c${src(i) % 13}", s"d${src(i)}", at(i)))(
      streamExactDedup(_), streamExactDedupWithTtl(_, ttl = "24 hours"))
  }
}
