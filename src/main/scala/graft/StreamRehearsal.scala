package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Text
import graft.streaming.StreamingOps

/** Streaming counterpart of [[ScaleCurve]]: feed the ×N skewed
  * corpus ([[ScaleCurve.skewedDocs]]) through the stateful operators in
  * rate-limited micro-batches and record, PER BATCH, the stream's own
  * state-store size (`stateOperators.numRowsTotal`) and trigger
  * duration — the evidence that state stays bounded by the admission
  * caps while load keeps arriving:
  *
  *   - `streamMinHashNearDup`: state rows = band buckets; the injected
  *     boilerplate bucket saturates at `maxIdsPerBucket` signatures and
  *     then admits nothing, so batch duration stays flat instead of
  *     growing with the B² candidate blowup;
  *   - `incrementalTokenBlocks`: state rows = distinct shingle keys;
  *     hot keys freeze at `maxIdsPerSide`;
  *   - `streamFunnel`: state rows = distinct users (one O(1) row each);
  *     once the population has been seen, state is FLAT across batches.
  *   - `StreamingCuration.verdicts`: state rows = distinct surviving
  *     dup keys; the recrawl feed (every wave re-delivers the whole
  *     corpus under fresh ids) must plateau after wave 1 while later
  *     waves' copies all resolve to `duplicate`.
  *
  * MemoryStream feeds batches from the driver — a rehearsal harness
  * convenience, not a scale claim about the feed; the operators under
  * test only ever see an `addData` + `processAllAvailable` micro-batch,
  * exactly what a Kafka source would hand them.
  *
  * Prints one markdown table per operator + one JSON line (NOTES
  * material, not a driver contract).
  *
  * Usage: `runMain graft.StreamRehearsal [sfDir] [copies] [cap] [batches]`
  * (defaults: /root/testdata/sf0.1, 10, 256, 10).
  */
object StreamRehearsal {

  final case class BatchRow(batch: Int, input: Long, stateRows: Long,
      outRows: Long, durMs: Long)

  /** One streamed ANN query vector (public: janino + encoders). */
  final case class AnnQuery(id: Long, vec: Seq[Double])

  /** Drive `batches` through a started query, reading state rows and
    * trigger duration off the progress events. An EMPTY wave triggers no
    * micro-batch, so progress would still describe the previous one —
    * report it as an explicit zero row instead of re-reporting stale
    * numbers under a new index.
    *
    * One wave can span SEVERAL micro-batches: a watermarked query runs
    * an extra no-data batch after the data batch (watermark update +
    * event-time timeout processing), and `lastProgress` then describes
    * the empty one — output rows read 0 while the memory sink holds the
    * emitted pairs (the round-14 TTL rows' repro). Aggregate every
    * progress event the wave produced instead: output rows and trigger
    * time SUM across them; state rows come from the LAST event carrying
    * state operators (post-timeout, the accurate end-of-wave store
    * size). */
  private def drive[A](mem: MemoryStream[A], sq: StreamingQuery,
      batches: Seq[Seq[A]]): Seq[BatchRow] = {
    var lastBatchId = -1L
    batches.zipWithIndex.map { case (b, i) =>
      if (b.isEmpty) BatchRow(i + 1, 0L, -1L, 0L, 0L)
      else {
        mem.addData(b)
        sq.processAllAvailable()
        val ps = sq.recentProgress.filter(_.batchId > lastBatchId)
        if (ps.nonEmpty) lastBatchId = ps.map(_.batchId).max
        val out = ps.map(p =>
          math.max(0L, Option(p.sink).map(_.numOutputRows).getOrElse(0L))).sum
        val state = ps.reverse.collectFirst {
          case p if Option(p.stateOperators).exists(_.nonEmpty) =>
            p.stateOperators.map(_.numRowsTotal).sum
        }.getOrElse(-1L)
        val dur = ps.map(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.longValue)
            .getOrElse(0L)).sum
        BatchRow(i + 1, b.size.toLong, state, out, dur)
      }
    }
  }

  private def report(name: String, rows: Seq[BatchRow]): String = {
    println(s"\n### $name (output rows: ${rows.map(_.outRows).sum})\n")
    println("| batch | input rows | state rows total | output rows | trigger ms |")
    println("|---|---|---|---|---|")
    rows.foreach(r => println(
      s"| ${r.batch} | ${r.input} | ${r.stateRows} | ${r.outRows} | ${r.durMs} |"))
    s""""$name":{"out":${rows.map(_.outRows).sum},"batches":[""" + rows.map(r =>
      s"""{"b":${r.batch},"in":${r.input},"state":${r.stateRows},"out":${r.outRows},"ms":${r.durMs}}""")
      .mkString(",") + "]}"
  }

  /** One adjudicable summary row per operator — the streaming analog of
    * bench.json's per-task maxima. The LOAD-INSENSITIVE columns are the
    * state/row counts (plan + cap determined, deterministic for a fixed
    * corpus): input, output, final and max state rows, plus two
    * boundedness signals:
    *
    *   - `state_plateau`: the state readings in the run's last quarter
    *     are non-increasing — flat (the population/keyspace has been
    *     fully seen, the streamFunnel shape: per-user O(1) rows) or
    *     SHRINKING (a TTL'd store expiring more than it admits once the
    *     horizon passes). The claim the flag makes is "not growing";
    *     requiring exact flatness used to report a shrinking TTL tail
    *     as `false`, contradicting its own negative growth ratio;
    *   - `tail_growth_ratio`: (second-half state growth) / (first-half
    *     state growth). Operators whose state tracks DISTINCT keys
    *     (band buckets, shingle keys) legitimately keep admitting new
    *     keys as mutated waves arrive — their boundedness claim is the
    *     per-key cap (and the flat trigger times), not total-row
    *     flatness; this ratio decelerating (< 1) plus flat triggers is
    *     the healthy signature, a ratio ≥ 1 with growing triggers is a
    *     real leak.
    *
    * Trigger milliseconds are the load-sensitive secondary, summarized
    * as median/max. Adjudication rule: a trigger-time regression with
    * unchanged state columns is a load window; a grown `max_state`, a
    *  flipped `state_plateau`, or a jumped `tail_growth_ratio` is a
    * real plan/cap change. */
  private def summaryJson(name: String, rows: Seq[BatchRow]): String = {
    val real = rows.filter(_.stateRows >= 0)
    val states = real.map(_.stateRows)
    val durs = real.map(_.durMs).sorted
    val med = if (durs.isEmpty) 0L else durs(durs.size / 2)
    val quarter = states.takeRight(math.max(1, states.size / 4))
    // non-increasing tail: flat OR shrinking both mean "bounded"
    val plateau = states.nonEmpty &&
      quarter.lazyZip(quarter.drop(1)).forall(_ >= _)
    val growthRatio =
      if (states.size < 3) -1.0
      else {
        val mid = states(states.size / 2 - 1)
        val firstHalf = math.max(1L, mid - states.head)
        (states.last - mid).toDouble / firstHalf
      }
    val gr = Harness.fixed(growthRatio, 2)
    s""""$name":{"in":${rows.map(_.input).sum},"out":${rows.map(_.outRows).sum},""" +
      s""""batches":${rows.size},"final_state":${states.lastOption.getOrElse(-1L)},""" +
      s""""max_state":${if (states.isEmpty) -1L else states.max},""" +
      s""""state_plateau":$plateau,"tail_growth_ratio":$gr,""" +
      s""""trigger_ms_median":$med,"trigger_ms_max":${if (durs.isEmpty) 0L else durs.last}}"""
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val cap = args.drop(2).headOption.map(_.toInt).getOrElse(256)
    val nBatches = args.drop(3).headOption.map(_.toInt).getOrElse(10)
    implicit val spark: SparkSession = Harness.session("graft-stream-rehearsal",
      "spark.sql.adaptive.enabled" -> "false", // streaming: fixed plan
      "spark.ui.enabled" -> "false")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // ---- the ×copies skewed corpus, tokenized once, split into batches
    // by arrival wave (copy ordinal): every wave re-delivers a
    // near-duplicate of the whole base corpus — the worst case for
    // near-dup state, and the boilerplate bucket gets hotter every wave.
    val docs = ScaleCurve.skewedDocs(spark, dir, copies)
      .select(col("id"),
        Text.wordShingles(
          Text.tokenize(col("text"), minLength = 1, stopwords = Nil), 3)
          .as("tokens"))
    val docRecords: Seq[(Int, StreamingOps.DocRecord)] = docs
      .select(col("id"), col("tokens"))
      .as[(String, Seq[String])]
      .collect().toSeq
      .map { case (id, toks) =>
        (id.split("_").last.toInt % nBatches,
          StreamingOps.DocRecord(id, toks.distinct))
      }
    val docBatches = (0 until nBatches).map(w => docRecords.collect {
      case (b, r) if b == w => r
    })
    println(s"corpus: ${docRecords.size} docs in $nBatches waves, cap=$cap")

    // ---- streamMinHashNearDup -------------------------------------------
    val memN = MemoryStream[StreamingOps.DocRecord]
    val ndQ = StreamingOps.streamMinHashNearDup(
        memN.toDS(), 16, 4, 0.375, maxIdsPerBucket = cap)
      .writeStream.format("noop")
      .outputMode("append").start()
    val ndRows = drive(memN, ndQ, docBatches)
    ndQ.stop()
    val j1 = report("stream_neardup", ndRows)

    // ---- incrementalTokenBlocks -----------------------------------------
    // shingle-keyed two-sided records; the boilerplate shingles are the
    // hot keys (every fifth doc carries them in every wave)
    val tokRecords: Seq[(Int, StreamingOps.TokenRecord)] = docRecords.flatMap {
      case (w, d) =>
        val side = if (d.id.hashCode % 2 == 0) "left" else "right"
        d.tokens.map(t => (w, StreamingOps.TokenRecord(t, side, d.id)))
    }
    val tokBatches = (0 until nBatches).map(w => tokRecords.collect {
      case (b, r) if b == w => r
    })
    val memT = MemoryStream[StreamingOps.TokenRecord]
    val tkQ = StreamingOps.incrementalTokenBlocks(
        memT.toDS(), maxIdsPerSide = cap)
      .writeStream.format("noop")
      .outputMode("append").start()
    val tkRows = drive(memT, tkQ, tokBatches)
    tkQ.stop()
    val j2 = report("incremental_token_pairs", tkRows)

    // ---- TTL variants: the same recrawl waves under a bounded horizon --
    // Waves stamped one hour apart; ttl = 150 min ⇒ only ~2.5 waves of
    // state may live at once, so state must stop growing with the wave
    // count (the round-13 `state_plateau: false` rows, bounded): per-wave
    // one-off keys die 3 waves later via the event-time timeout, the
    // recurring boilerplate keys stay refreshed (and capped). Expect
    // `tail_growth_ratio` ≈ 0 and `max_state` ≈ 3 waves' key count,
    // versus the unbounded rows' linear growth.
    val waveBase = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def waveTs(w: Int) = new java.sql.Timestamp(waveBase + w.toLong * 3600000L)
    val memNT = MemoryStream[StreamingOps.TimedDocRecord]
    val ndtQ = StreamingOps.streamMinHashNearDupWithTtl(
        memNT.toDS(), 16, 4, 0.375, maxIdsPerBucket = cap,
        ttl = "150 minutes", watermark = "0 seconds")
      .writeStream.format("noop").outputMode("append").start()
    val docBatchesT = docBatches.zipWithIndex.map { case (b, w) =>
      b.map(d => StreamingOps.TimedDocRecord(d.id, d.tokens, waveTs(w)))
    }
    val ndtRows = drive(memNT, ndtQ, docBatchesT)
    ndtQ.stop()
    val j1t = report("stream_neardup_ttl", ndtRows)

    val memTT = MemoryStream[StreamingOps.TimedTokenRecord]
    val tktQ = StreamingOps.incrementalTokenBlocksWithTtl(
        memTT.toDS(), maxIdsPerSide = cap,
        ttl = "150 minutes", watermark = "0 seconds")
      .writeStream.format("noop").outputMode("append").start()
    val tokBatchesT = tokBatches.zipWithIndex.map { case (b, w) =>
      b.map(r => StreamingOps.TimedTokenRecord(r.key, r.side, r.id, waveTs(w)))
    }
    val tktRows = drive(memTT, tktQ, tokBatchesT)
    tktQ.stop()
    val j2t = report("incremental_token_pairs_ttl", tktRows)

    // ---- streamFunnel ----------------------------------------------------
    // events table replayed copies× with per-copy salted users; batches
    // split by time order so state growth = newly seen users per batch
    val stages = Seq("signup", "view", "purchase")
    val idx = stages.zipWithIndex
      .foldLeft(lit(0)) { case (acc, (n, i)) =>
        when(col("event_type") === n, i + 1).otherwise(acc)
      }
    val evBase = queries.QueryDef.events(spark, dir)
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id").cast("string").as("u"), idx.as("stage"),
        unix_micros(col("ts")).as("us"), col("event_id").cast("long").as("id"))
    val evRecords = evBase
      .select(col("u"), col("stage"), col("us"), col("id"),
        explode(sequence(lit(0), lit(copies - 1))).as("copy"))
      .select(concat(col("u"), lit("_"), col("copy")).as("key"),
        col("stage").cast("int").as("stage"), col("us"), col("id"))
      .as[StreamingOps.FunnelEvent]
      .collect().toSeq.sortBy(e => (e.us, e.key))
    val evBatches = evRecords.grouped(
      math.max(1, (evRecords.size + nBatches - 1) / nBatches)).toSeq
    val memF = MemoryStream[StreamingOps.FunnelEvent]
    val fQ = StreamingOps.streamFunnel(memF.toDS(), stages.size, 7 * 86400L)
      .writeStream.format("noop")
      .outputMode("append").start()
    val fRows = drive(memF, fQ, evBatches)
    fQ.stop()
    val j3 = report("stream_funnel", fRows)

    // ---- streaming curation ---------------------------------------------
    // the recrawl scenario: every wave re-delivers the WHOLE base corpus
    // under fresh ids with unchanged text, so the dup-canonical state
    // must PLATEAU after wave 1 (distinct surviving content fully seen)
    // while each later wave's copies resolve to 'duplicate' against the
    // first-seen canonicals. The benchmark (src0) stays fixed while the
    // corpus grows — the cur_verdicts broadcast contract.
    val curBase = spark.read.parquet(s"$dir/documents.parquet")
    val curBench = curBase.filter(col("source") === "src0")
      .select(col("doc_id"), col("text"))
    val curRecords: Seq[(Int, (String, String))] = curBase
      .filter(col("source") =!= "src0")
      .select(col("doc_id").cast("string"), col("text"))
      .as[(String, String)].collect().toSeq
      .flatMap { case (id, text) =>
        (0 until nBatches).map(w => (w, (s"${id}_$w", text)))
      }
    val curBatches = (0 until nBatches).map(w => curRecords.collect {
      case (b, r) if b == w => r
    })
    val memC = MemoryStream[(String, String)]
    val cQ = graft.streaming.StreamingCuration.verdicts(
        memC.toDF().toDF("doc_id", "text"), curBench,
        allowedLangs = Seq("en", "de", "fr"), contamN = 4)
      .writeStream.format("noop").outputMode("append").start()
    val cRows = drive(memC, cQ, curBatches)
    cQ.stop()
    val j4 = report("stream_curation", cRows)

    // ---- streaming curation, TTL'd (the --state-ttl front-door form) -----
    // FRESH content each wave (texts salted per wave → new dup_keys):
    // the open-ended-feed shape where the unbounded form's canonical
    // store grows linearly with the wave count, forever. With
    // state-ttl 150 min and waves an hour apart, a wave's canonicals
    // expire ~3 waves after their last sighting, so state must PLATEAU
    // at ~3 waves' distinct content while output stays per-wave flat —
    // the composed-pipeline analog of the *_ttl operator rows above.
    val memCT = MemoryStream[(String, String, java.sql.Timestamp)]
    val ctQ = graft.streaming.StreamingCuration.verdicts(
        memCT.toDF().toDF("doc_id", "text", "ts"), curBench,
        allowedLangs = Seq("en", "de", "fr"), contamN = 4,
        stateTtl = Some("150 minutes"), tsCol = "ts")
      .writeStream.format("noop").outputMode("append").start()
    val curBatchesT = (0 until nBatches).map { w =>
      curRecords.collect { case (b, (id, text)) if b == w =>
        (id, s"$text wavesalt$w", waveTs(w))
      }
    }
    val ctRows = drive(memCT, ctQ, curBatchesT)
    ctQ.stop()
    val j4t = report("stream_curation_ttl", ctRows)

    // ---- streaming ANN serving (stateless by construction) ---------------
    // st_ann_serve / AnnServing.serveIvfPq: static IVF-PQ index
    // (plan-time centroid snapshot, k-rows bounded), per-wave query
    // batches. The fMGWS top-k group's candidates all derive inside its
    // own micro-batch, so it emits once and REMOVES its state — the
    // store must read 0 rows after EVERY wave regardless of wave count,
    // and output must be per-wave flat (k hits per query). This row
    // documents the streaming board's one stateful-API-but-stateless
    // operator; no TTL twin exists because there is nothing to bound.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val annIndex = graft.similarity.IndexStore.buildIvfPq(
      emb.filter(col("vec_id") % 2 === 1)
        .select(col("label").cast("string").as("bucket"),
          col("vec_id").as("id"), col("embedding").as("vec")))
    val annBase = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Double])].collect().toSeq
    // every wave re-queries the full query side under salted ids — the
    // serving recrawl shape (id*waves+w keeps the long-id tie-break)
    val annBatches = (0 until nBatches).map { w =>
      annBase.map { case (id, v) => AnnQuery(id * nBatches + w, v) }
    }
    val memA = MemoryStream[AnnQuery]
    val aQ = graft.streaming.AnnServing.serveIvfPq(
        memA.toDF(), annIndex, 3, rankScale = 6)
      .writeStream.format("noop").outputMode("append").start()
    val aRows = drive(memA, aQ, annBatches)
    aQ.stop()
    val j5 = report("stream_ann_serve", aRows)

    println(s"""{"dir":${Harness.jsonString(dir)},"copies":$copies,"cap":$cap,$j1,$j2,$j1t,$j2t,$j3,$j4,$j4t,$j5}""")
    // sibling bench artifact: one line of adjudicable per-operator
    // summary rows (same maxima-first discipline as bench.json — see
    // [[summaryJson]]), re-runnable via
    //   runMain graft.StreamRehearsal [sfDir] [copies] [cap] [batches]
    val summary = s"""{"metric":"stream","dir":${Harness.jsonString(dir)},"copies":$copies,""" +
      s""""cap":$cap,${summaryJson("stream_neardup", ndRows)},""" +
      s"""${summaryJson("incremental_token_pairs", tkRows)},""" +
      s"""${summaryJson("stream_neardup_ttl", ndtRows)},""" +
      s"""${summaryJson("incremental_token_pairs_ttl", tktRows)},""" +
      s"""${summaryJson("stream_funnel", fRows)},""" +
      s"""${summaryJson("stream_curation", cRows)},""" +
      s"""${summaryJson("stream_curation_ttl", ctRows)},""" +
      s"""${summaryJson("stream_ann_serve", aRows)}}"""
    println(summary)
    Harness.writeArtifact(
      sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH_OUT", "bench_stream.json"), summary)
    spark.stop()
  }
}
