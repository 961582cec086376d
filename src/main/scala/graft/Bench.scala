package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line (driver contract).
  *
  * Each query is forced through a noop sink — full materialization of
  * every output column, unlike count() which lets Spark skip projection
  * and sort work. local[32] + 32 shuffle partitions + AQE mirrors the
  * per-executor shape of the target cluster.
  */
object Bench {

  /** The driver keeps only the last this-many chars of stdout. */
  private[graft] val TailWindow = 2000

  /** The last lines Bench prints, in order. The driver parses JSON lines
    * out of its [[TailWindow]]; the full line is longer, so its head is
    * cut and BENCH_r*.json records parsed:null. So the run ends with a
    * compact line guaranteed to fit: headline total + the slowest
    * queries that fit a 1500-char map budget (2 decimals), with the
    * omission counted. The complete map lives in the `out` file and on
    * stderr.
    *
    * Immediately BEFORE it, a short per-task-maxima line for the slowest
    * rows ([tasks, max_task_shuffle_records] — the load-INSENSITIVE
    * adjudication columns): wall seconds on this box stretch up to ~10×
    * under ambient hypervisor load, so a regressed-seconds row with
    * unchanged maxima is mechanically a load window, not a plan change
    * (VERDICT r18 item 6). Its budget is what the compact line leaves of
    * the window, and it keeps a prefix of the slowest-first order (a
    * faster short-named row never displaces a slower one). When the
    * compact line leaves no room even for an empty maxima line, only
    * the compact line is returned. The compact line is LAST and
    * byte-compatible with prior rounds.
    *
    * `results` rows are (query, seconds, ok, metrics JSON). */
  private[graft] def tailLines(results: Seq[(String, Double, Boolean, String)],
      total: Double, failed: String, sfDir: String, out: String): Seq[String] = {
    val bySlow = results.sortBy(-_._2)
    val budget = 1500
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    bySlow.foreach { case (k, v, _, _) =>
      val ent = "\"" + k + "\":" + Harness.fixed(v, 2)
      if (used + ent.length + 1 <= budget) { kept += ent; used += ent.length + 1 }
    }
    val omitted = results.size - kept.size
    val compact =
      s"""{"metric":"total","value":${Harness.fixed(total, 3)},"unit":"sec","queries":${kept.mkString("{", ",", "}")},"queries_omitted":$omitted,"n_queries":${results.size},"failed":$failed,"sf":${Harness.jsonString(sfDir)},"full":${Harness.jsonString(out)}}"""
    // both lines and their newlines inside the window
    val (head, tail) = ("""{"metric":"maxima","top":{""", "}}")
    val mBudget = TailWindow - compact.length - 2 - head.length - tail.length
    val entries = bySlow.map { case (k, _, _, m) =>
      val tasks = "\"tasks\":([0-9]+)".r.findFirstMatchIn(m).map(_.group(1)).getOrElse("0")
      val recs = "\"max_task_shuffle_records\":([0-9]+)".r
        .findFirstMatchIn(m).map(_.group(1)).getOrElse("0")
      "\"" + k + "\":[" + tasks + "," + recs + "]"
    }
    // length of the comma-joined first n entries; keep the longest prefix
    // that fits, i.e. stop at the first entry that does not
    val joined = entries.scanLeft(-1)(_ + _.length + 1).tail
    val mKept = entries.zip(joined).takeWhile(_._2 <= mBudget).map(_._1)
    val maxima = head + mKept.mkString(",") + tail
    if (mBudget >= 0) Seq(maxima, compact) else Seq(compact)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-bench", "spark.ui.enabled" -> "false")
    val only: Option[Set[String]] = args.headOption.map(_.split(",").toSet)
    // untimed warm-up: session/codegen/parquet-footer cold-start otherwise
    // lands on whichever query sorts first (~2-7 s of noise on its number)
    try {
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    } catch { case _: Throwable => () }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (only.exists(!_.contains(name))) None
      else {
        // Per-task maxima recorded NEXT TO each query's seconds: wall
        // time is load-sensitive (a busy box stretches it 1.5-4x, see
        // NOTES_r8 §16) but the worst task's input/shuffle bytes are not
        // — adjudicate with these, not with re-runs.
        val s = Harness.span(name) {
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        }
        // queries persist intermediates and rely on ContextCleaner GC to
        // unpersist; across 65 queries in ONE JVM the storage pool fills
        // and later queries pay eviction + GC. Clear between queries so
        // each is measured independently (the cleanup is outside the
        // query's own timer on purpose — a real pipeline runs one job).
        spark.catalog.clearCache()
        System.err.println(f"[bench] $name%-28s ${s.seconds}%8.2f s  ${s.summaryLine}" +
          (if (s.result) "" else "  FAILED"))
        Some((name, s.seconds, s.result, s.snapshotJson))
      }
    }
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + Harness.fixed(v, 3) }.mkString("{", ",", "}")
    val ms = results.map { case (k, _, _, m) => "\"" + k + "\":" + m }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _) => "\"" + k + "\"" }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val json =
      s"""{"metric":"total","value":${Harness.fixed(total, 3)},"unit":"sec","queries":$qs,"metrics":$ms,"failed":$failed,"sf":${Harness.jsonString(sfDir)}}"""
    // Print to stdout AND write to a file: under sbt, println goes through
    // the [info] logger, which the driver's JSON-line scraper can't parse.
    println(json)
    // Subset runs (a query-list arg) are local iteration, not a pin or a
    // driver artifact — route them to bench_partial.json UNCONDITIONALLY
    // (the SPARK_GRAFT_BENCH_OUT override applies to full runs only).
    // Full runs default to bench_run.json, NOT bench.json: the pin file
    // is written only by tools/pin_baseline.py from a load-gated pair,
    // so a driver or ad-hoc run can never leave the committed pin dirty
    // in the working tree (r14 verdict item 7).
    val out =
      if (only.isDefined) "bench_partial.json"
      else sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_run.json")
    Harness.writeArtifact(out, json)
    tailLines(results, total, failed, sfDir, out).foreach(println)
    spark.stop()
  }
}
