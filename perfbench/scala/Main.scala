package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it, and that
    * percentile; the median when the sample is too small to have one. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 21) (median(xs), 50.0)
    else {
      val s = xs.sorted
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size)
    }
}

/** In-process benchmark driver: one JVM on local[cpus], set up once, then
  * closed-loop passes of one workload (one client; the next pass starts
  * when the previous one and its output check are done).
  *
  * {{{
  * perfbench.Main --workload er_token --inputs DIR --work DIR --seconds 20
  *   --trace 0|1 --cpus 4 [--param key=value ...]
  * }}}
  *
  * Prints one line `PERFBENCH {json}` on stdout: passes attempted and
  * failed, the first failure messages, and the metric values of the run
  * (units are the caller's) — end-to-end metrics untraced (`--trace 0`),
  * per-layer metrics from traced passes (`--trace 1`).
  */
object Main {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  private def session(workload: String, cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      // the settings of Experiment.main and Curate.main
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => (k.drop(2), v) }.toSeq
    val o = opts.filter(_._1 != "param").toMap
    val params = opts.filter(_._1 == "param").map { case (_, kv) =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val name = o("workload")
    val work = o("work")
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cpus = o("cpus").toInt
    val w = Workload(name, o("inputs"), work, params)

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val quality = mutable.ArrayBuffer.empty[Checked]
    def checked(spark: SparkSession)(pass: => PassOutput): Option[PassOutput] = {
      attempted += 1
      try {
        val out = pass
        val c = w.check(spark, out)
        c.error.foreach(failures += _)
        quality += c
        Some(out)
      } catch {
        case e: Exception => failures += s"${e.getClass.getName}: ${e.getMessage}"; None
      }
    }

    // set-up, timed from JVM start: the session plus one untimed warm-up
    // pass, which pays class loading and most of the JIT warm-up
    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = session(name, cpus, work)
    val sessionUp = sinceStart
    val warmup = w.run(spark)
    val setup = sinceStart
    checked(spark)(warmup)
    // peak memory from here on; without the reset, VmHWM covers the set-up
    try java.nio.file.Files.write(java.nio.file.Paths.get("/proc/self/clear_refs"), "5".getBytes)
    catch { case _: java.io.IOException => () }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
    info("setup_s") = num(setup)
    info("session_up_s") = num(sessionUp)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def timeLeft = System.nanoTime() < deadline

    final case class Timed(wall: Double, cpu: Double, gc: Double, out: Option[PassOutput])
    def timed(pass: => PassOutput): Timed = {
      val (c0, g0, t0) = (processCpuNs, gcMs, System.nanoTime())
      var wall = 0.0; var cpu = 0.0; var gc = 0.0
      val out = checked(spark) {
        val r = pass
        wall = (System.nanoTime() - t0) / 1e9; cpu = (processCpuNs - c0) / 1e9; gc = (gcMs - g0) / 1e3
        r
      }
      Timed(wall, cpu, gc, out)
    }

    if (!trace) {
      val passes = mutable.ArrayBuffer.empty[Timed]
      while (passes.size < 2 || timeLeft) passes += timed(w.run(spark))
      val ok = passes.filter(_.out.isDefined)
      val rss = peakRssMb
      if (ok.nonEmpty) {
        val wall = Stats.median(ok.map(_.wall).toSeq)
        val waves = ok.flatMap(p => if (p.out.get.waveS.nonEmpty) p.out.get.waveS else Seq(p.wall)).toSeq
        val (tail, pct) = Stats.tail(waves)
        metrics ++= Seq(
          "setup_s" -> setup,
          "wall_s" -> wall,
          "throughput_rps" -> w.records / wall,
          "cpu_s" -> Stats.median(ok.map(_.cpu).toSeq),
          "peak_rss_mb" -> rss,
          "wave_p50_s" -> Stats.median(waves),
          "recall" -> Stats.median(quality.map(_.recall).toSeq),
          "reduction_ratio" -> Stats.median(quality.map(_.reductionRatio).toSeq))
        info ++= Seq("timed_passes" -> ok.size.toString, "wave_samples" -> waves.size.toString,
          "wave_tail_s" -> num(tail), "wave_tail_percentile" -> num(pct),
          "pass_wall_s" -> ok.map(p => num(p.wall)).mkString("[", ",", "]"))
      }
    } else {
      // traced and untraced passes alternate, so that their difference is
      // the tracing overhead under the same conditions
      val tracer = new Tracer(spark, java.util.UUID.randomUUID().toString)
      val plain = mutable.ArrayBuffer.empty[Timed]
      val traced = mutable.ArrayBuffer.empty[(Timed, Map[String, Double])]
      val spanLines = mutable.ArrayBuffer.empty[String]
      while (traced.size < 2 || plain.size < 2 || timeLeft) {
        plain += timed(w.run(spark))
        tracer.reset()
        val t = timed(w.traced(spark, tracer))
        tracer.flush()
        spanLines ++= tracer.jsonLines(traced.size)
        val top = tracer.spans.filter(_.parent == Tracer.NoSpan).map(_.seconds).sum
        val perPass = tracer.spanMetrics() ++ tracer.waveMetrics() ++
          t.out.map(_.layer).getOrElse(Map.empty) ++ Map(
            "spark.gc_s" -> t.gc,
            "spark.failed_tasks" -> tracer.listener.failedTasks.toDouble,
            "trace.traced_wall_s" -> t.wall,
            "trace.unaccounted_share" -> (t.wall - top) / t.wall)
        traced += ((t, perPass))
      }
      tracer.close()
      val ok = traced.filter(_._1.out.isDefined).map(_._2)
      val keys = ok.flatMap(_.keys).distinct
      keys.foreach(k => metrics(k) = Stats.median(ok.map(_.getOrElse(k, 0.0)).toSeq))
      val untraced = Stats.median(plain.filter(_.out.isDefined).map(_.wall).toSeq)
      metrics("trace.untraced_wall_s") = untraced
      metrics("trace.overhead_s") = metrics("trace.traced_wall_s") - untraced
      try metrics ++= w.probes(spark)
      catch { case e: Exception => failures += s"probe: ${e.getClass.getName}: ${e.getMessage}" }
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/spans.jsonl"),
        spanLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      info("traced_passes") = traced.size.toString
      info("untraced_passes") = plain.size.toString
    }
    spark.stop()

    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    val m = metrics.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")
    val i = info.map { case (k, v) => s"${str(k)}:${if (v.startsWith("[")) v else str(v)}" }.mkString(",")
    println(s"""PERFBENCH {"attempted":$attempted,"failed":${failures.size},""" +
      s""""failures":${failures.take(5).map(str).mkString("[", ",", "]")},""" +
      s""""metrics":{$m},"info":{$i}}""")
  }
}
