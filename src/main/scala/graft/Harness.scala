package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The spine every Spark main shares: one session builder, one measured
  * span, one number formatter, one JSON string escaper and one artifact
  * write. A main keeps only what it needs differently at its call site
  * (master, AQE, skew-join, UI and log level).
  *
  * The driver heap is NOT a session setting: `spark.driver.memory` has no
  * effect once the JVM runs, so under `sbt run` the heap is build.sbt's
  * `-Xmx$SPARK_DRIVER_MEM` (and spark-submit's `--driver-memory`).
  */
object Harness {

  /** The one `SparkSession.builder()` of the mains: master
    * `SPARK_GRAFT_MASTER`, else `local[$SPARK_GRAFT_CPUS]` (default 32)
    * with as many shuffle partitions, UTC session time,
    * nanosecond parquet timestamps read as longs (see
    * `QueryDef.normalizeEventTs`) and log level WARN (ERROR for the
    * released-checkpoint notices). `conf` pairs are
    * applied last, so a main can override any of these. */
  def session(app: String, conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val base = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // operators free their local checkpoints on purpose (CacheScope), and
    // Spark warns once per freed checkpoint RDD; the test scope's
    // log4j2.properties silences the same logger
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** One measured unit: its result, wall seconds and the max-observed
    * per-task metrics across every job it ran.
    *
    * The point of per-TASK maxima (vs wall time): they are
    * load-insensitive. A busy box stretches wall-clock but does not
    * change how many bytes the worst task read or shuffled — so a unit
    * whose seconds regressed but whose task maxima are unchanged is a
    * load window, and a unit whose maxima grew is a real plan
    * regression. These are also the numbers that decide 100 TB survival:
    * the largest task is what an executor must hold, regardless of
    * cluster size. */
  final case class Span[A](
      result: A, seconds: Double, tasks: Long,
      maxInputBytes: Long, maxShuffleReadBytes: Long,
      maxShuffleReadRecords: Long, maxShuffleWriteBytes: Long,
      spillBytes: Long) {

    /** One compact JSON object of the maxima (MB at 1 decimal — enough
      * to separate a 16 MB task from a 160 MB one). */
    def snapshotJson: String = {
      def mb(b: Long): String = fixed(b / 1e6, 1)
      s"""{"max_task_input_mb":${mb(maxInputBytes)},""" +
        s""""max_task_shuffle_read_mb":${mb(maxShuffleReadBytes)},""" +
        s""""max_task_shuffle_write_mb":${mb(maxShuffleWriteBytes)},""" +
        s""""max_task_shuffle_records":$maxShuffleReadRecords,""" +
        s""""spill_mb":${mb(spillBytes)},"tasks":$tasks}"""
    }

    def summaryLine: String = {
      def mb0(b: Long): String = fixed(b / 1e6, 0)
      s"maxTaskIn=${mb0(maxInputBytes)}MB " +
        s"maxShufRead=${mb0(maxShuffleReadBytes)}MB " +
        s"maxShufWrite=${mb0(maxShuffleWriteBytes)}MB " +
        s"maxShufRecords=$maxShuffleReadRecords spill=${mb0(spillBytes)}MB"
    }
  }

  /** Task-end maxima of the jobs run while registered (spill is summed). */
  private final class TaskMax extends SparkListener {
    var tasks, maxIn, maxShufRead, maxShufRecords, maxShufWrite, spill = 0L

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) synchronized {
        tasks += 1
        maxIn = math.max(maxIn, m.inputMetrics.bytesRead)
        maxShufRead = math.max(maxShufRead, m.shuffleReadMetrics.totalBytesRead)
        maxShufRecords = math.max(maxShufRecords, m.shuffleReadMetrics.recordsRead)
        maxShufWrite = math.max(maxShufWrite, m.shuffleWriteMetrics.bytesWritten)
        spill += m.diskBytesSpilled
      }
    }
  }

  /** Run `f` as one measured unit on the active session; its jobs carry
    * `name` as their job description. Listener events arrive
    * asynchronously, so the bus is flushed before the span's listener is
    * added (no earlier unit's tasks leak in) and before it is read (no
    * task of this unit is missed). Cleanup between units is the
    * caller's policy. */
  def span[A](name: String)(f: => A): Span[A] = {
    val sc = SparkSession.active.sparkContext
    def flush(): Unit = org.apache.spark.sql.graft.ListenerBridge.flushListenerBus(sc)
    val l = new TaskMax
    flush()
    sc.addSparkListener(l)
    val description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    val t0 = System.nanoTime()
    val (result, seconds) =
      try { val r = f; (r, (System.nanoTime() - t0) / 1e9) }
      finally {
        sc.setJobDescription(description)
        flush()
        sc.removeSparkListener(l)
      }
    l.synchronized {
      Span(result, seconds, l.tasks, l.maxIn, l.maxShufRead,
        l.maxShufRecords, l.maxShufWrite, l.spill)
    }
  }

  /** `v` with `decimals` fixed decimals in Locale.ROOT: `f"%.1f"` uses the
    * JVM default locale, and a comma-decimal locale writes invalid JSON. */
  def fixed(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** `s` as a JSON string literal: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or CR in a path or in SQL would
    * otherwise make the consumer's JSON parse fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Write one artifact line (plus newline) to `path` in UTF-8,
    * replacing the file and creating missing parent directories. */
  def writeArtifact(path: String, line: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, (line + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
