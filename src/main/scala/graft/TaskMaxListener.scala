package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Max-observed per-task metrics across every job run while registered.
  *
  * The point of per-TASK maxima (vs wall time): they are
  * load-insensitive. A busy box stretches wall-clock but does not change
  * how many bytes the worst task read or shuffled — so a bench row whose
  * seconds regressed but whose task maxima are unchanged is a load
  * window, and a row whose maxima grew is a real plan regression. These
  * are also the numbers that decide 100 TB survival: the largest task is
  * what an executor must hold, regardless of cluster size.
  *
  * Shared by [[Bench]] (per-query metrics in bench.json) and
  * [[ScaleCurve]] (per-operator growth curves). Reset between measured
  * units; flush the listener bus (ListenerBridge.flushListenerBus)
  * before reading — task-end events are delivered asynchronously.
  */
final class TaskMaxListener extends SparkListener {
  @volatile var maxInputBytes = 0L
  @volatile var maxShuffleReadBytes = 0L
  @volatile var maxShuffleReadRecords = 0L
  @volatile var maxShuffleWriteBytes = 0L
  @volatile var spillBytes = 0L // summed disk spill across tasks
  @volatile var tasks = 0L

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) synchronized {
      tasks += 1
      maxInputBytes = math.max(maxInputBytes, m.inputMetrics.bytesRead)
      maxShuffleReadBytes =
        math.max(maxShuffleReadBytes, m.shuffleReadMetrics.totalBytesRead)
      maxShuffleReadRecords =
        math.max(maxShuffleReadRecords, m.shuffleReadMetrics.recordsRead)
      maxShuffleWriteBytes =
        math.max(maxShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten)
      spillBytes += m.diskBytesSpilled
    }
  }

  def reset(): Unit = synchronized {
    maxInputBytes = 0L; maxShuffleReadBytes = 0L
    maxShuffleReadRecords = 0L; maxShuffleWriteBytes = 0L
    spillBytes = 0L; tasks = 0L
  }

  /** One compact JSON object of the current maxima (MB at 1 decimal —
    * enough to separate a 16 MB task from a 160 MB one). Formatted with
    * Locale.ROOT: `f"%.1f"` uses the JVM default locale, and a
    * comma-decimal locale would emit invalid JSON. */
  def snapshotJson: String = synchronized {
    def mb(b: Long): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(b / 1e6))
    s"""{"max_task_input_mb":${mb(maxInputBytes)},""" +
      s""""max_task_shuffle_read_mb":${mb(maxShuffleReadBytes)},""" +
      s""""max_task_shuffle_write_mb":${mb(maxShuffleWriteBytes)},""" +
      s""""max_task_shuffle_records":$maxShuffleReadRecords,""" +
      s""""spill_mb":${mb(spillBytes)},"tasks":$tasks}"""
  }

  def summaryLine: String = synchronized {
    def mb0(b: Long): String =
      String.format(java.util.Locale.ROOT, "%.0f", Double.box(b / 1e6))
    s"maxTaskIn=${mb0(maxInputBytes)}MB " +
      s"maxShufRead=${mb0(maxShuffleReadBytes)}MB " +
      s"maxShufWrite=${mb0(maxShuffleWriteBytes)}MB " +
      s"maxShufRecords=$maxShuffleReadRecords spill=${mb0(spillBytes)}MB"
  }
}
