package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced call: name, parent, wall interval (ms for overlap with task
  * intervals, ns for duration). All spans of a run share the tracer's run
  * id; they stay in memory and are written out when the run ends. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
    startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counts attributed to one span: every task of every job submitted
  * while the span was the innermost open one on the submitting thread. */
final class TaskCounts {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var maxTaskShuffleRecords = 0L
  var spillBytes = 0L
  def add(o: TaskCounts): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    maxTaskShuffleRecords = math.max(maxTaskShuffleRecords, o.maxTaskShuffleRecords)
    spillBytes += o.spillBytes
  }
}

/** Listener half of the tracer. A job inherits the submitting thread's
  * local properties, including the span id the tracer sets there, so a
  * task is attributed to the span that caused it however late its event
  * is delivered. Streaming micro-batches run on a thread the query starts
  * inside the span, and inherit the property the same way. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  val counts = mutable.Map.empty[Int, TaskCounts]
  /** (launch ms, finish ms) of every finished task, for time-without-tasks. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var failedTasks = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(Tracer.NoSpan)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) failedTasks += 1
    taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      val c = counts.getOrElseUpdate(stageSpan.getOrElse(e.stageId, Tracer.NoSpan), new TaskCounts)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.maxTaskShuffleRecords = math.max(c.maxTaskShuffleRecords, m.shuffleReadMetrics.recordsRead)
      c.spillBytes += m.diskBytesSpilled
    }
  }

  def reset(): Unit = synchronized {
    stageSpan.clear(); counts.clear(); taskIntervals.clear(); failedTasks = 0L
  }
}

/** Per-micro-batch progress of the streaming queries a traced pass runs. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { if (e.progress.numInputRows > 0) progress += e.progress }
  def reset(): Unit = synchronized(progress.clear())
}

/** Spans around the calls a traced pass makes into each module. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val listener = new SpanListener
  val progress = new ProgressListener
  sc.addSparkListener(listener)
  spark.streams.addListener(progress)

  def apply[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(Tracer.NoSpan),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Forget the spans and counts of earlier passes. */
  def reset(): Unit = {
    flush(); spans.clear(); listener.reset(); progress.reset()
  }

  /** Wait until every queued listener event has been delivered. */
  def flush(): Unit = org.apache.spark.sql.graft.ListenerBridge.flushListenerBus(sc)

  def close(): Unit = { sc.removeSparkListener(listener); spark.streams.removeListener(progress) }

  /** Spans of the pass as JSON lines, for the run's trace file. */
  def jsonLines(pass: Int): Seq[String] = spans.toSeq.map { s =>
    s"""{"run":"$runId","pass":$pass,"span":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"s":${Main.num(s.seconds)}}"""
  }

  /** The eight counts of every span name in the pass just traced, plus
    * `knn`: the self part (not covered by any child) of each span that
    * encodes, i.e. the blocker call whose `encode` children feed the
    * similarity search. Call after [[flush]]. */
  def spanMetrics(): Map[String, Double] = listener.synchronized {
    val children = spans.groupBy(_.parent)
    def kids(s: Span) = children.getOrElse(s.id, Nil).toSeq
    def subtree(s: Span): Seq[Span] = s +: kids(s).flatMap(subtree)
    val busy = Tracer.union(listener.taskIntervals.toSeq)
    def exclusive(ids: Seq[Int]): TaskCounts = {
      val c = new TaskCounts; ids.flatMap(listener.counts.get).foreach(c.add); c
    }
    def noTaskS(intervals: Seq[(Long, Long)]): Double =
      intervals.map { case (a, b) => (b - a) - Tracer.overlap(busy, a, b) }.sum / 1e3
    final case class Acc(s: Double, self: Double, noTask: Double, c: TaskCounts)
    val byName = mutable.LinkedHashMap.empty[String, Acc]
    def add(name: String, a: Acc): Unit = {
      val prev = byName.getOrElse(name, Acc(0, 0, 0, new TaskCounts))
      prev.c.add(a.c)
      byName(name) = Acc(prev.s + a.s, prev.self + a.self, prev.noTask + a.noTask, prev.c)
    }
    spans.foreach { s =>
      val ks = kids(s)
      add(s.name, Acc(s.seconds, s.seconds - ks.map(_.seconds).sum,
        noTaskS(Seq((s.startMs, s.endMs))), exclusive(subtree(s).map(_.id))))
      if (ks.exists(_.name == "encode")) {
        val gaps = (s.startMs +: ks.map(_.endMs)).zip(ks.map(_.startMs) :+ s.endMs)
        val selfS = s.seconds - ks.map(_.seconds).sum
        add("knn", Acc(selfS, selfS, noTaskS(gaps), exclusive(Seq(s.id))))
      }
    }
    byName.toSeq.flatMap { case (n, a) =>
      Seq(s"$n.s" -> a.s, s"$n.self_s" -> a.self, s"$n.no_task_s" -> a.noTask,
        s"$n.tasks" -> a.c.tasks.toDouble, s"$n.cpu_s" -> a.c.cpuNs / 1e9,
        s"$n.shuffle_write_mb" -> a.c.shuffleWriteBytes / 1e6,
        s"$n.max_task_shuffle_records" -> a.c.maxTaskShuffleRecords.toDouble,
        s"$n.spill_mb" -> a.c.spillBytes / 1e6)
    }.toMap
  }

  /** Streaming progress of the pass: medians over its micro-batches, and
    * the state size after the last one. */
  def waveMetrics(): Map[String, Double] = progress.synchronized {
    val ps = progress.progress.toSeq.sortBy(p => (p.timestamp, p.batchId))
    if (ps.isEmpty) Map.empty
    else {
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
      val last = ps.last.stateOperators
      Map(
        "wave.trigger_ms" -> Stats.median(dur("triggerExecution")),
        "wave.state_rows" -> last.map(_.numRowsTotal).sum.toDouble,
        "wave.state_mem_mb" -> last.map(_.memoryUsedBytes).sum / 1e6,
        "wave.commit_ms" -> Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
        "wave.rows_per_s" -> Stats.median(ps.map(_.processedRowsPerSecond)))
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val NoSpan: Int = -1

  /** Sorted, merged union of closed intervals. */
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Length of [a, b] covered by the merged intervals. */
  def overlap(merged: Seq[(Long, Long)], a: Long, b: Long): Long =
    merged.iterator.map { case (c, d) => math.max(0L, math.min(b, d) - math.max(a, c)) }.sum
}
