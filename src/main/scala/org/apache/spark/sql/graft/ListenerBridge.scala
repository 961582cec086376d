package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Public bridge over `private[spark] SparkContext.listenerBus`.
  *
  * `graft.Harness.span` reads per-task maxima off a SparkListener after
  * each measured unit; listener events are delivered asynchronously on
  * the listener bus, so reading the maxima right after the job returns
  * can miss the last tasks' events. `LiveListenerBus.waitUntilEmpty` is the
  * canonical flush (Spark's own test harnesses use it) but it is
  * package-private — re-export it from inside the package tree, same
  * placement trick as [[ColumnBridge]].
  */
object ListenerBridge {
  /** Block until every queued listener event has been delivered (or the
    * timeout elapses — swallowed: stale maxima are a measurement nit,
    * not a correctness failure worth killing a 175-query bench run). */
  def flushListenerBus(sc: SparkContext, timeoutMillis: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Release the storage blocks behind a `localCheckpoint()`ed frame.
    *
    * `Dataset.unpersist` only routes through the CacheManager, which
    * never tracked checkpoint RDDs — their MEMORY_AND_DISK blocks live
    * at the RDD level inside the plan's [[
    * org.apache.spark.sql.execution.LogicalRDD]] and otherwise linger
    * until ContextCleaner GC (the executor-storage accumulation a long
    * session running many sealed operators shows). Non-checkpoint
    * frames don't match and are left alone, so callers can pass every
    * sealed input through both paths. */
  def releaseCheckpointBlocks(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
