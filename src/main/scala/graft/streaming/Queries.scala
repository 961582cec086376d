package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** How graft starts a streaming query, so that a query resumed in the
  * same driver reuses the code its predecessors compiled.
  *
  * A streaming query runs in a clone of the session that starts it, and
  * each clone has a new session id. With artifact isolation on (Spark's
  * default), an executor builds a new class loader for every session id,
  * and Spark's codegen cache is keyed on (class loader, code). So every
  * resumed query misses the cache: a `Curate --stream` wave recompiled
  * 13–14 classes in its micro-batch tasks and kept one more dead loader.
  * The clone copies the session conf when `start()` builds it, so
  * [[start]] turns isolation off for that moment only: the clone's tasks
  * then run in the executor's default loader, shared by every query. */
object Queries {
  private[graft] val Isolation = "spark.sql.artifact.isolation.enabled"

  /** Runs `start` (a `DataStreamWriter.start()` call) with artifact
    * isolation off on `spark` and restores the caller's prior setting,
    * set or unset, afterwards. A session holding session-scoped artifacts
    * keeps isolation on: its query's tasks would not see them otherwise.
    * Wrap only the `start()`: a job the plan runs before it (a collect at
    * plan time) runs on the caller's session. */
  def start(spark: SparkSession)(start: => StreamingQuery): StreamingQuery =
    if (org.apache.spark.sql.graft.ArtifactBridge.sessionArtifactAdded(spark)) start
    else {
      val prior = spark.conf.getAll.get(Isolation)
      spark.conf.set(Isolation, false)
      try start
      finally prior match {
        case Some(v) => spark.conf.set(Isolation, v)
        case None => spark.conf.unset(Isolation)
      }
    }
}
