package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Operator-scoped cache lifetime — the one place in `src/main` where a
  * cache's life ends. An operator that `persist()`s or
  * `localCheckpoint()`s an intermediate must not return a LAZY plan over
  * it: the cache then outlives the call and accumulates in a long-lived
  * session (Experiment `--compare` grids, the Curate loop, Bench) until
  * ContextCleaner notices. The rule: eagerly materialize the OPERATOR'S
  * OUTPUT (output-sized by design — blocks, labels, top-k, pairs) via
  * `localCheckpoint` ([[seal]]), then free every intermediate at once
  * ([[release]]). Same total work: the pipeline runs exactly once either
  * way, and the checkpoint also truncates lineage, so downstream plans
  * stop re-analyzing the whole upstream pipeline. Loops, guard paths and
  * `finally` blocks free their frames through [[release]] too.
  *
  * Operators whose persist IS deliberate cross-call state (a
  * caller-owned cache) must say so at the persist site instead of using
  * this.
  *
  * The two contracts a caller of a sealed operator buys into:
  *
  *   - **eager**: sealing runs the operator's job AT CALL TIME, so a
  *     sealed operator stops composing lazily with downstream
  *     pruning/pushdown. A caller that would have discarded most of the
  *     result should not seal.
  *   - **unreplicated, lineage-truncated**: localCheckpoint blocks live
  *     only on the executors that computed them, and the plan can no
  *     longer recompute lost partitions. Under executor loss or
  *     dynamic-allocation decommissioning, downstream stages FAIL rather
  *     than recompute. On local[n] and static clusters that is a
  *     non-event; a deployment with `spark.dynamicAllocation.enabled` or
  *     preemptible executors should disable executor decommissioning for
  *     these jobs or accept a failed job (the job, not the session, is
  *     the blast radius).
  */
object CacheScope {

  /** Materialize `out` eagerly, then [[release]] `cached`. With nothing
    * to release there is nothing to scope, so `out` comes back as the
    * same lazy plan, untouched. */
  def seal(out: DataFrame, cached: DataFrame*): DataFrame =
    if (cached.isEmpty) out
    else {
      val m = out.localCheckpoint()
      release(cached: _*)
      m
    }

  /** Free each frame now. A persisted frame is unpersisted; a
    * localCheckpointed one has its blocks freed through its plan RDD
    * (`Dataset.unpersist` never reaches checkpoint blocks; see
    * [[org.apache.spark.sql.graft.ListenerBridge.releaseCheckpointBlocks]]).
    * A persist over someone else's checkpoint (`input.persist()` of a
    * caller's frame) drops only the persist, so the caller's frame stays
    * readable. Lazy, never-cached frames are a no-op, so guard paths can
    * pass everything they might have cached. */
  def release(frames: DataFrame*): Unit = frames.foreach { f =>
    if (f.storageLevel != StorageLevel.NONE) f.unpersist()
    else org.apache.spark.sql.graft.ListenerBridge.releaseCheckpointBlocks(f)
  }
}
