package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.similarity.Density

/** Measures [[graft.similarity.Density.hdbscanExact]]'s DRIVER ceiling —
  * the one contract the operator states but (before this) never measured
  * at its intended scale: `maxDriverRows` guards the n core-distance
  * slots + n−1 MST edges the driver holds (since round 18 as PRIMITIVE
  * arrays behind an order-preserving dense-int encode — `denseIds` /
  * `boruvkaMstIdx` / `exactDendrogramIdx`) and the 2n-slot
  * condensed-tree arrays. This main stages the operator's own code path
  * on a ≥1M-value corpus and records the driver-side heap each stage
  * retains, so the default can be a measured number instead of an
  * assertion.
  *
  * Fixture: `clusters` far-separated tight clusters of `B` points each in
  * 16-D (md5-derived centers in ±10, per-point displacement ≲ 2e-3).
  * Sign-LSH buckets resolve clusters (cluster width ≪ separation), so
  * the candidate graph is ~clusters × B²/2 pairs — the distance pass
  * stays distributed-cheap while the DRIVER sees the full n: n core
  * rows, ~n − clusters MST forest rows, 2n tree slots. That isolates
  * exactly what the guard bounds; a same-JVM local-mode run would
  * otherwise fold executor memory into the "driver" number, so
  * RETENTION is measured by drop-and-diff — heap with the structure
  * reachable, null it, re-GC, difference — which is immune to the
  * surrounding Spark stages' GC noise (a before/after-stage delta is
  * not: one cut of this read NEGATIVE retention off leftover executor
  * litter in the baseline). A 50 ms sampler reports the tree walk's
  * transient allocation burst separately — observed without GC
  * pressure, it is mostly reclaimable garbage, not required heap.
  *
  *   runMain graft.DensityCeilingRehearsal [values=1000000] [B=64]
  *
  * Writes one JSON line to density_ceiling.json
  * (SPARK_GRAFT_DENSITY_CEILING_OUT overrides).
  */
object DensityCeilingRehearsal {

  private val memBean = java.lang.management.ManagementFactory.getMemoryMXBean

  private def gcHeapMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(200)
    memBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val b = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val planes = 24
    val spark = Harness.session("graft-density-ceiling", "spark.ui.enabled" -> "false")

    // peak sampler (the in-stage transient the retained deltas miss).
    // The heap READING and the max-apply sit in one critical section
    // with the main thread's reset: the old volatile read-modify-write
    // let an iteration that read the pre-reset maximum (or a pre-GC
    // heap sample) write it back just after the reset, inflating
    // heap_tree_transient_mb. Under the monitor a sample is either
    // wholly before the reset (clobbered by it) or wholly after (a
    // fresh post-GC reading).
    val peakLock = new Object
    var peakMb = 0.0 // guarded by peakLock
    val sampler = new Thread(() => {
      while (true) {
        peakLock.synchronized {
          peakMb = math.max(peakMb, memBean.getHeapMemoryUsage.getUsed / 1e6)
        }
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true); sampler.start()

    def timed[A](what: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[ceiling] $what%-28s $dt%8.1f s")
      (r, dt)
    }

    // ---- fixture ----------------------------------------------------------
    val clusters = n / b
    val emb = spark.range(0, n)
      .select(col("id"),
        transform(sequence(lit(1), lit(16)), d =>
          (pmod(Text.md5Long(concat_ws(":", floor(col("id") / b), d)), lit(20000))
            - 10000) / 1000.0 +
            pmod(Text.md5Long(concat_ws(":", col("id"), d)), lit(100)) / 50000.0
        ).as("vec"))
      .select(format_string("v%09d", col("id")).as("id"), col("vec"))

    // ---- the operator's OWN construction, not a copy: stage the real
    // Density.coreReachEdges (bucketed, lshPlanes=24/planeDims=16,
    // minPts=2) so the measured ceiling can never drift from what
    // hdbscanExact actually runs
    val (_, sym, core, edges) =
      Density.coreReachEdges(emb, minPts = 2, lshPlanes = planes, planeDims = 16)
    val (nPairs, wallEdges) = timed("distance+core (distributed)") {
      core.count(); sym.count() / 2
    }

    // ---- stage A: dense-int encode + Borůvka MST (the hdbscanExact
    // idx path: the driver retains the n−1 forest edges as three
    // primitive arrays — the post-r17 form, so the measured ceiling
    // tracks what the operator actually runs) --------------------------------
    val dict = Density.denseIds(core.select("id")).persist()
    val nCoreL = dict.count()
    val intEdges = edges
      .join(dict.select(col("id").as("id_a"), col("idx").as("ia")), Seq("id_a"))
      .join(dict.select(col("id").as("id_b"), col("idx").as("ib")), Seq("id_b"))
      .select(col("ia"), col("ib"), col("reach").as("_w"))
    // collected straight into vars: retention is measured by nulling
    // these below, so NO other val may pin the arrays
    var mstA: Array[Int] = null
    var mstB: Array[Int] = null
    var mstW: Array[Double] = null
    // peak across the MST stage: in a single-JVM rehearsal this
    // conflates the EXECUTOR side's shuffle/aggregation churn with the
    // driver's per-round minima handling, so it is an upper bound on
    // the stage transient, not a driver-only number (the tree stage
    // below has no Spark jobs, so ITS peak is driver-clean) — reported
    // to bound the round-1 minima path, which past streamCollectRows
    // is held to one partition at a time by construction
    val hPreMst = gcHeapMb()
    peakLock.synchronized { peakMb = hPreMst }
    val (_, wallMst) = timed("boruvkaMstIdx") {
      val (a, b, w) = Density.boruvkaMstIdx(intEdges, nCoreL,
        maxDriverRows = 5000000L, guardWho = "DensityCeilingRehearsal")
      mstA = a; mstB = b; mstW = w
    }
    val mstPeakMb = peakLock.synchronized(peakMb) - hPreMst

    // ---- stage B: the core-distance array — the operator's own
    // fillCoreDist (streamed past streamCollectRows), not a copy ------------
    var coreDist: Array[Double] = null
    val (_, wallCollect) = timed("driver collects") {
      coreDist = Density.fillCoreDist(core, dict, nCoreL)
    }
    val nCore = coreDist.length
    val nMst = mstW.length

    // ---- stage C: condensed tree (the 2n-slot arrays + ladder + labels) ---
    val hPreTree = gcHeapMb()
    peakLock.synchronized { peakMb = hPreTree }
    var outP: Array[Int] = null; var outL: Array[Int] = null
    var outB: Array[Int] = null
    val (_, wallTree) = timed("exactDendrogramIdx") {
      val (p, l, b2) = Density.exactDendrogramIdx(coreDist, mstA, mstB, mstW, 2)
      outP = p; outL = l; outB = b2
    }
    // the 2n working arrays, transient
    val treePeakMb = peakLock.synchronized(peakMb) - hPreTree
    val clustered = outP.length

    // ---- retention by DROP-AND-DIFF: heap with a structure reachable
    // minus heap after nulling it — immune to the surrounding Spark
    // stages' GC noise that a before/after-the-stage delta picks up
    // (an earlier cut of this measured a NEGATIVE input retention
    // because the pre-Borůvka baseline still held executor litter)
    val hAll = gcHeapMb()
    outP = null; outL = null; outB = null
    val hNoAssigned = gcHeapMb()
    coreDist = null; mstA = null; mstB = null; mstW = null
    val hNone = gcHeapMb()
    val outputMb = hAll - hNoAssigned
    val inputsMb = hNoAssigned - hNone
    // linear driver contract → the 5M-default extrapolation from the
    // RETAINED structures (inputs + labels; drop-and-diff, exact). The
    // tree stage's transient burst is reported separately: it is
    // observed WITHOUT GC pressure, so it is mostly reclaimable
    // garbage (sort copies, iterator tuples), not required heap
    val perRowBytes = (hAll - hNone) * 1e6 / nCore
    val at5mGb = perRowBytes * 5e6 / 1e9
    val json =
      s"""{"metric":"density_ceiling","values":$n,"clusters":$clusters,""" +
        s""""pairs":$nPairs,"core_rows":$nCore,"mst_rows":$nMst,""" +
        s""""clustered":$clustered,""" +
        s""""wall_edges_s":${Harness.fixed(wallEdges, 1)},"wall_mst_s":${Harness.fixed(wallMst, 1)},""" +
        s""""wall_collect_s":${Harness.fixed(wallCollect, 1)},"wall_tree_s":${Harness.fixed(wallTree, 1)},""" +
        s""""heap_inputs_retained_mb":${Harness.fixed(inputsMb, 0)},""" +
        s""""heap_labels_retained_mb":${Harness.fixed(outputMb, 0)},""" +
        s""""heap_tree_transient_mb":${Harness.fixed(treePeakMb, 0)},""" +
        s""""heap_mst_stage_peak_mb":${Harness.fixed(mstPeakMb, 0)},""" +
        s""""per_row_bytes":${Harness.fixed(perRowBytes, 0)},"extrapolated_5m_gb":${Harness.fixed(at5mGb, 1)}}"""
    println(json)
    Harness.writeArtifact(
      sys.env.getOrElse("SPARK_GRAFT_DENSITY_CEILING_OUT", "density_ceiling.json"), json)
    spark.stop()
  }
}
