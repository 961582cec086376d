package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.CacheScope
import graft.functions.{Num, Vectors}

/** Density-based clustering over plain `(id, vec)` embedding frames —
  * DBSCAN* (Campello, Moulavi & Sander 2013, the HDBSCAN paper's
  * fixed-eps flat extraction; public method). The closest faithfully
  * DISTRIBUTABLE form of the reference's hard-wired HDBSCAN
  * (attribute_clustering.py:48-56): real density semantics — low-density
  * points are genuinely UNASSIGNED, not "members of a small cluster" —
  * without HDBSCAN's driver-side mutual-reachability MST, which has no
  * shuffle-shaped equivalent. Remaining divergence vs full HDBSCAN
  * (single eps slice instead of the full hierarchy's eps-varying
  * extraction) is documented at the M11/M12 call sites.
  *
  * Definitions (Euclidean distances, rounded to 6 decimals so the eps
  * boundary decides identically on Spark and the DuckDB oracle):
  *   - core distance c(p) = distance to p's `minPts`-th nearest OTHER
  *     point in the candidate graph; c(p) > eps, or fewer than minPts
  *     candidates at all, makes p NOISE (HDBSCAN's −1). Convention
  *     mapping: scikit/HDBSCAN `min_samples` counts the point ITSELF in
  *     the neighborhood, this `minPts` does not — porting a
  *     min_samples=m config means minPts = m − 1 (same rule repeated at
  *     the `--min-pts` CLI knob and [[graft.blockers.DensityClusterAssigner]]);
  *   - mutual reachability d_mr(p,q) = max(c(p), c(q), d(p,q));
  *   - clusters = connected components of CORE points under
  *     d_mr ≤ eps, labeled by component min id
  *     ([[graft.dedup.Dedup.components]]' frontier propagation).
  *     Border points are noise — DBSCAN*'s own definition (§3 of the
  *     paper), which is also what makes the flat extraction a pure
  *     dataflow: no per-point nearest-core tie-breaking pass.
  *
  * Candidate graph: `lshPlanes = 0` (default) is the EXACT all-pairs
  * baseline — O(n²), acceptable because cluster assigners feed value
  * sets of dimension-table cardinality (distinct attribute values /
  * tokens), and the documented-baseline contract of
  * [[Similarity.selfJoinNearDup]] applies. `lshPlanes > 0` switches to
  * sign-LSH bucketed pairs (the [[Similarity.bucketedNearDup]] scale
  * path): only same-bucket pairs are compared, so a far pair may be
  * missed — density UNDERestimates, extra noise, never false merges of
  * far points.
  */
object Density {

  /** Node-count threshold above which the exact-hierarchy path streams
    * its n-sized driver materializations ONE PARTITION AT A TIME
    * (`toLocalIterator`) instead of `collect()`: the Borůvka round-1
    * per-component minima, the core-distance fill, and the label-frame
    * handoff. Below it, `collect()`'s single-job latency wins (every
    * spec/bench fixture — value sets — lands here, so small plans are
    * byte-identical to the pre-streaming form); above it, the driver's
    * peak transient for those stages is bounded by the LARGEST
    * PARTITION, not n — the term that otherwise scales the
    * `maxDriverRows` knob's Row-object transient linearly with n
    * (~200 B/Row: raising the knob to 50M would have meant a ~10 GB
    * round-1 collect on a real cluster's driver; streamed, it is
    * ~n/partitions). `var` only as a test seam — DensitySpec lowers it
    * to force the streamed path on a small fixture and asserts label
    * equality with the collect path. */
  private[graft] var streamCollectRows: Long = 1L << 18

  /** Apply `f` to every row of `df` on the driver. Past
    * [[streamCollectRows]] the frame is persisted executor-side,
    * materialized ONCE, and streamed one partition at a time, so each
    * of the per-partition fetch jobs is a cached-block read by
    * construction (never a recompute, whatever the scheduler's
    * shuffle-reuse does) and the driver's peak Row transient is the
    * LARGEST PARTITION, not n. Wall parity with `collect()` verified
    * same-JVM interleaved on a 400k-node MST (MicroBench: streamed
    * 68.9/39.1/20.8 s vs adjacent collect 142.4/65.0/31.9 s under a
    * monotone warm-up trend — streamed never slower; forests
    * bit-identical). `skipPersist` marks frames the caller already
    * persisted. */
  private def driverEach(df: DataFrame, rows: Long,
                         skipPersist: Boolean = false)(
      f: org.apache.spark.sql.Row => Unit): Unit = {
    import scala.jdk.CollectionConverters._
    if (rows > streamCollectRows) {
      val p = if (skipPersist) df
        else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try { p.count(); p.toLocalIterator().asScala.foreach(f) }
      finally { if (!skipPersist) CacheScope.release(p) }
    } else df.collect().foreach(f)
  }

  /** (id, vec) → (id, cluster) with cluster = component min id for
    * clustered core points and NULL for noise. First two columns of
    * `emb` are taken positionally as (id, vector). */
  def dbscanStar(emb: DataFrame, eps: Double, minPts: Int = 3,
                 lshPlanes: Int = 0, planeDims: Int = 16): DataFrame = {
    require(minPts >= 1, "minPts must be >= 1")
    // the point table feeds the pair join twice and the final assembly;
    // both caches are released once the labels are materialized
    val (e, sym) = symDistances(emb, lshPlanes, planeDims)
    val w = Window.partitionBy("ia").orderBy(col("d").asc, col("ib").asc)
    val core = sym.withColumn("_r", row_number().over(w))
      .filter(col("_r") === minPts && col("d") <= eps)
      .select(col("ia").as("id"), col("d").as("_c"))
    val edges = sym
      .join(core.select(col("id").as("ia"), col("_c").as("_ca")), Seq("ia"))
      .join(core.select(col("id").as("ib"), col("_c").as("_cb")), Seq("ib"))
      .filter(greatest(col("_ca"), col("_cb"), col("d")) <= eps)
      .select(col("ia").as("id_a"), col("ib").as("id_b"))
    val comp = graft.dedup.Dedup.components(edges)
    // an edge-less core point is its own singleton cluster; noise stays
    // NULL through the final left join
    val labeled = core.select("id")
      .join(comp.withColumnRenamed("component", "cluster"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    // output-sized; lets the caches and the component labels go NOW
    CacheScope.seal(e.select("id").join(labeled, Seq("id"), "left"), e, sym, comp)
  }

  /** HDBSCAN's flat "excess of mass" cut over a FIXED eps ladder — the
    * hierarchy-extraction step the reference's hard-wired HDBSCAN runs
    * (attribute_clustering.py:48-56, cluster_selection_method="eom")
    * re-expressed as dataflow plus a cluster-count-sized driver DP.
    * Closes the per-cluster-eps divergence [[dbscanStar]] documents:
    * different branches of the hierarchy may be cut at DIFFERENT eps
    * levels, chosen by cluster stability.
    *
    * Discretization (the documented approximation vs the continuous
    * dendrogram): the hierarchy is sampled at the caller's strictly
    * descending `epsLadder` (λ_l = 1/eps_l ascending) — hand-picked, or
    * data-derived via [[autoEpsLadder]]/[[hdbscanFlatCutAuto]] (levels
    * at actual first-connection radii, so the residual narrows to
    * merge heights falling between levels). Everything else
    * is the published algorithm (Campello, Moulavi & Sander 2013, §4):
    *
    *   1. ONE distance pass: pairwise distances (exact all-pairs
    *      baseline / sign-LSH bucketed via `lshPlanes`, the
    *      [[dbscanStar]] contract), core distances in one window,
    *      per-edge mutual reachability `max(c_a, c_b, d)` — computed
    *      once and FILTERED per level (the ivfRecallCurve
    *      one-pass-sweep trick; no per-level re-join).
    *   2. Per level l: DBSCAN* components of core points under
    *      reach ≤ eps_l ([[graft.dedup.Dedup.components]]), min-id
    *      labels, clusters below `minClusterSize` dropped (their points
    *      are condensed-tree "shed" at that level, exactly HDBSCAN's
    *      min_cluster_size rule). Levels nest by construction (smaller
    *      eps only removes edges/core points), so the (level, label)
    *      table IS the discrete cluster tree.
    *   3. Condensed tree + stability: a parent cluster with one
    *      surviving child CONTINUES the same condensed node (shed
    *      points leave at the observed level's λ); ≥2 children is a
    *      true split (children born at λ_{l}); stability(n) =
    *      Σ_p (λ_leave(p) − λ_birth(n)) in its telescoped per-level
    *      form Σ_l size_l(n)·(λ_{l+1} − λ_l) with λ_{L+1} := λ_L
    *      (points surviving to the ladder floor contribute up to λ_L).
    *   4. Selection (eom, bottom-up by birth level): select n iff
    *      stability(n) ≥ Σ subtree(children), else keep the children's
    *      selection; the single-root node is excluded
    *      (allow_single_cluster=False, the reference's default) when
    *      the coarsest level has exactly one cluster.
    *   5. Labels: each point departs the tree at its deepest clustered
    *      level; its label is the final-selected node covering that
    *      departure (birth-level:birth-label), or noise (NULL).
    *
    * Scale contract: steps 1-2 and 5 are pure dataflow (the per-level
    * components loop reuses one checkpointed edge table). Step 3-4's
    * driver collect is bounded by O(#clusters × ladder levels) rows —
    * dimension-table-sized for any real clustering (the
    * Evaluation.scala n²-blockers-map contract); it never touches
    * per-point rows. */
  /** Shared (id, vec) + symmetric rounded-distance construction of the
    * flat cut and the auto-ladder derivation: exact all-pairs baseline
    * at `lshPlanes <= 0`, sign-LSH bucketed candidates otherwise.
    * Returns BOTH frames persisted — the caller releases them. */
  private def symDistances(
      emb: DataFrame, lshPlanes: Int, planeDims: Int): (DataFrame, DataFrame) = {
    val Array(idC, vecC) = emb.columns.take(2)
    val e = emb.select(col(idC).cast("string").as("id"), col(vecC).as("vec"))
      .persist()
    val pairs =
      if (lshPlanes <= 0) {
        val a = e.select(col("id").as("ia"), col("vec").as("va"))
        val b = e.select(col("id").as("ib"), col("vec").as("vb"))
        a.crossJoin(b).filter(col("ia") < col("ib"))
      } else {
        val withB = e.select(col("id"), col("vec"),
          Similarity.hyperplaneBucket(
            slice(col("vec"), 1, planeDims), lshPlanes, planeDims).as("_b"))
        withB.select(col("_b"), col("id").as("ia"), col("vec").as("va"))
          .join(withB.select(col("_b"), col("id").as("ib"), col("vec").as("vb")),
            Seq("_b"))
          .filter(col("ia") < col("ib"))
          .drop("_b")
      }
    val dists = pairs.select(col("ia"), col("ib"),
      Num.stableRound(sqrt(Vectors.sqDist(col("va"), col("vb"))), 6).as("d"))
    val sym = dists.unionByName(
      dists.select(col("ib").as("ia"), col("ia").as("ib"), col("d"))).persist()
    (e, sym)
  }

  /** Data-derived eps ladder for [[hdbscanFlatCut]] — closes the
    * hand-tuning the fixed-ladder form requires (the NOTES_r14 manual
    * sweep): the ladder is read off the mutual-reachability structure
    * itself. Basis: each point's MINIMUM mutual reachability
    * r_i = min_j max(c_i, c_j, d_ij) — the height at which point i
    * first becomes reachable at all, i.e. where its condensed-tree
    * membership can begin. The ladder is `levels` evenly-spaced values
    * over the DISTINCT sorted r_i (always including min and max),
    * descending — actual merge heights, never interpolated values, so
    * levels land exactly ON the radii where the hierarchy changes
    * rather than between them. The coarsest level (max r_i) is where
    * the last point connects to anything; the finest (min r_i) where
    * the tightest pair lives. Cluster-cluster merge heights above any
    * single point's first-connection radius can fall between ladder
    * levels — the stated ladder-discretization residual, now
    * data-driven instead of caller-tuned.
    *
    * Bounded driver collect: ≤ one double per input point (the
    * distinct r_i values — the flat cut's dimension-table DP
    * contract). Returns Nil when nothing is ever core (fewer than
    * `minPts` neighbors everywhere). */
  def autoEpsLadder(
      emb: DataFrame, levels: Int = 5, minPts: Int = 3,
      lshPlanes: Int = 0, planeDims: Int = 16): Seq[Double] = {
    require(levels >= 2, "auto ladder needs at least 2 levels")
    val (e, sym) = symDistances(emb, lshPlanes, planeDims)
    try autoEpsLadderOn(sym, uncappedCore(sym, minPts), levels)
    finally CacheScope.release(e, sym)
  }

  /** The UNCAPPED minPts-th-neighbor core distances of a symmetric
    * distance frame — the one window every density form starts from
    * (the capped forms filter it by their eps). Shared so the composed
    * auto path computes it ONCE for derivation and cut. */
  private def uncappedCore(sym: DataFrame, minPts: Int): DataFrame = {
    val w = Window.partitionBy("ia").orderBy(col("d").asc, col("ib").asc)
    sym.withColumn("_r", row_number().over(w))
      .filter(col("_r") === minPts)
      .select(col("ia").as("id"), col("d").as("_c"))
  }

  /** [[autoEpsLadder]]'s derivation over an already-built symmetric
    * distance frame — the composed `--eps-ladder auto` path shares ONE
    * distance pass between derivation and cut (it is the dominant cost
    * of both). Caller owns `sym`'s persist. */
  private def autoEpsLadderOn(
      sym: DataFrame, core: DataFrame, levels: Int): Seq[Double] = {
    val rmin = sym
      .join(core.select(col("id").as("ia"), col("_c").as("_ca")), Seq("ia"))
      .join(core.select(col("id").as("ib"), col("_c").as("_cb")), Seq("ib"))
      .groupBy("ia")
      .agg(min(greatest(col("_ca"), col("_cb"), col("d"))).as("r"))
    // r_i = 0 happens on exactly co-located points (duplicate vectors
    // with enough neighbors): zero is not a radius (λ = 1/eps), and the
    // flat cut's strictly-positive require would reject it — those
    // points are core at EVERY positive level, so dropping the zero
    // loses nothing
    val vals = rmin.select("r").distinct().orderBy("r")
      .collect().map(_.getDouble(0)).filter(_ > 0.0)
    if (vals.isEmpty) Seq.empty
    else if (vals.length <= levels) vals.toSeq.reverse
    else {
      val d = vals.length - 1
      (0 until levels)
        .map(k => vals(math.round(k.toDouble * d / (levels - 1)).toInt))
        .distinct.reverse
    }
  }

  /** [[hdbscanFlatCut]] with the [[autoEpsLadder]]-derived ladder — the
    * `--eps-ladder auto` form. Derivation and cut share ONE distance
    * pass (the dominant cost of both — the composed form costs one
    * extra min-reach aggregate over the cut alone, not a second
    * all-pairs/bucket join); an all-noise derivation (no core points
    * anywhere) short-circuits to all-NULL labels, matching a
    * never-clustering hierarchy. */
  def hdbscanFlatCutAuto(
      emb: DataFrame, levels: Int = 5, minPts: Int = 3,
      minClusterSize: Int = 2, lshPlanes: Int = 0,
      planeDims: Int = 16): DataFrame = {
    require(levels >= 2, "auto ladder needs at least 2 levels")
    require(minPts >= 1, "minPts must be >= 1")
    val (e, sym) = symDistances(emb, lshPlanes, planeDims)
    // the uncapped core window is shared too: the cut's core is exactly
    // this filtered to _c <= eps_max, so the composed path pays ONE
    // window sort, not two
    val core0 = uncappedCore(sym, minPts).persist()
    val ladder = autoEpsLadderOn(sym, core0, levels)
    if (ladder.isEmpty) {
      CacheScope.release(e, sym, core0)
      val Array(idC, _) = emb.columns.take(2)
      emb.select(col(idC).cast("string").as("id"),
        lit(null).cast("string").as("cluster"))
    } else hdbscanFlatCutOn(e, sym, ladder, minPts, minClusterSize,
      continuous = false, sharedCore = Some(core0))
  }

  def hdbscanFlatCut(
      emb: DataFrame, epsLadder: Seq[Double], minPts: Int = 3,
      minClusterSize: Int = 2, lshPlanes: Int = 0,
      planeDims: Int = 16, continuous: Boolean = false): DataFrame = {
    require(minPts >= 1, "minPts must be >= 1")
    val (e, sym) = symDistances(emb, lshPlanes, planeDims)
    hdbscanFlatCutOn(e, sym, epsLadder, minPts, minClusterSize, continuous)
  }

  /** [[hdbscanFlatCut]] over an already-built (points, symmetric
    * distances) pair — releases BOTH via the output's CacheScope seal
    * (the composed auto path hands its shared pass here). */
  private def hdbscanFlatCutOn(
      e: DataFrame, sym: DataFrame, epsLadder: Seq[Double], minPts: Int,
      minClusterSize: Int, continuous: Boolean,
      sharedCore: Option[DataFrame] = None): DataFrame = {
    require(epsLadder.nonEmpty && epsLadder.forall(_ > 0) &&
      epsLadder.sliding(2).forall(w => w.size < 2 || w(0) > w(1)),
      "epsLadder must be strictly descending positive radii")
    val levels = epsLadder.length
    val lambda = epsLadder.map(1.0 / _) // ascending
    // Per-level λ weight. Default (continuous=false): level l covers
    // [λ_l, λ_{l+1}) with λ_{L+1} := λ_L — the sampled-ladder reading,
    // where a level's membership stands for the gap BELOW it.
    // continuous=true shifts to (λ_{l−1}, λ_l] with λ_0 := λ_1: a
    // cluster's telescoped sum becomes size·(1/birth_r − 1/death_r),
    // the published CONTINUOUS condensed-tree stability — exact when
    // the ladder contains every radius where the hierarchy changes
    // (the [[hdbscanExact]] complete-ladder equivalence).
    def dlam(l: Int): Double = // 1-based level → its λ weight
      if (continuous) lambda(l - 1) - (if (l <= 1) lambda(0) else lambda(l - 2))
      else (if (l >= levels) lambda(levels - 1) else lambda(l)) - lambda(l - 1)
    val epsMax = epsLadder.head

    // core distances once; only c ≤ eps_max can ever matter. A caller
    // that already paid the uncapped window (the composed auto path)
    // hands it in; the cut is then just the eps_max filter of it.
    val core = sharedCore.map(_.filter(col("_c") <= epsMax))
      .getOrElse(uncappedCore(sym, minPts).filter(col("_c") <= epsMax))
      .persist()
    // mutual-reachability edges at the COARSEST level; per-level edges
    // are a filter on `reach` (reach ≤ eps_l implies both ends core at l)
    val edges = sym
      .join(core.select(col("id").as("ia"), col("_c").as("_ca")), Seq("ia"))
      .join(core.select(col("id").as("ib"), col("_c").as("_cb")), Seq("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        greatest(col("_ca"), col("_cb"), col("d")).as("reach"))
      .filter(col("reach") <= epsMax)
      .localCheckpoint() // referenced once per ladder level
    // per-level membership (level, id, label); minClusterSize applied.
    // ALL ladder levels ride ONE components run (round-18 optimization;
    // previously L independent loops as concurrent Spark jobs): an
    // edge/point is tagged with every level it participates in by a
    // row-local explode (eps is descending, so membership is a level
    // filter on reach/_c), and ids are level-prefixed "<level>|id" so
    // min-label propagation stays within a level — edges never cross
    // levels, and within a level the constant prefix preserves the id
    // order, so each level's labels are bit-identical to an isolated
    // run. The L frontier loops (each 2 checkpoints + one
    // convergence-probe action per round) collapse into one loop of
    // max-level rounds over the same total data volume: ~L× fewer
    // actions/stages, which is what dominates on fixture-sized inputs,
    // and at scale one loop over the union beats L loops re-reading the
    // shared edge table.
    val epsArrSql = epsLadder.map(e => s"cast($e as double)")
      .mkString("array(", ", ", ")")
    def levelsFor(c: String) =
      expr(s"filter(sequence(1, $levels), l -> $c <= element_at($epsArrSql, l))")
    val taggedEdges = edges
      .select(col("id_a"), col("id_b"), explode(levelsFor("reach")).as("_l"))
      .select(concat(col("_l"), lit("|"), col("id_a")).as("id_a"),
        concat(col("_l"), lit("|"), col("id_b")).as("id_b"))
    val tagged = graft.dedup.Dedup.components(taggedEdges)
    // split the "<level>|" prefix back out; ids may themselves contain
    // '|', so parse at the FIRST separator only
    val comp = tagged
      .select(substring_index(col("id"), "|", 1).cast("int").as("level"),
        expr("substring(id, instr(id, '|') + 1)").as("id"),
        expr("substring(component, instr(component, '|') + 1)").as("label"))
    val mAll = core
      .select(col("id"), explode(levelsFor("_c")).as("level"))
      .join(comp, Seq("level", "id"), "left")
      .select(col("level"), col("id"),
        coalesce(col("label"), col("id")).as("label"))
    val m = mAll.withColumn("_sz",
        count(lit(1)).over(Window.partitionBy("level", "label")))
      .filter(col("_sz") >= minClusterSize).drop("_sz")
      .localCheckpoint() // feeds two cluster-sized aggregates + the label join
    // ---- bounded driver collect: O(#clusters × levels) rows, both the
    // cluster sizes and the child→parent label map in ONE tagged action
    // over the checkpointed membership (was two collects) ----
    val szBranch = m.groupBy("level", "label").agg(count(lit(1)).as("n"))
      .select(lit("s").as("_t"), col("level"), col("label"), col("n"),
        lit(null).cast("string").as("_p"))
    val parBranch = {
      val c = m.select(col("level").as("cl"), col("id"), col("label").as("clab"))
      val p = m.select((col("level") + 1).as("cl"), col("id"), col("label").as("plab"))
      c.join(p, Seq("cl", "id")).select("cl", "clab", "plab").distinct()
        .select(lit("p").as("_t"), col("cl").as("level"), col("clab").as("label"),
          lit(0L).as("n"), col("plab").as("_p"))
    }
    val collected = szBranch.unionByName(parBranch).collect()
    val sizes: Map[(Int, String), Long] = collected.iterator
      .filter(_.getString(0) == "s")
      .map(r => (r.getInt(1), r.getString(2)) -> r.getLong(3)).toMap
    val parentOf: Map[(Int, String), String] = collected.iterator
      .filter(_.getString(0) == "p")
      .map(r => (r.getInt(1), r.getString(2)) -> r.getString(4)).toMap
    // ---- condensed tree (driver, cluster-count-sized) ----
    final case class TreeNode(birthLevel: Int, birthLabel: String, parent: Int)
    val nodes = scala.collection.mutable.ArrayBuffer.empty[TreeNode]
    val nodeOf = scala.collection.mutable.Map.empty[(Int, String), Int]
    val labelsAt: Map[Int, Seq[String]] =
      sizes.keys.groupBy(_._1).map { case (l, ks) => l -> ks.map(_._2).toSeq }
        .withDefaultValue(Seq.empty)
    labelsAt(1).sorted.foreach { lab =>
      nodeOf((1, lab)) = nodes.length
      nodes += TreeNode(1, lab, -1)
    }
    for (l <- 2 to levels) {
      val byParent = labelsAt(l).groupBy(lab => parentOf((l, lab)))
      byParent.toSeq.sortBy(_._1).foreach { case (plab, children) =>
        val np = nodeOf((l - 1, plab))
        if (children.size == 1) nodeOf((l, children.head)) = np // continuation
        else children.sorted.foreach { c => // true split: new nodes
          nodeOf((l, c)) = nodes.length
          nodes += TreeNode(l, c, np)
        }
      }
    }
    // stability: Σ_l size_l(node) · (λ_{l+1} − λ_l), telescoped leave-λ form
    val stab = Array.fill(nodes.length)(0.0)
    nodeOf.foreach { case ((l, lab), n) =>
      stab(n) += sizes((l, lab)) * dlam(l)
    }
    def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    // eom selection, bottom-up by birth level
    val childrenOf = nodes.indices.groupBy(i => nodes(i).parent)
      .withDefaultValue(Seq.empty)
    val singleRoot = labelsAt(1).size == 1
    val selected = Array.fill(nodes.length)(false)
    val subtree = Array.fill(nodes.length)(0.0)
    nodes.indices.sortBy(i => -nodes(i).birthLevel).foreach { i =>
      val cs = childrenOf(i).map(subtree).sum
      val isRoot = nodes(i).parent == -1
      if (round6(stab(i)) >= round6(cs) && !(isRoot && singleRoot)) {
        selected(i) = true
        subtree(i) = stab(i)
      } else subtree(i) = cs
    }
    // a selected ancestor unselects its whole subtree (eom rule)
    def finalSelected(i: Int): Boolean = {
      var a = nodes(i).parent
      while (a != -1) {
        if (selected(a)) return false
        a = nodes(a).parent
      }
      selected(i)
    }
    // covering final-selected node for each (level, label) departure
    val coverLabel: Seq[(Int, String, String)] = nodeOf.toSeq.flatMap {
      case ((l, lab), n0) =>
        var n = n0
        while (n != -1 && !(finalSelected(n))) n = nodes(n).parent
        if (n == -1) None
        else Some((l, lab, s"${nodes(n).birthLevel}:${nodes(n).birthLabel}"))
    }
    val spark = e.sparkSession
    import scala.jdk.CollectionConverters._
    val coverDf = spark.createDataFrame(
      coverLabel.map { case (l, lab, c) =>
        org.apache.spark.sql.Row(l, lab, c) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dlevel",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("dlabel",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.StringType))))
    // departure = deepest clustered level per point; broadcast the
    // cluster-count-sized cover map into the point-sized join
    val dep = m.groupBy("id")
      .agg(max(struct(col("level"), col("label"))).as("_d"))
      .select(col("id"), col("_d.level").as("dlevel"), col("_d.label").as("dlabel"))
    val out = e.select("id")
      .join(dep.join(broadcast(coverDf), Seq("dlevel", "dlabel"))
        .select("id", "cluster"), Seq("id"), "left")
    // edges, m and the component labels are localCheckpoints: a long
    // session running many ladder clusterings would accumulate their
    // executor storage until ContextCleaner GC — release them with the
    // plain persists once the output is sealed.
    CacheScope.seal(out, Seq(e, sym, core, edges, m, tagged) ++ sharedCore: _*)
  }

  /** Minimum spanning forest of a weighted graph by distributed
    * Borůvka: each round, every component selects its minimum outgoing
    * edge (cut property: always MST-safe) under the TOTAL order
    * (weight, min endpoint, max endpoint) — a total order means the
    * selected edges of a round can never form a tie cycle, and when two
    * components select an edge to each other they select the SAME one,
    * so the forest is deterministic regardless of merge order.
    * Component count at least halves per round → O(log n) rounds, each
    * TWO Spark jobs: the edge×labels double join + per-component min
    * (collected: one component-count-sized row per component, shrinking
    * geometrically), and the label remap join. Components merge in a
    * DRIVER-side union-find over component ids — the selected edges are
    * exactly the output forest (n−1 rows total across all rounds), so
    * the driver holds nothing beyond what [[hdbscanExact]] /
    * [[completeLadder]] collect anyway: the same value-set-sized
    * contract, stated there.
    *
    * `edges` is (id_a, id_b, weight) — one direction per pair or both;
    * it is symmetrized internally (the [[graft.dedup.Dedup.components]]
    * convention), so a one-way edge list is safe. Ids are cast to
    * string, then DENSE-INT encoded in id order ([[denseIds]] — order-
    * preserving, so the (w, na, nb) tiebreaks decide identically) and
    * the core runs on ints ([[boruvkaMstIdx]]: primitive-array driver
    * structures); this wrapper decodes back. The result is
    * (a: string, b: string, w: double) with a < b, one row per
    * forest edge.
    *
    * `maxDriverRows` bounds the driver-side contract (node count: the
    * first round's per-component minima collect plus the n−1 forest
    * rows) — the SAME guard [[hdbscanExact]] applies to its core rows,
    * enforced here too so a direct caller on an oversized edge set
    * fails loudly instead of OOMing the driver. */
  def boruvkaMst(edges: DataFrame, weightCol: String = "reach",
                 maxDriverRows: Long = 5000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val oneWay = edges.select(
      col("id_a").cast("string").as("id_a"),
      col("id_b").cast("string").as("id_b"),
      col(weightCol).cast("double").as("_w"))
    val dict = denseIds(oneWay.select(col("id_a").as("id"))
      .unionByName(oneWay.select(col("id_b").as("id")))).persist()
    val nNodes = dict.count()
    // the idx core's guard bounds LIVE components (nodes with a
    // non-self edge); the encode/decode arrays here are sized by the
    // full endpoint vocabulary, so bound that too — a graph of mostly
    // self-loop-only nodes must not slip past the alive-count guard
    if (nNodes > maxDriverRows) {
      CacheScope.release(dict)
      throw new IllegalArgumentException(
        s"boruvkaMst holds one driver array slot per distinct endpoint: " +
          s"$nNodes exceeds maxDriverRows=$maxDriverRows — use the ladder " +
          "forms (hdbscanFlatCut/auto keep the driver cluster-count-sized) " +
          "at this scale")
    }
    val intEdges = oneWay
      .join(dict.select(col("id").as("id_a"), col("idx").as("ia")), Seq("id_a"))
      .join(dict.select(col("id").as("id_b"), col("idx").as("ib")), Seq("id_b"))
      .select(col("ia"), col("ib"), col("_w"))
    // decode idx → id with a TRANSIENT driver array (the dict collected
    // once, by construction positionally idx-ordered after the sort) so
    // the returned frame stays driver-local like the pre-idx form — no
    // lingering lineage on the persisted dict, nothing retained beyond
    // the (n−1)-row result itself
    val ids = new Array[String](nNodes.toInt)
    val (ma, mb, mw) =
      try {
        val forest = boruvkaMstIdx(intEdges, nNodes, maxDriverRows, "boruvkaMst")
        driverEach(dict, nNodes, skipPersist = true)(
          r => ids(r.getInt(1)) = r.getString(0))
        forest
      } finally CacheScope.release(dict)
    val out = ma.indices.map(i => (ids(ma(i)), ids(mb(i)), mw(i)))
    if (out.isEmpty) Seq.empty[(String, String, Double)].toDF("a", "b", "w")
    else out.toDF("a", "b", "w")
  }

  /** Dense 0..n−1 integer index over the DISTINCT ids of `ids`' first
    * column, assigned in id-string order — ORDER-PRESERVING, so every
    * lexicographic comparison downstream (the Borůvka/Kruskal
    * (w, na, nb) tiebreaks, min-id cluster labels) is a primitive int
    * compare on the encoded form. Built with a distributed sort +
    * `zipWithIndex` (deterministic: the sort is total on distinct
    * ids), never on the driver. Collation note: "id order" is Spark's
    * UTF8 binary (code-point) order — the same order `least`/
    * `greatest` and the SQL oracles use, so the encode makes the
    * whole pipeline consistent on one collation (the pre-idx driver
    * code compared Java strings, which diverges from binary order
    * only for supplementary-plane characters). */
  private[graft] def denseIds(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    val sorted = ids.select(col(ids.columns.head).cast("string").as("id"))
      .distinct().orderBy("id")
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.getString(0), i.toInt) }
    spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("idx",
        org.apache.spark.sql.types.IntegerType))))
  }

  /** Borůvka core on DENSE int node ids (a [[denseIds]] encode) —
    * algorithm, contraction, and the (w, na, nb) total order exactly as
    * the string form had them (idx order = id order, so every tiebreak
    * decides identically), but the DRIVER retains primitive arrays
    * only: the union-find is one Array[Int] (4 B/node vs ~150 B/entry
    * for the string HashMap), the forest is three primitive builders
    * (16 B/edge vs ~200 B/tuple) — the measured lever behind the raised
    * [[hdbscanExact]] ceiling (density_ceiling.json) — and node-sized
    * rounds stream their per-component minima one partition at a time
    * ([[streamCollectRows]]), bounding the round-1 Row transient by the
    * largest partition instead of n.
    *
    * CONTRACTED component multigraph, maintained across rounds: one row
    * per ORDERED live component pair (ca, cb), carrying the minimum
    * crossing edge under the total order (w, na, nb) with its ORIGINAL
    * canonical endpoints na < nb. Keeping only the per-pair minimum is
    * lossless for Borůvka: a component's round selection is the min
    * over its pairs' minima, and the global-min tuple is by definition
    * its own pair's minimum. Contraction makes round r's join cost
    * proportional to the SURVIVING cross-pair count, not the input
    * edge count — the classic Borůvka contraction. Measured 1.4× on a
    * 200k-node same-session A/B vs re-joining the full edge table
    * against an n-sized label map every round (round 1 still pays the
    * full O(E) pass on both variants and dominates; contraction wins
    * grow with round count, i.e. with component diameter).
    *
    * Returns the forest as parallel (a, b, w) arrays with a < b. */
  private[graft] def boruvkaMstIdx(
      intEdges: DataFrame, nNodes: Long, maxDriverRows: Long,
      guardWho: String): (Array[Int], Array[Int], Array[Double]) = {
    val spark = intEdges.sparkSession
    import spark.implicits._
    val canon = intEdges.filter(col("ia") =!= col("ib")).select(
      least(col("ia"), col("ib")).as("na"),
      greatest(col("ia"), col("ib")).as("nb"),
      col("_w").cast("double").as("_w"))
      .groupBy("na", "nb").agg(min(col("_w")).as("_w"))
    var cur = canon.select(col("na").as("ca"), col("nb").as("cb"),
        col("na"), col("nb"), col("_w"))
      .unionByName(canon.select(col("nb").as("ca"), col("na").as("cb"),
        col("na"), col("nb"), col("_w")))
      .localCheckpoint()
    var alive = cur.select(col("ca")).distinct().count() // live components
    if (alive > maxDriverRows) {
      CacheScope.release(cur) // the guard path must not strand the checkpoint blocks
      throw new IllegalArgumentException(
        s"$guardWho holds one driver row per node in its first round: " +
          s"$alive exceeds maxDriverRows=$maxDriverRows — use the ladder " +
          "forms (hdbscanFlatCut/auto keep the driver cluster-count-sized) " +
          "at this scale")
    }
    // driver union-find over component ids — dense, so one flat array
    val uf = Array.range(0, nNodes.toInt)
    def find(x: Int): Int = {
      var r = x
      while (uf(r) != r) r = uf(r)
      var c = x
      while (uf(c) != r) { val nx = uf(c); uf(c) = r; c = nx }
      r
    }
    val outA = new scala.collection.mutable.ArrayBuilder.ofInt
    val outB = new scala.collection.mutable.ArrayBuilder.ofInt
    val outW = new scala.collection.mutable.ArrayBuilder.ofDouble
    var done = alive <= 1L
    var rounds = 0
    while (!done && rounds < 64) {
      val selDf = cur
        .groupBy(col("ca"))
        .agg(min(struct(col("_w"), col("na"), col("nb"),
          col("cb").as("cb"))).as("m"))
        .select(col("ca"), col("m.cb").as("_cb"),
          col("m.na").as("a"), col("m.nb").as("b"), col("m._w").as("w"))
      // node-sized rounds (round 1 collects one row per live component
      // — the binding driver transient) stream one partition at a
      // time; the union below is order-insensitive (each selected
      // non-duplicate edge merges two distinct trees wherever it
      // appears in the scan — the Borůvka forest lemma — and union by
      // min root makes the surviving root the component minimum
      // regardless of merge order), so streaming changes peak driver
      // memory, not the forest
      var any = false
      val touched = new scala.collection.mutable.ArrayBuilder.ofInt
      driverEach(selDf, alive) { r =>
        any = true
        val c0 = r.getInt(0); val c1 = r.getInt(1)
        touched += c0; touched += c1
        val ra = find(c0); val rb = find(c1)
        if (ra != rb) {
          if (ra < rb) uf(rb) = ra else uf(ra) = rb
          outA += r.getInt(2); outB += r.getInt(3); outW += r.getDouble(4)
          alive -= 1
        }
      }
      if (!any) done = true // disconnected remainder: forest done
      else {
        if (alive <= 1L) done = true // fully connected: no cross edges left
        else {
          // deduped (component → root) renames for every touched
          // component, from the sorted primitive scratch (the boxed
          // toSet the collect form used would be n-sized in round 1)
          val tarr = touched.result()
          java.util.Arrays.sort(tarr)
          val remap = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var i = 0
          while (i < tarr.length) {
            val c = tarr(i)
            if (i == 0 || tarr(i - 1) != c) {
              val rc = find(c)
              if (rc != c) remap += ((c, rc))
            }
            i += 1
          }
          // contract: rename both endpoints to their merged component,
          // drop now-internal edges, re-minimize per surviving pair
          val remapDf = remap.toSeq.toDF("c", "r")
          val newCur = cur
            .join(remapDf.select(col("c").as("ca"), col("r").as("_ra")),
              Seq("ca"), "left")
            .join(remapDf.select(col("c").as("cb"), col("r").as("_rb")),
              Seq("cb"), "left")
            .select(coalesce(col("_ra"), col("ca")).as("ca"),
              coalesce(col("_rb"), col("cb")).as("cb"),
              col("na"), col("nb"), col("_w"))
            .filter(col("ca") =!= col("cb"))
            .groupBy("ca", "cb")
            .agg(min(struct(col("_w"), col("na"), col("nb"))).as("m"))
            .select(col("ca"), col("cb"), col("m.na").as("na"),
              col("m.nb").as("nb"), col("m._w").as("_w"))
            .localCheckpoint()
          CacheScope.release(cur)
          cur = newCur
        }
      }
      rounds += 1
    }
    CacheScope.release(cur)
    require(done, s"$guardWho did not converge in 64 rounds")
    (outA.result(), outB.result(), outW.result())
  }

  /** EXACT HDBSCAN — the continuous mutual-reachability dendrogram,
    * closing [[hdbscanFlatCut]]'s ladder-discretization residual: no
    * caller-supplied eps levels, no sampling. Equivalence used (and
    * spec-pinned): for a finite point set the continuous hierarchy is
    * a step function that changes only at the distinct mutual
    * reachability radii, so exact HDBSCAN ≡ the flat cut over the
    * COMPLETE ladder of those radii under the `continuous` λ
    * convention — computed here efficiently as a distributed Borůvka
    * MST (threshold components of the mutual-reachability graph equal
    * those of its MST at every radius) plus a driver-side condensed
    * tree over the n−1 forest edges.
    *
    * Conventions are [[hdbscanFlatCut]]'s with `continuous = true`:
    * stability per condensed node = Σ over its merge-tree segments of
    * size·(λ(finest level of segment) − λ(level above segment)) — the
    * published Σ_p (λ_p − λ_birth) — eom selection bottom-up with
    * 1e-6-rounded comparisons, `minClusterSize` as the per-level shed
    * rule, allow_single_cluster=False, labels "birthLevel:birthLabel"
    * on the complete ladder (level 1 = coarsest radius).
    *
    * Scale contract: the distance pass and the MST are distributed
    * (all-pairs baseline at `lshPlanes <= 0`, sign-LSH candidates
    * otherwise — the [[dbscanStar]] candidate contract; bucketed mode
    * under-connects far pairs, stated there). The DRIVER holds one row
    * per core point plus the n−1 MST edges — VALUE-SET-sized (the
    * assigner feeds distinct attribute values, dimension-table
    * cardinality), guarded by `maxDriverRows` with a loud pointer to
    * the ladder form beyond it. The 5M default is MEASURED, not
    * asserted (DensityCeilingRehearsal, 1M values / 985k MST rows on a
    * 15,625-cluster fixture; retention by drop-and-diff — null the
    * structure, re-GC, difference). Round 18 dense-int encode
    * ([[denseIds]] + [[boruvkaMstIdx]] + [[exactDendrogramIdx]]: every
    * retained driver structure a primitive array, labels resolved back
    * to id strings distributed): retention fell 374 → **36 bytes/row**
    * (inputs 24 MB + labels 12 MB at 1M), so the 5M default retains
    * ~0.2 GB — maxDriverRows is now a memory KNOB with ~10× headroom
    * at the same 24g profile, no longer the binding wall. The binding
    * transients are the Borůvka round-1 per-component minima collect
    * (n Row objects) and the dendrogram sort/walk's allocation churn
    * (sampler peak 2.0 GB at 1M — young-gen garbage, collected without
    * pressure, not required heap). Artifact: density_ceiling.json. */
  def hdbscanExact(
      emb: DataFrame, minPts: Int = 3, minClusterSize: Int = 2,
      lshPlanes: Int = 0, planeDims: Int = 16,
      maxDriverRows: Long = 5000000L): DataFrame = {
    require(minPts >= 1, "minPts must be >= 1")
    val (e, sym, core, edges) = coreReachEdges(emb, minPts, lshPlanes, planeDims)
    val nCore = core.count()
    if (nCore > maxDriverRows) {
      CacheScope.release(e, sym, core) // no stranded caches on the guard path
      throw new IllegalArgumentException(
        s"hdbscanExact holds one driver row per core point: $nCore exceeds " +
          s"maxDriverRows=$maxDriverRows — use hdbscanFlatCut/auto (the " +
          "ladder form keeps the driver cluster-count-sized) at this scale")
    }
    // order-preserving dense idx over the core ids (the MST vertex
    // set): the whole driver side — union-find, forest, core
    // distances, condensed-tree arrays, labels — is primitive arrays
    // (~25 B/row measured vs ~374 B/row for the string tuples,
    // density_ceiling.json), and the label idx→id resolution runs
    // DISTRIBUTED through the dict joins below
    val dict = denseIds(core.select("id")).persist()
    val intEdges = edges
      .join(dict.select(col("id").as("id_a"), col("idx").as("ia")), Seq("id_a"))
      .join(dict.select(col("id").as("id_b"), col("idx").as("ib")), Seq("id_b"))
      .select(col("ia"), col("ib"), col("reach").as("_w"))
    val (ma, mb, mw) =
      try boruvkaMstIdx(intEdges, nCore, maxDriverRows, "hdbscanExact")
      catch { case t: Throwable => CacheScope.release(dict, e, sym, core); throw t }
    val coreDist = fillCoreDist(core, dict, nCore)
    val (lp, ll, lb) = exactDendrogramIdx(coreDist, ma, mb, mw, minClusterSize)
    val spark = emb.sparkSession
    val labDf = labelFrame(spark, lp, ll, lb)
      .join(dict, Seq("idx"))
      .join(dict.select(col("idx").as("lbl"), col("id").as("_lid")), Seq("lbl"))
      .select(col("id"),
        concat(col("lvl").cast("string"), lit(":"), col("_lid")).as("cluster"))
    val out = e.select("id").join(labDf, Seq("id"), "left")
    CacheScope.seal(out, e, sym, core, dict)
  }

  /** The complete eps ladder of `emb`'s mutual-reachability hierarchy —
    * every distinct positive radius where it can change (core distances
    * ∪ MST edge reaches), descending. [[hdbscanExact]] ≡
    * [[hdbscanFlatCut]] over THIS ladder with `continuous = true`
    * (the DensitySpec equivalence property, and how the SQL oracle
    * replays the exact form). */
  def completeLadder(
      emb: DataFrame, minPts: Int = 3, lshPlanes: Int = 0,
      planeDims: Int = 16, maxDriverRows: Long = 5000000L): Seq[Double] = {
    val (e, sym, core, edges) = coreReachEdges(emb, minPts, lshPlanes, planeDims)
    val nCore = core.count()
    if (nCore > maxDriverRows) {
      CacheScope.release(e, sym, core) // no stranded caches on the guard path
      throw new IllegalArgumentException(
        s"completeLadder collects one distinct radius per core point plus " +
          s"the MST: $nCore exceeds maxDriverRows=$maxDriverRows — use " +
          "autoEpsLadder (levels-sized) at this scale")
    }
    try {
      // the forest is a driver-local frame (see boruvkaMst): nothing of
      // it to release
      val mst = boruvkaMst(edges, maxDriverRows = maxDriverRows)
      (mst.select(col("w").as("r"))
        .unionByName(core.select(col("_c").as("r"))))
        .filter(col("r") > 0).distinct().orderBy(col("r").desc)
        .collect().map(_.getDouble(0)).toSeq
    } finally CacheScope.release(e, sym, core)
  }

  /** Shared UNCAPPED core-distance + mutual-reachability construction
    * for the exact-hierarchy forms (no eps cap: the exact hierarchy
    * runs to the all-merging root) — (e, sym, core, reach edges) with
    * e/sym/core persisted; the CALLER releases all three. */
  private[graft] def coreReachEdges( // private[graft]: DensityCeilingRehearsal stages it
      emb: DataFrame, minPts: Int, lshPlanes: Int, planeDims: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (e, sym) = symDistances(emb, lshPlanes, planeDims)
    val w = Window.partitionBy("ia").orderBy(col("d").asc, col("ib").asc)
    val core = sym.withColumn("_r", row_number().over(w))
      .filter(col("_r") === minPts)
      .select(col("ia").as("id"), col("d").as("_c")).persist()
    val edges = sym
      .join(core.select(col("id").as("ia"), col("_c").as("_ca")), Seq("ia"))
      .join(core.select(col("id").as("ib"), col("_c").as("_cb")), Seq("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        greatest(col("_ca"), col("_cb"), col("d")).as("reach"))
    (e, sym, core, edges)
  }

  /** Fill the idx-ordered core-distance array — streamed one partition
    * at a time past [[streamCollectRows]] (the collect form's n Row
    * objects were the other node-sized driver transient besides the
    * Borůvka round-1 minima); the retained array is the measured
    * 8 B/row. Shared with DensityCeilingRehearsal so the measured
    * ceiling stages exactly this code path. */
  private[graft] def fillCoreDist(core: DataFrame, dict: DataFrame,
                                  nCore: Long): Array[Double] = {
    val coreDist = new Array[Double](nCore.toInt)
    driverEach(core.join(dict, Seq("id")).select(col("idx"), col("_c")), nCore)(
      r => coreDist(r.getInt(0)) = r.getDouble(1))
    coreDist
  }

  /** (idx, lvl, lbl) frame from the dendrogram's parallel label arrays.
    * Small results ride a LocalRelation (byte-identical plans for every
    * spec/bench fixture); past [[streamCollectRows]] the rows are built
    * ON EXECUTORS from the primitive arrays riding the task closure
    * (12 B/row serialized once) — a node-sized LocalRelation would hold
    * n Row objects on the driver through the final join. */
  private def labelFrame(spark: SparkSession, lp: Array[Int],
                         ll: Array[Int], lb: Array[Int]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("idx",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("lvl",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("lbl",
        org.apache.spark.sql.types.IntegerType)))
    if (lp.length > streamCollectRows) {
      val slices = spark.sparkContext.defaultParallelism
      val rdd = spark.sparkContext.parallelize(lp.indices, slices)
        .map(i => org.apache.spark.sql.Row(lp(i), ll(i), lb(i)))
      spark.createDataFrame(rdd, schema)
    } else {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        lp.indices.map(i =>
          org.apache.spark.sql.Row(lp(i), ll(i), lb(i))).asJava, schema)
    }
  }

  /** Driver-side condensed tree over the merge forest of (core, MST)
    * events — the [[hdbscanExact]] tail, on DENSE INT ids (a
    * [[denseIds]] encode: idx order = id-string order, so min-label
    * selection and Kruskal tiebreaks decide exactly as the string form
    * did). Pure function of the primitive input arrays; O(n α(n))
    * union-find + O(#nodes) walks; every retained structure is a
    * primitive array. Returns clustered points only, as parallel
    * (point idx, cluster birth level, cluster birth-label idx) arrays
    * — the caller renders "level:labelId" distributed via the dict. */
  private[graft] def exactDendrogramIdx( // private[graft]: DensityCeilingRehearsal stages it
      coreDist: Array[Double],
      edgeA: Array[Int], edgeB: Array[Int], edgeW: Array[Double],
      mcs: Int): (Array[Int], Array[Int], Array[Int]) = {
    val n = coreDist.length
    val empty = (Array.empty[Int], Array.empty[Int], Array.empty[Int])
    if (n == 0) return empty
    // merge forest arrays; leaves 0..n-1, internal nodes appended
    val maxNodes = 2 * n
    val birth = new Array[Double](maxNodes)
    val death = Array.fill(maxNodes)(Double.PositiveInfinity)
    val size = new Array[Int](maxNodes)
    val labelArr = new Array[Int](maxNodes)
    val parentArr = Array.fill(maxNodes)(-1)
    val childA = Array.fill(maxNodes)(-1)
    val childB = Array.fill(maxNodes)(-1)
    var nNodes = n
    for (i <- 0 until n) {
      birth(i) = coreDist(i); size(i) = 1; labelArr(i) = i
    }
    // union-find over forest roots (find = current top node of a tree)
    val top = new Array[Int](maxNodes)
    for (i <- 0 until maxNodes) top(i) = i
    def find(i: Int): Int = {
      var r = i
      while (top(r) != r) r = top(r)
      var c = i
      while (top(c) != r) { val nx = top(c); top(c) = r; c = nx }
      r
    }
    // Kruskal ascending under the Borůvka total order (weight, a, b)
    val order = Array.range(0, edgeW.length)
      .sortBy(k => (edgeW(k), edgeA(k), edgeB(k)))
    for (k <- order) {
      val r = edgeW(k)
      val ra = find(edgeA(k)); val rb = find(edgeB(k))
      if (ra != rb) {
        val j = nNodes; nNodes += 1
        birth(j) = r; size(j) = size(ra) + size(rb)
        labelArr(j) =
          if (labelArr(ra) <= labelArr(rb)) labelArr(ra) else labelArr(rb)
        death(ra) = r; death(rb) = r
        parentArr(ra) = j; parentArr(rb) = j
        childA(j) = ra; childB(j) = rb
        top(ra) = j; top(rb) = j; top(j) = j
      }
    }
    // complete ladder: distinct positive event radii, descending
    val ladderAsc = (coreDist.iterator ++ edgeW.iterator)
      .filter(_ > 0).toArray.distinct.sorted
    if (ladderAsc.isEmpty) return empty // no positive radius: degenerate
    val L = ladderAsc.length
    def lam(l: Int): Double = // 1-based desc level index → λ; λ(0) := λ(1)
      1.0 / ladderAsc(L - math.max(l, 1))
    // finest level with eps >= r  (ladder desc; 0 if none). For r = 0
    // every level qualifies → L.
    def lTo(r: Double): Int = {
      if (r <= ladderAsc(0)) L
      else {
        // first ascending index with value >= r → desc index L - i
        var lo = 0; var hi = L - 1
        while (lo < hi) {
          val mid = (lo + hi) / 2
          if (ladderAsc(mid) >= r) hi = mid else lo = mid + 1
        }
        if (ladderAsc(lo) >= r) L - lo else 0
      }
    }
    // coarsest level with eps < r (desc; L + 1 if none below r)
    def lBelow(r: Double): Int =
      if (r.isPosInfinity) 1 else lTo(r) + 1
    def activeNonempty(j: Int): Boolean = {
      val f = lBelow(death(j)); val t = lTo(birth(j))
      f <= t && t >= 1 && f <= L
    }
    // maximal descendants with birth < birth(j) — the threshold
    // components just below radius birth(j); equal-radius merge chains
    // collapse (their interior nodes have empty active ranges)
    def splitChildren(j: Int): Seq[Int] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      val stack = scala.collection.mutable.ArrayDeque(childA(j), childB(j))
      while (stack.nonEmpty) {
        val c = stack.removeLast()
        if (c >= 0) {
          if (birth(c) < birth(j)) out += c
          else { stack.append(childA(c)); stack.append(childB(c)) }
        }
      }
      out.toSeq
    }
    // ---- condensed tree walk (one condensed node per continuation
    // chain of ≥mcs merge nodes) ----
    final case class Cond(birthLevel: Int, birthLabel: Int, parent: Int)
    val conds = scala.collection.mutable.ArrayBuffer.empty[Cond]
    val condStab = scala.collection.mutable.ArrayBuffer.empty[Double]
    val condOf = new Array[Int](maxNodes) // merge node → condensed node
    java.util.Arrays.fill(condOf, -1)
    val roots = (0 until nNodes).filter(j => parentArr(j) == -1)
    val bigRoots = roots.filter(j => size(j) >= mcs)
    val singleRoot = bigRoots.length == 1
    // stack of (mergeNode, condensed id); roots start their own nodes
    val stack = scala.collection.mutable.ArrayDeque.empty[(Int, Int)]
    bigRoots.sortBy(labelArr(_)).foreach { r =>
      conds += Cond(1, labelArr(r), -1); condStab += 0.0
      stack.append((r, conds.length - 1))
    }
    while (stack.nonEmpty) {
      var (m, c) = stack.removeLast()
      var continue = true
      while (continue) {
        condOf(m) = c
        // segment contribution: size·(λ(lTo(birth)) − λ(lBelow(death)−1))
        val f = lBelow(death(m)); val t = lTo(birth(m))
        if (f <= t) condStab(c) += size(m) * (lam(t) - lam(f - 1))
        if (childA(m) < 0) continue = false // leaf
        else {
          val big = splitChildren(m)
            .filter(k => size(k) >= mcs && activeNonempty(k))
          if (big.isEmpty) continue = false
          else if (big.size == 1) m = big.head // continuation
          else {
            big.sortBy(labelArr(_)).foreach { k =>
              conds += Cond(lBelow(birth(m)), labelArr(k), c)
              condStab += 0.0
              stack.append((k, conds.length - 1))
            }
            continue = false
          }
        }
      }
    }
    // ---- eom selection (the flat-cut conventions verbatim) ----
    def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val nc = conds.length
    val childrenOf = (0 until nc).groupBy(i => conds(i).parent)
      .withDefaultValue(Seq.empty)
    val selected = Array.fill(nc)(false)
    val subtree = Array.fill(nc)(0.0)
    (0 until nc).sortBy(i => -conds(i).birthLevel).foreach { i =>
      val cs = childrenOf(i).map(subtree).sum
      val isRoot = conds(i).parent == -1
      if (round6(condStab(i)) >= round6(cs) && !(isRoot && singleRoot)) {
        selected(i) = true
        subtree(i) = condStab(i)
      } else subtree(i) = cs
    }
    // final selection + covering node in two single top-down passes:
    // cond parents are always created before their children, so index
    // order IS topological — no recursion, no deep-tree stack risk
    val shadowedBySel = Array.fill(nc)(false)
    for (i <- 0 until nc) {
      val p = conds(i).parent
      shadowedBySel(i) = p != -1 && (shadowedBySel(p) || selected(p))
    }
    def finalSelected(i: Int): Boolean = selected(i) && !shadowedBySel(i)
    val coverArr = Array.fill(nc)(-1) // covering final-selected node
    for (i <- 0 until nc) {
      coverArr(i) =
        if (finalSelected(i)) i
        else if (conds(i).parent == -1) -1
        else coverArr(conds(i).parent)
    }
    def cover(i: Int): Int = coverArr(i)
    // ---- per-point labels via first ≥mcs-and-active ancestor ----
    // parents are created after children, so a reverse index pass sees
    // every parent's value before its children ask for it
    val fq = Array.fill(nNodes)(-1)
    for (j <- nNodes - 1 to 0 by -1) {
      fq(j) =
        if (size(j) >= mcs && activeNonempty(j)) j
        else if (parentArr(j) == -1) -1
        else fq(parentArr(j))
    }
    val outP = new scala.collection.mutable.ArrayBuilder.ofInt
    val outL = new scala.collection.mutable.ArrayBuilder.ofInt
    val outB = new scala.collection.mutable.ArrayBuilder.ofInt
    for (p <- 0 until n) {
      val q = fq(p)
      if (q != -1) {
        val cv = cover(condOf(q))
        if (cv != -1) {
          outP += p; outL += conds(cv).birthLevel; outB += conds(cv).birthLabel
        }
      }
    }
    (outP.result(), outL.result(), outB.result())
  }

  /** DuckDB SQL mirror of [[hdbscanFlatCut]] over a `(id varchar,
    * embedding)` relation — the FULL algorithm: per-level components as
    * recursive transitive closures, condensed-tree node identity
    * (nearest birth on the ancestor chain), raw-double stability with
    * comparisons rounded 1e-6 in lockstep with the Scala DP, and the
    * excess-of-mass selection UNROLLED bottom-up per birth level (legal
    * because the ladder — hence the tree depth bound — is fixed at SQL
    * generation time). Kept next to the operator so the two cannot
    * drift (the HashTokenEncoder convention). */
  def hdbscanFlatCutSql(
      pointsRel: String, epsLadder: Seq[Double], minPts: Int,
      minClusterSize: Int, continuous: Boolean = false): String = {
    val levels = epsLadder.length
    val lambda = epsLadder.map(1.0 / _)
    def dlam(l: Int): Double = // the Scala side's λ-weight convention
      if (continuous) lambda(l - 1) - (if (l <= 1) lambda(0) else lambda(l - 2))
      else (if (l >= levels) lambda(levels - 1) else lambda(l)) - lambda(l - 1)
    val eps1 = epsLadder.head
    def r6(x: String) = s"floor(($x)*1e6+0.5)/1e6"

    val perLevel = epsLadder.zipWithIndex.map { case (eps, i) =>
      val l = i + 1
      s"""reach$l(a, b) AS (
         |  SELECT id, id FROM core WHERE c <= $eps
         |  UNION
         |  SELECT r.a, e2.ib FROM reach$l r
         |  JOIN edges e2 ON r.b = e2.ia AND e2.reach <= $eps),
         |lab$l AS MATERIALIZED (SELECT a AS id, min(b) AS label FROM reach$l GROUP BY a)""".stripMargin
    }.mkString(",\n")
    val mUnion = (1 to levels).map { l =>
      s"""SELECT level, id, label FROM (
         |  SELECT $l AS level, id, label,
         |         count(*) OVER (PARTITION BY label) AS sz FROM lab$l)
         |WHERE sz >= $minClusterSize""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val lamValues = (1 to levels).map(l => s"($l, ${dlam(l)})").mkString(", ")
    // eom DP unrolled: sub<L> … sub<1>, each reading the union of the
    // deeper stages' subtree values through nodeparent
    val subStages = (levels to 1 by -1).map { l =>
      if (l == levels)
        s"""sub$l AS (SELECT blevel, blabel, stab AS subtree, true AS sel
           |  FROM stab WHERE blevel = $l)""".stripMargin
      else {
        val deeper = (l + 1 to levels).map(d => s"SELECT * FROM sub$d")
          .mkString(" UNION ALL ")
        s"""sub$l AS (
           |  SELECT s.blevel, s.blabel,
           |    CASE WHEN ${r6("s.stab")} >= ${r6("coalesce(cs.csum, 0.0)")}
           |         THEN s.stab ELSE cs.csum END AS subtree,
           |    ${r6("s.stab")} >= ${r6("coalesce(cs.csum, 0.0)")} AS sel
           |  FROM stab s
           |  LEFT JOIN (
           |    SELECT np.pblevel, np.pblabel, sum(u.subtree) AS csum
           |    FROM nodeparent np JOIN ($deeper) u
           |      ON u.blevel = np.blevel AND u.blabel = np.blabel
           |    GROUP BY 1, 2) cs
           |    ON cs.pblevel = s.blevel AND cs.pblabel = s.blabel
           |  WHERE s.blevel = $l)""".stripMargin
      }
    }.mkString(",\n")
    val subAll = (1 to levels).map(l => s"SELECT * FROM sub$l")
      .mkString(" UNION ALL ")

    s"""WITH RECURSIVE
       |e AS MATERIALIZED ($pointsRel),
       |expl AS MATERIALIZED (SELECT id, unnest(embedding)::double AS v,
       |                generate_subscripts(embedding, 1) AS i FROM e),
       |d AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib,
       |        floor(sqrt(sum((ea.v - eb.v) * (ea.v - eb.v))) * 1e6 + 0.5) / 1e6 AS d
       |      FROM e a JOIN e b ON a.id <> b.id
       |      JOIN expl ea ON ea.id = a.id
       |      JOIN expl eb ON eb.id = b.id AND eb.i = ea.i
       |      GROUP BY 1, 2),
       |core AS MATERIALIZED (SELECT ia AS id, d AS c FROM (
       |    SELECT ia, d, row_number() OVER (PARTITION BY ia ORDER BY d ASC, ib ASC) AS r
       |    FROM d) WHERE r = $minPts AND d <= $eps1),
       |edges AS MATERIALIZED (SELECT d.ia, d.ib, greatest(ca.c, cb.c, d.d) AS reach
       |          FROM d JOIN core ca ON ca.id = d.ia JOIN core cb ON cb.id = d.ib
       |          WHERE greatest(ca.c, cb.c, d.d) <= $eps1),
       |$perLevel,
       |m AS MATERIALIZED (
       |  $mUnion),
       |sizes AS MATERIALIZED (SELECT level, label, count(*) AS n FROM m GROUP BY 1, 2),
       |par AS MATERIALIZED (SELECT c.level AS cl, c.label AS clab, min(p.label) AS plab
       |        FROM m c JOIN m p ON p.id = c.id AND p.level = c.level - 1
       |        GROUP BY 1, 2),
       |childcnt AS (SELECT cl, plab, count(*) AS nc FROM par GROUP BY 1, 2),
       |births AS (SELECT level, label FROM sizes WHERE level = 1
       |  UNION ALL
       |  SELECT p.cl, p.clab FROM par p
       |  JOIN childcnt c ON c.cl = p.cl AND c.plab = p.plab WHERE c.nc >= 2),
       |anc(level, label, alevel, alabel) AS (
       |  SELECT level, label, level, label FROM sizes
       |  UNION ALL
       |  SELECT a.level, a.label, p.cl - 1, p.plab FROM anc a
       |  JOIN par p ON p.cl = a.alevel AND p.clab = a.alabel),
       |nodeof AS MATERIALIZED (SELECT level, label, alevel AS blevel, alabel AS blabel FROM (
       |    SELECT a.level, a.label, a.alevel, a.alabel,
       |           row_number() OVER (PARTITION BY a.level, a.label
       |                              ORDER BY a.alevel DESC) AS rn
       |    FROM anc a JOIN births b ON b.level = a.alevel AND b.label = a.alabel)
       |  WHERE rn = 1),
       |nodeparent AS MATERIALIZED (SELECT b.level AS blevel, b.label AS blabel,
       |    nf.blevel AS pblevel, nf.blabel AS pblabel
       |  FROM births b JOIN par p ON p.cl = b.level AND p.clab = b.label
       |  JOIN nodeof nf ON nf.level = b.level - 1 AND nf.label = p.plab
       |  WHERE b.level > 1),
       |lam(level, dlam) AS (VALUES $lamValues),
       |stab AS MATERIALIZED (SELECT nf.blevel, nf.blabel, sum(s.n * lam.dlam) AS stab
       |         FROM sizes s
       |         JOIN nodeof nf ON nf.level = s.level AND nf.label = s.label
       |         JOIN lam ON lam.level = s.level GROUP BY 1, 2),
       |nroots AS (SELECT count(*) AS nr FROM births WHERE level = 1),
       |$subStages,
       |allsel AS MATERIALIZED (SELECT blevel, blabel, subtree,
       |    sel AND NOT (blevel = 1 AND (SELECT nr FROM nroots) = 1) AS sel
       |  FROM ($subAll)),
       |nanc(blevel, blabel, ablevel, ablabel) AS (
       |  SELECT blevel, blabel, pblevel, pblabel FROM nodeparent
       |  UNION ALL
       |  SELECT n.blevel, n.blabel, np.pblevel, np.pblabel FROM nanc n
       |  JOIN nodeparent np ON np.blevel = n.ablevel AND np.blabel = n.ablabel),
       |finalsel AS (SELECT s.blevel, s.blabel FROM allsel s
       |  WHERE s.sel AND NOT EXISTS (
       |    SELECT 1 FROM nanc a
       |    JOIN allsel s2 ON s2.blevel = a.ablevel AND s2.blabel = a.ablabel
       |    WHERE a.blevel = s.blevel AND a.blabel = s.blabel AND s2.sel)),
       |dep AS (SELECT id, level AS dlevel, label AS dlabel FROM (
       |    SELECT m.level, m.id, m.label,
       |           row_number() OVER (PARTITION BY id ORDER BY level DESC) AS rn
       |    FROM m) WHERE rn = 1),
       |selfanc AS (SELECT blevel, blabel, blevel AS ablevel, blabel AS ablabel FROM births
       |  UNION ALL SELECT blevel, blabel, ablevel, ablabel FROM nanc),
       |cover AS (SELECT nf.level, nf.label,
       |    min(sa.ablevel || ':' || sa.ablabel) AS cluster
       |  FROM nodeof nf
       |  JOIN selfanc sa ON sa.blevel = nf.blevel AND sa.blabel = nf.blabel
       |  JOIN finalsel fs ON fs.blevel = sa.ablevel AND fs.blabel = sa.ablabel
       |  GROUP BY 1, 2),
       |assigned AS (SELECT dep.id, cover.cluster FROM dep
       |  JOIN cover ON cover.level = dep.dlevel AND cover.label = dep.dlabel)""".stripMargin
  }
}
