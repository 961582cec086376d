package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.CacheScope
import graft.functions.Num
import graft.functions.Vectors

/** Vector similarity search over plain `array<float>` embedding columns
  * (reference kNN block building: src/klinker/blockers/embedding/
  * blockbuilder.py:51-206; generalized here into the engine's
  * similarity-search charter).
  *
  * Strategies, in increasing scale-fitness:
  *   - [[topKCosine]]: exact brute force — the correctness baseline.
  *     O(|L|·|R|); broadcast the right side when it fits.
  *   - [[ivfTopK]]: IVF — right side pre-bucketed (any label/cluster
  *     column), queries probe only the nearest centroid's bucket.
  *     Search cost drops by ~#buckets; recall depends on bucketing.
  *   - [[lshTopK]]: sign-LSH — deterministic pseudo-random
  *     hyperplanes hash vectors into 2^p buckets; candidates share a
  *     bucket. Fully shuffle-based, no centroids needed.
  *   - [[ivfPqTopK]]: IVF over PQ codes — [[IndexStore.buildIvfPq]] +
  *     [[IndexStore.search]], the one IVF-PQ path.
  *
  * Each shared rule has one home: the zero-norm cosine guard is
  * [[graft.functions.Vectors.cosineFromNorms]], the rounded rank key
  * [[graft.functions.Num.rankKey]], the per-left-id top-k tail [[topK]],
  * the centroid probe ranking [[probeRanking]] and the hubness
  * side-scale prologue `sideScaled`.
  */
object Similarity {

  /** Exact top-k by cosine: for every left row the k best right rows.
    * Deterministic tie-break on right id. The right side is broadcast
    * (the planner turns the cross join into BroadcastNestedLoopJoin — no
    * shuffle), so it must fit in executor memory. */
  def topKCosine(left: DataFrame, right: DataFrame, k: Int): DataFrame = {
    // norms once per ROW (not per pair); pair score is an unrolled
    // multiply-add chain — no per-pair array allocation
    // small single-file inputs arrive as ONE partition; without an
    // explicit spread the nested-loop join runs on one core
    val par = left.sparkSession.sparkContext.defaultParallelism
    val l = left.select(col("id").as("left_id"), col("vec").as("_lv"),
      Vectors.l2Norm(col("vec")).as("_ln")).repartition(par)
    val r = broadcast(right.select(col("id").as("right_id"), col("vec").as("_rv"),
      Vectors.l2Norm(col("vec")).as("_rn")))
    topK(l.crossJoin(r).select(col("left_id"), col("right_id"),
      Vectors.cosineFromNorms(col("_lv"), col("_rv"), col("_ln"), col("_rn")).as("cos")),
      k, col("cos").desc)
  }

  /** The per-`left_id` top-k tail every scored search shares: each left
    * id's rows numbered by `keys`, ties on `right_id` ascending, as
    * `rank`, kept while `rank <= k`. */
  private[graft] def topK(scored: DataFrame, k: Int, keys: Column*): DataFrame = {
    val w = Window.partitionBy("left_id").orderBy(keys :+ col("right_id").asc: _*)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Element-wise mean vector per bucket → (bucket, centroid). */
  def centroids(bucketed: DataFrame): DataFrame =
    bucketed.select(col("bucket"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy("bucket", "pos").agg(avg(col("v")).as("m"))
      .groupBy("bucket")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("bucket"), transform(col("pm"), x => x("m")).as("centroid"))

  /** IVF search: assign each query to its `probes` nearest centroids
    * (cosine, tie-break on bucket), then exact top-k within those
    * buckets only. probes=1 is classic IVF; raising it trades search
    * cost for recall (the standard multi-probe knob) — buckets are
    * disjoint, so probing more buckets just widens the candidate union.
    * Centroids are tiny (one row per bucket) → broadcast twice. */
  /** NB: the probe join has only #buckets distinct keys; if bucket
    * membership grows past one reducer's memory, salt it with the
    * [[graft.blockers.Blocker.saltedCollectIds]] pattern (measured here:
    * salting costs more than it buys below ~10⁷ rows per bucket). */
  def ivfTopK(queries: DataFrame, bucketed: DataFrame, k: Int,
              excludeSelf: Boolean = true, probes: Int = 1): DataFrame = {
    val (members, ranked) = ivfAssignment(queries, bucketed)
    val assigned = ranked.filter(col("_rn") <= probes)
      .select(col("left_id"), col("_lv"), col("_ln"), col("bucket"))
    val joined = assigned.join(members, Seq("bucket"))
    topK((if (excludeSelf) joined.filter(col("left_id") =!= col("right_id")) else joined)
      .select(col("left_id"), col("bucket"), col("right_id"),
        Vectors.cosineFromNorms(col("_lv"), col("_rv"), col("_ln"), col("_rn2")).as("cos")),
      k, col("cos").desc)
  }

  /** Shared IVF prologue — ONE definition for [[ivfTopK]] and
    * [[ivfRecallCurve]] so the curve always measures exactly the
    * operator's algorithm (normalization, tie-breaks, centroid
    * construction): returns the normalized member table and the
    * query-to-bucket centroid-assignment RANKING (every bucket ranked
    * per query; callers filter `_rn` to their probe count).
    *
    * The member projection is deliberately NOT persisted: it feeds both
    * the centroid aggregate (broadcast) and the probe join, and two
    * column-pruned parquet scans beat cache materialization (A/B
    * measured −0.3 s at sf0.1); at 100 TB caching an input-sized member
    * table is memory-hostile while a second pruned scan is just I/O.
    * (In production IVF the centroids come from a prior clustering step
    * anyway, making this a single-scan plan.) */
  private def ivfAssignment(
      queries: DataFrame, bucketed: DataFrame): (DataFrame, DataFrame) = {
    val members = bucketed.select(col("bucket"), col("id").as("right_id"),
      col("vec").as("_rv"), Vectors.l2Norm(col("vec")).as("_rn2"))
    val q = queries.select(col("id").as("left_id"), col("vec").as("_lv"),
      Vectors.l2Norm(col("vec")).as("_ln"))
      .repartition(queries.sparkSession.sparkContext.defaultParallelism)
    (members, probeRanking(q, "left_id", "_lv",
      centroids(members.select(col("bucket"), col("_rv").as("vec")))))
  }

  /** The one centroid probe ranking of the IVF family ([[ivfTopK]],
    * [[IndexStore.search]], [[IndexStore.assignBuckets]]): every (query,
    * bucket) pair with `_ccos` the guarded query–centroid cosine, `_qc`
    * the raw query–centroid dot and `_rn` the bucket's rank for its
    * query — cosine desc, ties on bucket asc. `q` carries the query id
    * column `id`, its vector column `vec` and its norm `_ln`, all passed
    * through; `cents` is (bucket, centroid), one row per bucket, so it
    * is broadcast. */
  private[similarity] def probeRanking(q: DataFrame, id: String, vec: String,
                                       cents: DataFrame): DataFrame = {
    val c = cents.select(col("bucket"), col("centroid"),
      Vectors.l2Norm(col("centroid")).as("_cn"))
    val w = Window.partitionBy(id).orderBy(col("_ccos").desc, col("bucket").asc)
    q.crossJoin(broadcast(c))
      .select(q.columns.map(col).toSeq ++ Seq(col("bucket"),
        Vectors.cosineFromNorms(col(vec), col("centroid"), col("_ln"), col("_cn")).as("_ccos"),
        Vectors.dot(col(vec), col("centroid")).as("_qc")): _*)
      .withColumn("_rn", row_number().over(w))
  }

  /** Recall@k-vs-probes sweep — the approximation-quality curve for the
    * IVF multi-probe knob, pinned the same way `mh_lsh_tuning` pins the
    * LSH (b,r) S-curve. The centroid-assignment RANKING is computed once
    * and every sweep point reuses it: a query's rank-r bucket fans out
    * (row-locally) to each probe count p ≥ r, so the sweep costs one
    * clustering pass + one candidate join sized by max(probes) — not one
    * IVF run per point. The exact baseline is one [[topKCosine]] run.
    *
    * Output: (probes int, n_queries, recall_at`k`) — recall = mean over
    * queries of |ivf∩brute| / k, rising in probes (monotone by
    * construction: a larger p only widens the candidate union).
    *
    * 100 TB shape: same as [[ivfTopK]] (tiny broadcast centroids, bucket
    * equi-join) with candidate volume multiplied by Σ p∈probesList —
    * a diagnostic you run on a sample, not the whole corpus. */
  def ivfRecallCurve(queries: DataFrame, bucketed: DataFrame, k: Int,
      probesList: Seq[Int]): DataFrame = {
    require(probesList.nonEmpty, "need at least one probe count")
    val (members, ranked) = ivfAssignment(queries, bucketed)
    val assigned = ranked
      .filter(col("_rn") <= probesList.max)
      .withColumn("probes", explode(filter(
        array(probesList.map(lit): _*), p => p >= col("_rn"))))
      .select(col("probes"), col("left_id"), col("_lv"), col("_ln"), col("bucket"))
    // NO self-match exclusion on either side: brute and IVF see the
    // identical search task, so the curve is symmetric even when the
    // query set overlaps the corpus ids (self-search) — an asymmetric
    // exclusion would understate recall by 1/k per overlapping query.
    val scored = assigned.join(members, Seq("bucket"))
      .select(col("probes"), col("left_id"), col("right_id"),
        Vectors.cosineFromNorms(col("_lv"), col("_rv"), col("_ln"), col("_rn2")).as("cos"))
    val w = Window.partitionBy("probes", "left_id")
      .orderBy(col("cos").desc, col("right_id").asc)
    val ivf = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probes"), col("left_id"), col("right_id"), lit(1).as("_hit"))
    val brute = topKCosine(queries, bucketed.select(col("id"), col("vec")), k)
      .select(col("left_id"), col("right_id"))
      .withColumn("probes", explode(array(probesList.map(lit): _*)))
    brute.join(ivf, Seq("probes", "left_id", "right_id"), "left")
      .groupBy("probes", "left_id")
      .agg((sum(coalesce(col("_hit"), lit(0))) / k.toDouble).as("rec"))
      .groupBy("probes")
      .agg(count(lit(1)).as("n_queries"),
        Num.stableRound(avg(col("rec")), 6).as(s"recall_at$k"))
  }

  /** Deterministic pseudo-random hyperplane component: same md5 formula
    * as [[graft.functions.Text.md5Long]], evaluated on the driver —
    * value ∈ [-1, 1] with millesimal resolution. */
  def planeComponent(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$plane:$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    val h = java.lang.Long.parseLong(hex, 16)
    (h % 2001 - 1000) / 1000.0
  }

  /** Sign-LSH bucket key: one char per hyperplane, '1' iff vec·plane > 0.
    * Planes are md5-derived, so the DuckDB oracle regenerates them
    * exactly ([[planeSql]]). */
  def hyperplaneBucket(vec: Column, numPlanes: Int, dims: Int): Column =
    concat((0 until numPlanes).map { p =>
      val plane = array((0 until dims).map(d => lit(planeComponent(p, d))): _*)
      when(Vectors.dot(vec, plane) > 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** DuckDB expression mirroring [[hyperplaneBucket]] for an embedding
    * column named `emb` (1-based list indexing). */
  def hyperplaneBucketSql(emb: String, numPlanes: Int, dims: Int): String =
    (0 until numPlanes).map { p =>
      val terms = (0 until dims)
        .map(d => s"$emb[${d + 1}]::double * ((('0x'||substr(md5('$p:$d'),1,15))::bigint % 2001 - 1000)/1000.0)")
        .mkString(" + ")
      s"(CASE WHEN ($terms) > 0 THEN '1' ELSE '0' END)"
    }.mkString("||")

  /** Sign-LSH kNN: candidate generation by hyperplane-bucket equi-join
    * + exact cosine re-rank — the reference's n_candidates-then-re-rank
    * shape (blockbuilder.py:51-206) with LSH as the candidate source.
    * Fully shuffle-based: neither side is broadcast or nested-looped, so
    * this is the 100 TB path when the corpus outgrows [[topKCosine]]'s
    * broadcast. Recall: a pair at angle θ shares a bucket with
    * probability (1−θ/π)^numPlanes — near neighbors (θ≈0) almost always
    * collide; a query whose bucket holds < k corpus rows returns fewer
    * than k results (by design — LSH trades completeness for scale). */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      numPlanes: Int = 6, planeDims: Int = 16): DataFrame = {
    def withBucket(df: DataFrame, idAs: String, vecAs: String, nAs: String) =
      df.select(col("id").as(idAs), col("vec").as(vecAs),
        hyperplaneBucket(slice(col("vec"), 1, planeDims), numPlanes, planeDims).as("_b"),
        Vectors.l2Norm(col("vec")).as(nAs))
    val q = withBucket(queries, "left_id", "_lv", "_ln")
    val c = withBucket(corpus, "right_id", "_rv", "_rn")
    topK(q.join(c, Seq("_b")).select(col("left_id"), col("right_id"),
      Vectors.cosineFromNorms(col("_lv"), col("_rv"), col("_ln"), col("_rn")).as("cos")),
      k, col("cos").desc)
  }

  /** M13: CSLS hubness-reduced re-rank (reference: kiez hubness
    * reduction inside KiezEmbeddingBlockBuilder,
    * blockers/embedding/blockbuilder.py:107-167; method: cross-domain
    * similarity local scaling, Lample et al., ICLR'18 — the standard
    * hubness correction for entity-alignment kNN). Hubs — vectors that
    * appear in everyone's neighbor list — are demoted by subtracting
    * each side's local similarity scale:
    *
    *   csls(q, x) = 2·cos(q, x) − r_L(q) − r_R(x)
    *
    * where r_L(q) = mean of q's top-`scaleK` candidate cosines and
    * r_R(x) = mean of x's top-`scaleK` cosines over the REVERSE view of
    * the same candidate stream. Input is any (left_id, right_id, cos)
    * candidate stream — brute force, IVF, or LSH — so hubness reduction
    * composes with every candidate strategy, like kiez layers it over
    * any NN algorithm. Like kiez (which fits on the n_candidates
    * neighbor graph), the scales are computed on the given candidate
    * graph, not a separate exact search: over a brute-force stream the
    * two coincide exactly.
    *
    * Scale shape: two window-rank passes + two per-id aggregates + two
    * joins, all keyed on candidate ids — cost is O(candidates), the
    * stream is persisted because four subplans consume it (bounded:
    * candidate-stream-sized) and released as soon as the top-k is
    * materialized (every rerank here is eager: [[graft.core.CacheScope]]
    * seals the ≤ k rows per left id, so a long-lived session does not
    * keep one cached candidate stream per call).
    * Output keeps raw `cos` alongside `csls`
    * and re-ranks per left id by csls (tie-break right id). */
  def cslsRerank(candidates: DataFrame, k: Int, scaleK: Int): DataFrame = {
    val (cand, scaled) = sideScaled(candidates, col("cos").desc, scaleK)(
      (top, id, _) => top.groupBy(id).agg(avg("cos").as("_s")))
    val scored = scaled.select(col("left_id"), col("right_id"), col("cos"),
      (lit(2.0) * col("cos") - col("_sq") - col("_st")).as("csls"))
    CacheScope.seal(topK(scored, k, col("csls").desc), cand)
  }

  /** The hubness prologue of [[cslsRerank]], [[nicdmRerank]],
    * [[localScalingRerank]] and [[dslRerank]]: the candidate stream
    * `cand` (left_id, right_id, cos), persisted because every subplan
    * reads it, and the same stream with each endpoint's local scale.
    * Per side, each id's top-`scaleK` candidates by `key` (ties on the
    * other side's id) go to `scale(top, id, otherId)`, which reduces
    * them to one (id, `_s`) row per id; the left scale joins back as
    * `_sq`, the right one (the reverse view) as `_st`. The caller seals
    * `cand`. */
  private def sideScaled(candidates: DataFrame, key: Column, scaleK: Int)(
      scale: (DataFrame, String, String) => DataFrame): (DataFrame, DataFrame) = {
    val cand = candidates.select("left_id", "right_id", "cos").persist()
    def side(id: String, other: String, as: String): DataFrame = {
      val w = Window.partitionBy(id).orderBy(key, col(other).asc)
      scale(cand.withColumn("_r", row_number().over(w)).filter(col("_r") <= scaleK),
        id, other).withColumnRenamed("_s", as)
    }
    (cand, cand.join(side("left_id", "right_id", "_sq"), Seq("left_id"))
      .join(side("right_id", "left_id", "_st"), Seq("right_id")))
  }

  /** NICDM hubness reduction (non-iterative contextual dissimilarity
    * measure, Jégou et al. CVPR 2007 — kiez's "nicdm" method,
    * `blockers/embedding/blockbuilder.py:107-167` reaches it through the
    * kiez registry): rescale each candidate distance by the local
    * distance scale of BOTH endpoints,
    *
    *   d'(q,x) = d(q,x) / sqrt(μ_s(q) · μ_s(x)),   d = 1 − cos,
    *
    * with μ_s = mean distance to the `scaleK` nearest candidates (the
    * reverse view on the right side, like [[cslsRerank]]). A hub with a
    * small local scale gets its distances inflated; an anti-hub
    * deflated. Zero local scale (exact-duplicate neighborhoods) falls
    * back to the raw distance rather than dividing by zero. Same
    * candidate-stream contract and O(candidates) cost as [[cslsRerank]];
    * output re-ranks per left id by ascending `nicdm`. */
  def nicdmRerank(candidates: DataFrame, k: Int, scaleK: Int,
                  rankScale: Int = -1): DataFrame = {
    val d = lit(1.0) - col("cos")
    val (cand, scaled) = sideScaled(candidates, d.asc, scaleK)(
      (top, id, _) => top.groupBy(id).agg(avg(d).as("_s")))
    val scored = scaled.select(col("left_id"), col("right_id"), col("cos"),
      when(col("_sq") * col("_st") <= 0, d)
        .otherwise(d / sqrt(col("_sq") * col("_st"))).as("nicdm"))
    CacheScope.seal(topK(scored, k, Num.rankKey(col("nicdm"), rankScale).asc), cand)
  }

  /** Local-scaling hubness reduction (Zelnik-Manor & Perona NIPS 2004 —
    * kiez's "ls" method): similarity rescaled by the distance to each
    * endpoint's `scaleK`-th nearest candidate,
    *
    *   s'(q,x) = exp(−d(q,x)² / (σ(q) · σ(x))),   d = 1 − cos,
    *
    * σ = the `scaleK`-th smallest candidate distance (NOT the mean —
    * that's [[nicdmRerank]]), i.e. the largest distance among the
    * top-`scaleK`; an endpoint with FEWER than `scaleK`
    * candidates uses its farthest available one (Zelnik-Manor's usual
    * sparse-neighborhood fallback) — without it, every pair touching a
    * sparse endpoint (an unpopular right id in the reverse view, or
    * `hubnessCandidates` < `scaleK`) would silently vanish from the
    * output. Zero σ (duplicate neighborhoods) falls
    * back to s' = 1 for d = 0 / s' = 0 otherwise via a guarded division.
    * Output re-ranks per left id by descending `ls`. */
  def localScalingRerank(candidates: DataFrame, k: Int, scaleK: Int,
                         rankScale: Int = -1): DataFrame = {
    val d = lit(1.0) - col("cos")
    // the inner joins always find a σ row: every endpoint has ≥ 1
    // candidate, and the max over its top-scaleK is the farthest
    // available when the neighborhood is sparse
    val (cand, scaled) = sideScaled(candidates, d.asc, scaleK)(
      (top, id, _) => top.groupBy(id).agg(max(d).as("_s")))
    val scored = scaled.select(col("left_id"), col("right_id"), col("cos"),
      when(col("_sq") * col("_st") <= 0, when(d <= 0, lit(1.0)).otherwise(lit(0.0)))
        .otherwise(exp(-(d * d) / (col("_sq") * col("_st")))).as("ls"))
    CacheScope.seal(topK(scored, k, Num.rankKey(col("ls"), rankScale).desc), cand)
  }

  /** Empiric mutual proximity (Schnitzer et al. JMLR 2012 — kiez's "mp"
    * with method="empiric"): re-score a pair by the joint probability
    * that a random candidate of each endpoint lies FARTHER than the
    * other endpoint,
    *
    *   MP(q,x) = |{z ∈ C(q): d(q,z) > d(q,x)}| / |C(q)|
    *           · |{z ∈ C(x): d(x,z) > d(x,q)}| / |C(x)|,
    *
    * over the candidate graph (reverse view on the right side). Strictly
    * rank-based — no distance arithmetic survives, which is what makes
    * MP immune to heterogeneous density. Computed with one `rank()` per
    * side: ascending-cos rank − 1 = #strictly-farther (ties collapse,
    * exactly the empirical P(D > d)). Higher MP = closer; re-ranks per
    * left id by descending `mp`, ties on raw cos then right id.
    *
    * MP is a product of two small rationals, so EXACT ties between pairs
    * are common (3/10·1 = 1/2·6/10); the floating-point product only
    * breaks them by ulp noise, which depends on operation order. With
    * a non-negative `rankScale` the order key is `mp` rounded to that many decimals
    * (the [[nicdmRerank]] knob), so an exact tie falls through to cos as
    * documented instead of to the last ulp. */
  def mutualProximityRerank(candidates: DataFrame, k: Int,
                            rankScale: Int = -1): DataFrame = {
    val cand = candidates.select("left_id", "right_id", "cos").persist()
    val scored = cand
      .withColumn("_fq",
        (rank().over(Window.partitionBy("left_id").orderBy(col("cos").asc)) - 1)
          .cast("double") /
          count(lit(1)).over(Window.partitionBy("left_id")))
      .withColumn("_ft",
        (rank().over(Window.partitionBy("right_id").orderBy(col("cos").asc)) - 1)
          .cast("double") /
          count(lit(1)).over(Window.partitionBy("right_id")))
      .select(col("left_id"), col("right_id"), col("cos"),
        (col("_fq") * col("_ft")).as("mp"))
    CacheScope.seal(
      topK(scored, k, Num.rankKey(col("mp"), rankScale).desc, col("cos").desc), cand)
  }

  /** DisSimLocal hubness reduction (Hara et al. AAAI 2016 — kiez's
    * "dsl" method, the one member of its registry that needs the
    * VECTORS, not just the candidate distances): flatten spatial
    * centrality by subtracting each endpoint's squared distance to its
    * local neighborhood centroid,
    *
    *   dsl(q, x) = ‖q − x‖² − ‖q − c(q)‖² − ‖x − c(x)‖²
    *
    * where c(q) = centroid of q's `scaleK` nearest candidate vectors.
    * A hub sits close to its local centroid (small self-term, little
    * correction); a point on a sparse fringe gets a large self-term
    * subtracted, pulling its pairs closer. kiez computes the target
    * self-term from a separate target-to-target kNN fit; like every
    * rerank here, this one stays on the given candidate graph — the
    * right-side centroid comes from the REVERSE candidate view (left
    * vectors; same space in the alignment setting), the documented
    * candidate-graph divergence shared with [[cslsRerank]].
    *
    * `left`/`right` are (id, vec) frames for the candidate endpoints.
    * ‖q − x‖² is recomputed exactly from the vectors (kiez requires
    * squared Euclidean from the NN algorithm; the stream here carries
    * cos, so the distance is derived, not converted). Scale shape: two
    * window-rank passes, two collect_list centroid aggregates (bounded:
    * scaleK vectors per id), four hash joins keyed on candidate ids —
    * O(candidates · dim), centroid math in codegen'd higher-order
    * functions. Output re-ranks per left id by ASCENDING dsl (it is a
    * dissimilarity; can go negative), ties on right id. */
  def dslRerank(candidates: DataFrame, left: DataFrame, right: DataFrame,
                k: Int, scaleK: Int, rankScale: Int = -1): DataFrame = {
    val lv = left.select(col("id").as("left_id"), col("vec").as("_qv"))
    val rv = right.select(col("id").as("right_id"), col("vec").as("_xv"))
    // self-term: squared distance to the mean of the top-scaleK
    // neighbors' vectors, which come from the other side
    val (cand, scaled) = sideScaled(candidates, col("cos").desc, scaleK) { (top, id, other) =>
      val ((own, v), (far, fv)) =
        if (id == "left_id") ((lv, "_qv"), (rv, "_xv")) else ((rv, "_xv"), (lv, "_qv"))
      top.join(far, Seq(other)).groupBy(id).agg(collect_list(col(fv)).as("_vs"))
        .join(own, Seq(id))
        .select(col(id), Vectors.sqDist(col(v), Vectors.meanVec(col("_vs"))).as("_s"))
    }
    val scored = scaled.join(lv, Seq("left_id")).join(rv, Seq("right_id"))
      .select(col("left_id"), col("right_id"), col("cos"),
        (Vectors.sqDist(col("_qv"), col("_xv")) - col("_sq") - col("_st")).as("dsl"))
    CacheScope.seal(topK(scored, k, Num.rankKey(col("dsl"), rankScale).asc), cand)
  }

  /** Named hubness-reduction method over a (left_id, right_id, cos)
    * candidate stream — the knob [[graft.blockers.EmbeddingKnnBlocker]]
    * exposes, mirroring kiez's `hubness=` argument (reference
    * blockers/embedding/blockbuilder.py:107-167: search n_candidates,
    * reduce, keep n_neighbors). Every method returns the reranked top-k
    * with `left_id`, `right_id`, `cos` and its own score column.
    * DisSimLocal additionally needs the endpoint VECTORS — the
    * vector-aware overload receives them; distance-only methods ignore
    * them. */
  sealed trait HubnessReduction {
    def rerank(candidates: DataFrame, k: Int): DataFrame
    /** Vector-aware form: `left`/`right` are (id, vec) frames. Default
      * delegates to the distance-only form. */
    def rerank(candidates: DataFrame, left: DataFrame, right: DataFrame,
               k: Int): DataFrame = rerank(candidates, k)
  }
  object HubnessReduction {
    final case class Csls(scaleK: Int = 5) extends HubnessReduction {
      def rerank(c: DataFrame, k: Int): DataFrame = cslsRerank(c, k, scaleK)
    }
    final case class Nicdm(scaleK: Int = 5) extends HubnessReduction {
      def rerank(c: DataFrame, k: Int): DataFrame = nicdmRerank(c, k, scaleK)
    }
    final case class LocalScaling(scaleK: Int = 5) extends HubnessReduction {
      def rerank(c: DataFrame, k: Int): DataFrame =
        localScalingRerank(c, k, scaleK)
    }
    case object MutualProximity extends HubnessReduction {
      def rerank(c: DataFrame, k: Int): DataFrame =
        mutualProximityRerank(c, k)
    }
    final case class DisSimLocal(scaleK: Int = 5) extends HubnessReduction {
      def rerank(c: DataFrame, k: Int): DataFrame =
        throw new IllegalArgumentException(
          "DisSimLocal needs the endpoint vectors — use the " +
            "rerank(candidates, left, right, k) overload")
      override def rerank(c: DataFrame, left: DataFrame, right: DataFrame,
                          k: Int): DataFrame =
        dslRerank(c, left, right, k, scaleK)
    }
    /** kiez-style string names, for the CLI: csls | nicdm | ls | mp | dsl. */
    def byName(name: String, scaleK: Int = 5): HubnessReduction =
      name match {
        case "csls"  => Csls(scaleK)
        case "nicdm" => Nicdm(scaleK)
        case "ls"    => LocalScaling(scaleK)
        case "mp"    => MutualProximity
        case "dsl"   => DisSimLocal(scaleK)
        case other => throw new IllegalArgumentException(
          s"unknown hubness method '$other'; known: csls, nicdm, ls, mp, dsl")
      }
  }

  /** Scale path of [[selfJoinNearDup]]: only pairs sharing a sign-LSH
    * bucket are compared — the self-join becomes an equi-join on the
    * bucket key (shuffle, no nested loop). Recall is bounded by bucket
    * granularity: p planes ⇒ a pair at angle θ collides with probability
    * (1−θ/π)^p; near-dups (θ≈0) almost always collide. */
  def bucketedNearDup(
      df: DataFrame, threshold: Double,
      numPlanes: Int = 6, planeDims: Int = 16): DataFrame = {
    pairsWithin(df.select(col("id"), col("vec"),
      hyperplaneBucket(slice(col("vec"), 1, planeDims), numPlanes, planeDims).as("_b"),
      Vectors.l2Norm(col("vec")).as("_n")), "_b", threshold)
  }

  /** (id_a < id_b, cos) pairs with cos ≥ threshold among the rows of
    * `keyed` (key, id, vec, `_n` = ‖vec‖₂) that share `key`. */
  private def pairsWithin(keyed: DataFrame, key: String, threshold: Double): DataFrame = {
    def side(s: String) = keyed.select(col(key), col("id").as(s"id_$s"),
      col("vec").as(s"_v$s"), col("_n").as(s"_n$s"))
    nearDupCos(side("a").join(side("b"), Seq(key)).filter(col("id_a") < col("id_b")),
      threshold)
  }

  /** Scores (id_a, _va, _na) × (id_b, _vb, _nb) pairs and keeps cos ≥ threshold. */
  private def nearDupCos(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
        Vectors.cosineFromNorms(col("_va"), col("_vb"), col("_na"), col("_nb")).as("cos"))
      .filter(col("cos") >= threshold)

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540 — public method): all (a < b)
    * pairs with cosine ≥ threshold WITHIN pre-assigned embedding
    * clusters (k-means labels, IVF buckets, …). Pairs can only form
    * inside a cluster, so candidate volume is Σ|cluster|², not n² —
    * the cluster scoping is exactly what makes embedding dedup
    * tractable at corpus scale (the paper runs k-means first for the
    * same reason). Input: (cluster, id, vec).
    *
    * `maxClusterSize` is the hot-key guard of the dedup family: clusters
    * larger than the cap are anti-filtered out BEFORE the self-join
    * (default off) — a degenerate cluster of B vectors would otherwise
    * emit B² candidate rows. */
  def clusterNearDup(clustered: DataFrame, threshold: Double,
                     maxClusterSize: Long = Long.MaxValue): DataFrame = {
    val base = clustered.select(col("cluster"), col("id"), col("vec"),
      Vectors.l2Norm(col("vec")).as("_n"))
    val pruned =
      if (maxClusterSize == Long.MaxValue) base
      else {
        val hot = base.groupBy("cluster").agg(count(lit(1)).as("_c"))
          .filter(col("_c") > maxClusterSize).select("cluster")
        base.join(hot, Seq("cluster"), "left_anti")
      }
    pairsWithin(pruned, "cluster", threshold)
  }

  /** All pairs (a < b) with cosine ≥ threshold — exact O(n²) self-join;
    * the scale path buckets first ([[bucketedNearDup]]). */
  def selfJoinNearDup(df: DataFrame, threshold: Double): DataFrame = {
    val a = df.select(col("id").as("id_a"), col("vec").as("_va"),
      Vectors.l2Norm(col("vec")).as("_na"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val b = df.select(col("id").as("id_b"), col("vec").as("_vb"),
      Vectors.l2Norm(col("vec")).as("_nb"))
    nearDupCos(a.join(b, col("id_a") < col("id_b")), threshold)
  }

  /** Embedding-space benchmark decontamination — the semantic sibling of
    * n-gram [[graft.dedup.Dedup.decontaminate]]: a corpus document is
    * contaminated iff its embedding's cosine against ANY benchmark
    * vector reaches `threshold` (paraphrased test-set leakage that
    * n-gram overlap misses). Every corpus row is scored with its best
    * benchmark match (max cosine, ties broken by minimal benchmark id —
    * found via struct-max, not `max_by`, so the witness is
    * deterministic).
    *
    * 100 TB shape: the benchmark is benchmark-sized → explicit
    * broadcast; the corpus pays one scan against it (BNLJ on a tiny
    * build side, the documented pattern) and the per-id argmax collapses
    * map-side — corpus never shuffles beyond the final |corpus|-row
    * aggregate. For benchmark sets too big to broadcast, bucket both
    * sides with [[hyperplaneBucket]] first (the [[bucketedNearDup]]
    * shape) and accept LSH recall.
    *
    * `corpus`: (id, vec); `bench`: (id, vec). Output:
    * (id, bench_id, cos, contaminated). */
  def embeddingDecontam(corpus: DataFrame, bench: DataFrame,
                        threshold: Double): DataFrame = {
    val b = bench.select(col("id").cast("long").as("_bid"),
      col("vec").as("_vb"), Vectors.l2Norm(col("vec")).as("_nb"))
    corpus.select(col("id"), col("vec").as("_va"),
        Vectors.l2Norm(col("vec")).as("_na"))
      .crossJoin(broadcast(b))
      .select(col("id"), col("_bid"),
        Vectors.cosineFromNorms(col("_va"), col("_vb"), col("_na"), col("_nb")).as("_cos"))
      .groupBy("id")
      .agg(max(struct(col("_cos").as("c"), (-col("_bid")).as("nb"))).as("_m"))
      .select(col("id"),
        (-col("_m.nb")).as("bench_id"),
        col("_m.c").as("cos"),
        (col("_m.c") >= threshold).as("contaminated"))
  }

  // ---------------- product quantization (PQ / ADC) ----------------

  /** IVF-PQ: the billion-scale composition (Jégou et al. 2011, §IV) —
    * queries probe their `probes` nearest centroid buckets (IVF) and
    * score ONLY those buckets' vectors, which are stored as PQ codes
    * and compared via ADC. Corpus state per vector: one bucket id +
    * `subspaces` small ints — the layout that fits a billion vectors
    * where raw floats cannot. Search cost: |probed buckets| · ADC
    * lookups; no full-vector corpus reads anywhere.
    *
    * `bucketed`: (bucket, id, vec) — any bucketing (label column,
    * KMeans via [[graft.blockers.AnnStrategy.Ivf]], …). There is one
    * IVF-PQ path: this call is [[IndexStore.buildIvfPq]] over its own
    * members followed by [[IndexStore.search]], the same two steps a
    * persisted index splits across jobs. */
  def ivfPqTopK(queries: DataFrame, bucketed: DataFrame, k: Int, dims: Int = 64,
                subspaces: Int = 8, codebookSize: Int = 16,
                probes: Int = 1, rankScale: Int = -1,
                residual: Boolean = false): DataFrame = {
    // persist: feeds the centroid aggregate AND the code encode; the
    // top-k is output-sized, so it is materialized and the member cache
    // released (CacheScope contract — the persist must not outlive the call)
    val members = bucketed.select(col("bucket"), col("id"), col("vec")).persist()
    CacheScope.seal(IndexStore.search(queries,
      IndexStore.buildIvfPq(members, dims, subspaces, codebookSize, residual),
      k, probes, rankScale), members)
  }

  /** Deterministic pseudo-random PQ codebook component (same md5 family
    * as [[planeComponent]], namespaced): value ∈ [-1, 1]. */
  def pqComponent(sub: Int, code: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"pq:$sub:$code:$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    val h = java.lang.Long.parseLong(hex, 16)
    (h % 2001 - 1000) / 1000.0
  }

  /** Materialized md5 codebook (sub)(code)(dim) for the native kernels. */
  def pqCodebook(subspaces: Int, codebookSize: Int, width: Int): Array[Array[Array[Double]]] =
    org.apache.spark.sql.graft.PqKernels.codebook(
      subspaces, codebookSize, width, pqComponent)

  /** DuckDB expression for [[pqComponent]] with SQL variables `s`,`c`,`d`. */
  def pqComponentSql(sub: String, code: String, dim: String): String =
    s"((('0x'||substr(md5('pq:'||$sub||':'||$code||':'||$dim), 1, 15))::bigint % 2001 - 1000)/1000.0"

  /** Product-quantization encode (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011 — the billion-scale ANN
    * compression standard): the vector splits into `subspaces` blocks of
    * `dims/subspaces` dims; each block is replaced by the id of its
    * L2-nearest codebook centroid → `dims` floats compress to
    * `subspaces` small ints. Codebooks here are the deterministic
    * md5-derived family (k-means-trained books are a drop-in swap; the
    * fixed family keeps the operator DuckDB-oracle-checkable, the same
    * trade [[hyperplaneBucket]] makes). Output: (id, codes: array<int>).
    *
    * Everything is row-local expression work over a literal codebook —
    * no join, no shuffle; the encode scan is embarrassingly parallel. */
  def pqEncode(df: DataFrame, dims: Int = 64,
               subspaces: Int = 8, codebookSize: Int = 16): DataFrame = {
    // native kernel: the expression-tree formulation is ~1024 unrolled
    // multiply-adds — over the JIT budget, runs interpreted (the
    // DotProduct lesson); the kernel is one compact counted loop with
    // the same rounded-argmin / lowest-code tie-break contract
    val book = pqCodebook(subspaces, codebookSize, dims / subspaces)
    df.select(col("id"),
      org.apache.spark.sql.graft.PqOps.pqEncode(col("vec"), book).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the approximate
    * inner product of query q and a coded vector is Σ_s ⟨q_s,
    * centroid(s, code_s)⟩ — queries stay exact, the corpus stays
    * compressed. Plan: per-query lookup tables (|Q|·subspaces·K rows,
    * built by a broadcast cross join against the literal codebook) are
    * equi-joined to the exploded codes on (subspace, code) and summed —
    * one shuffle on the pair key, no full-vector corpus reads. */
  def pqTopK(queries: DataFrame, codes: DataFrame, k: Int, dims: Int = 64,
             subspaces: Int = 8, codebookSize: Int = 16,
             rankScale: Int = -1): DataFrame = {
    import org.apache.spark.sql.graft.PqOps
    val book = pqCodebook(subspaces, codebookSize, dims / subspaces)
    // per-query lookup table once (native kernel), then the compressed
    // codes BROADCAST (that is the point of PQ: 8 ints per corpus row)
    // and scored with the 8-lookup ADC kernel — no (s, c) explode, no
    // |Q|·|C|·subspaces shuffle
    val lut = queries.select(col("id").as("left_id"),
      PqOps.pqLut(col("vec"), book).as("_lut"))
      .repartition(queries.sparkSession.sparkContext.defaultParallelism)
    val scored = lut.crossJoin(broadcast(codes.select(col("id").as("right_id"), col("codes"))))
      .select(col("left_id"), col("right_id"),
        PqOps.pqAdc(col("_lut"), col("codes"), codebookSize).as("adc"))
    topK(scored, k, Num.rankKey(col("adc"), rankScale).desc)
  }
}
