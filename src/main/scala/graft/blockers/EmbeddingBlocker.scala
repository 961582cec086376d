package graft.blockers

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import graft.core.{Blocks, CacheScope, EntityFrame}
import graft.encoders.FrameEncoder
import graft.similarity.Similarity

/** Candidate-generation strategy for [[EmbeddingKnnBlocker]] — the
  * reference's n_candidates-then-re-rank shape (blockbuilder.py:51-206)
  * with three candidate sources of increasing scale-fitness. */
sealed trait AnnStrategy
object AnnStrategy {
  /** Exact brute force (correctness baseline): O(|L|·|R|), right side
    * broadcast — only valid while it fits in executor memory. */
  case object Brute extends AnnStrategy
  /** IVF: KMeans-bucket the right side; queries probe the `probes`
    * nearest centroids' buckets (multi-probe recall knob), then exact
    * re-rank within them. */
  final case class Ivf(numBuckets: Int = 16, seed: Long = 42L, probes: Int = 1) extends AnnStrategy
  /** Sign-LSH: hyperplane buckets on both sides, equi-join candidates,
    * exact re-rank. Fully shuffle-based — the 100 TB default. */
  final case class SignLsh(numPlanes: Int = 4, planeDims: Int = 8) extends AnnStrategy
}

/** Embedding-based blocking (reference src/klinker/blockers/embedding/
  * blocker.py:28-239 + blockbuilder.py): encode both sides, then build
  * blocks from vector neighborhoods. Two builders:
  *   - kNN (J8/W4): each left entity blocks with its k nearest right
  *     entities, candidates from [[AnnStrategy]] (brute | IVF | sign-LSH
  *     + exact re-rank); optional Sinkhorn re-ranking (W5).
  *   - cluster (M11): KMeans labels replace the reference's HDBSCAN
  *     (no HDBSCAN on Spark — documented divergence); co-clustered
  *     entities share a block.
  */
final case class EmbeddingKnnBlocker(
    encoder: FrameEncoder,
    k: Int = 5,
    sinkhornIterations: Int = 0,
    strategy: AnnStrategy = AnnStrategy.Brute,
    // kiez contract (blockbuilder.py:107-167): search `hubnessCandidates`
    // neighbors, hubness-reduce over that candidate graph, keep k
    hubness: Option[Similarity.HubnessReduction] = None,
    hubnessCandidates: Int = 10) extends Blocker {

  override def assign(
      left: EntityFrame, right: EntityFrame,
      leftRel: Option[DataFrame], rightRel: Option[DataFrame]): Blocks =
    assignExcluding(left, right, leftRel, rightRel, None)

  /** Like assign, but drops `exclude` ids (frames with one `_cid` column)
    * from the EMBEDDINGS, after encoding — the reference hybrid's
    * `_filter_emb` (hybrid.py:155-178): graph encoders must see the full
    * neighborhood even for entities the unique-name pass already covered,
    * so the filter cannot run before the encoder. */
  def assignExcluding(
      left: EntityFrame, right: EntityFrame,
      leftRel: Option[DataFrame], rightRel: Option[DataFrame],
      exclude: Option[(DataFrame, DataFrame)]): Blocks = {
    val le0 = encoder.encode(left, leftRel)
    val re0 = encoder.encode(right, rightRel)
    val (le, re) = exclude match {
      case Some((cl, cr)) =>
        (le0.join(cl, le0("id") === cl("_cid"), "left_anti"),
         re0.join(cr, re0("id") === cr("_cid"), "left_anti"))
      case None => (le0, re0)
    }
    val kSearch = if (hubness.isDefined) math.max(k, hubnessCandidates) else k
    val cachedFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val cand = strategy match {
      case AnnStrategy.Brute =>
        Similarity.topKCosine(le, re, kSearch)
      case AnnStrategy.Ivf(numBuckets, seed, probes) =>
        // persist: KMeans re-evaluates its input every iteration, and the
        // feature frame is the whole encode pipeline
        val feat = re.withColumn("features", array_to_vector(col("vec"))).persist()
        cachedFrames += feat
        val bucketed = new KMeans().setK(numBuckets).setSeed(seed)
          .setFeaturesCol("features").setPredictionCol("_bkt")
          .fit(feat).transform(feat)
          .select(col("_bkt").cast("string").as("bucket"), col("id"), col("vec"))
        Similarity.ivfTopK(le, bucketed, kSearch, excludeSelf = false, probes = probes)
      case AnnStrategy.SignLsh(numPlanes, planeDims) =>
        Similarity.lshTopK(le, re, kSearch, numPlanes, planeDims)
    }
    val base = hubness match {
      case Some(h) =>
        // vector-aware overload: DisSimLocal needs the encoded vectors;
        // distance-only methods ignore the extra frames
        h.rerank(cand.select("left_id", "right_id", "cos"),
          le.select("id", "vec"), re.select("id", "vec"), k)
      case None => cand
    }
    val ranked =
      if (sinkhornIterations > 0) {
        // persist: rescale joins the candidate frame against its own
        // aggregates twice per iteration — uncached, every join would
        // re-execute the whole encode + candidate pipeline and the plan
        // grows geometrically with the iteration count
        val cand = base.select(col("left_id"), col("right_id"),
          ((col("cos") + 1.0) / 2.0).as("s")) // shift to ≥ 0 for scaling
          .persist()
        val scores = Sinkhorn.rescale(cand, sinkhornIterations)
        // the rerank checkpoint (if any), the candidate cache and the
        // rescale checkpoint all feed only the sealed NN table below
        cachedFrames ++= Seq(base, cand, scores)
        Similarity.topK(scores, k, col("s").desc)
      } else base
    // NN table is output-sized (one row per left entity): materialize it
    // and release whatever this call cached (CacheScope contract); with
    // nothing cached it stays the lazy plan
    val nn = ranked.groupBy("left_id")
      .agg(array_sort(collect_set(col("right_id"))).as("right_ids"))
    Blocks.fromNN(CacheScope.seal(nn, cachedFrames.toSeq: _*),
      "left_id", "right_ids")
  }
}

/** W5 Sinkhorn re-ranking (reference blockbuilder.py:209-283): iterative
  * row/column normalization of the candidate score matrix — expressed as
  * alternating groupBy-sum + broadcast-join divisions, never a collected
  * matrix. The matrix is already sparse (k candidates per left id). */
object Sinkhorn {
  /** Callers should pass a persisted `scores` frame — each iteration
    * joins it against its own aggregates twice, and every intermediate
    * round is persisted here so the plan stays flat in the iteration
    * count instead of growing geometrically. */
  def rescale(scores: DataFrame, iterations: Int): DataFrame = {
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var s = scores
    for (i <- 1 to iterations) {
      val rowSums = s.groupBy("left_id").agg(sum(col("s")).as("_rs"))
      val r = s.join(rowSums, Seq("left_id"))
        .select(col("left_id"), col("right_id"), (col("s") / col("_rs")).as("s"))
      val colSums = r.groupBy("right_id").agg(sum(col("s")).as("_cs"))
      val next = r.join(colSums, Seq("right_id"))
        .select(col("left_id"), col("right_id"), (col("s") / col("_cs")).as("s"))
      s = if (i < iterations) { val p = next.persist(); rounds += p; p } else next
    }
    // candidate-sized output: materialize, then drop the round caches;
    // one iteration caches nothing and stays lazy
    CacheScope.seal(s, rounds.toSeq: _*)
  }
}

/** M11: cluster-label blocking with MLlib KMeans standing in for the
  * reference's HDBSCAN (blockbuilder.py:286-447). Both sides are
  * clustered in ONE fit over the union (the reference concatenates
  * left+right embeddings too), then labels become block keys. */
final case class KMeansClusterBlocker(
    encoder: FrameEncoder,
    numClusters: Int = 10,
    seed: Long = 42L) extends Blocker {

  override def assign(
      left: EntityFrame, right: EntityFrame,
      leftRel: Option[DataFrame], rightRel: Option[DataFrame]): Blocks = {
    val le = encoder.encode(left, leftRel).withColumn("_side", lit("l"))
    val re = encoder.encode(right, rightRel).withColumn("_side", lit("r"))
    val all = le.unionByName(re)
    // persist: KMeans re-evaluates its input every iteration, and the
    // feature frame is both sides' whole encode pipeline
    val feat = all.withColumn("features", array_to_vector(col("vec"))).persist()
    val model = new KMeans().setK(numClusters).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("label")
    // label table is one slim row per entity: materialize it and release
    // the feature cache (CacheScope contract)
    val labeled = CacheScope.seal(
      model.fit(feat).transform(feat).select("id", "_side", "label"), feat)
    val l = labeled.filter(col("_side") === "l")
      .select(col("label").cast("string").as("key"), col("id"))
    val r = labeled.filter(col("_side") === "r")
      .select(col("label").cast("string").as("key"), col("id"))
    Blocker.blockJoin(l, r)
  }
}
