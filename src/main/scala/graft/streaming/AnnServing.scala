package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.graft.PqOps

import graft.functions.{Num, Vectors}
import graft.similarity.{IndexStore, Similarity}

/** ANN serving over a STREAM of query vectors against a static
  * [[IndexStore.IvfPqIndex]] — the online half of the "index once,
  * query many" contract: the corpus-side artifacts stay fixed (built by
  * a batch job, reloaded here), and each micro-batch of queries pays
  * only probe-selection + probed-bucket ADC.
  *
  * Streaming-safe construction (no window functions, which Structured
  * Streaming forbids):
  *
  *   1. probe selection is ROW-LOCAL: the centroid table (one row per
  *      IVF bucket, tiny by construction) is collected at plan time
  *      into a literal array-of-structs; each query row ranks it with
  *      `transform` + `array_sort` and keeps its `probes` best buckets
  *      — the same cosine/tie-break arithmetic as the batch path, so
  *      probe choices agree bit-for-bit;
  *   2. candidates come from a stream-static equi-join on the bucket
  *      key against the index's PQ codes;
  *   3. per-query top-k is `flatMapGroupsWithState` (the streaming
  *      top-k idiom): a query's candidates all arrive in its own
  *      micro-batch (they derive row-locally + static join), so the
  *      group emits once and stores nothing.
  *
  * Ids are LONG (the embeddings contract) so tie-breaks rank
  * numerically, exactly like the batch operator's window. A batch
  * invocation equals [[IndexStore.search]] row-for-row (spec-asserted,
  * and the `st_ann_serve` driver query shares the `ann_ivf_pq_topk`
  * oracle).
  */
object AnnServing {

  /** One scored candidate pre-top-k (public: janino + encoders). */
  final case class AnnCandidate(leftId: Long, rightId: Long,
      rankKey: Double, adc: Double)

  /** One served hit. */
  final case class AnnHit(left_id: Long, rank: Int, right_id: Long, adc: Double)

  /** queries: (id long, vec array<float|double>) — streaming or batch. */
  def serveIvfPq(queries: DataFrame, index: IndexStore.IvfPqIndex, k: Int,
                 probes: Int = 1, rankScale: Int = -1)(
      implicit spark: SparkSession): Dataset[AnnHit] = {
    import spark.implicits._
    require(k > 0 && probes > 0, "k and probes must be positive")
    // plan-time snapshot of the bucket centroids (the broadcast analog;
    // norms computed by the same kernel as the batch path so probe
    // cosines agree bit-for-bit)
    val cents = index.centroids
      .withColumn("_cn", Vectors.l2Norm(col("centroid")))
      .select(col("bucket").cast("string"), col("centroid"), col("_cn"))
      .collect()
    // empty index: a zero-element literal struct array has no resolvable
    // type, so short-circuit to the (correct) empty answer
    if (cents.isEmpty) return spark.emptyDataset[AnnHit]
    val centsLit = array(cents.map { r =>
      struct(
        typedlit(r.getSeq[Double](1)).as("cvec"),
        lit(r.getDouble(2)).as("cn"),
        lit(r.getString(0)).as("bucket"))
    }.toIndexedSeq: _*)
    val ln = Vectors.l2Norm(col("vec"))
    // rank buckets row-locally: struct sort on (negcos, bucket) — cos
    // desc with bucket-asc ties, the batch path's exact ordering (a
    // zero-norm -0.0 sorts equal to 0.0)
    val ranked = array_sort(transform(centsLit, c => struct(
      (-Vectors.cosineFromNorms(col("vec"), c.getField("cvec"), ln, c.getField("cn")))
        .as("negcos"),
      c.getField("bucket").as("bucket"),
      Vectors.dot(col("vec"), c.getField("cvec")).as("qc"))))
    val book = Similarity.pqCodebook(
      index.subspaces, index.codebookSize, index.dims / index.subspaces)
    // LUT BEFORE the probe explode: it depends only on the query
    // vector, so computing it on the pre-explode row pays the
    // O(codebookSize × dims) construction once per query instead of
    // once per probe — identical values ride the exploded rows
    val lut = queries
      .select(col("id").cast("long").as("leftId"),
        PqOps.pqLut(col("vec"), book).as("_lut"),
        slice(ranked, 1, probes).as("_ps"))
      .select(col("leftId"), col("_lut"), explode(col("_ps")).as("_p"))
      .select(col("leftId"), col("_lut"),
        col("_p.bucket").as("bucket"), col("_p.qc").as("_qc"))
    val adcExpr = PqOps.pqAdc(col("_lut"), col("codes"), index.codebookSize)
    val adc = (if (index.residual) col("_qc") + adcExpr else adcExpr).as("adc")
    val rankKey = Num.rankKey(adc, rankScale).as("rankKey")
    val cands = lut
      .join(index.codes.select(col("bucket"),
        col("right_id").cast("long").as("rightId"), col("codes")), Seq("bucket"))
      .select(col("leftId"), col("rightId"), rankKey, adc)
      .as[AnnCandidate]
    // streaming top-k: a query's candidates are confined to its own
    // micro-batch, so the group emits immediately and keeps NO state —
    // serving memory is bounded by the in-flight batch, not history
    cands.groupByKey(_.leftId)
      .flatMapGroupsWithState[Int, AnnHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, it: Iterator[AnnCandidate], _) =>
          // two stable sorts: rightId asc, then rankKey desc (IEEE
          // compare, matching the batch window's double ordering)
          it.toIndexedSeq.sortBy(_.rightId).sortBy(-_.rankKey).take(k)
            .zipWithIndex.map { case (c, i) => AnnHit(id, i + 1, c.rightId, c.adc) }
            .iterator
      }
  }
}
