package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PqOps

import graft.functions.{Num, Vectors}

/** Persisted ANN index: build the IVF-PQ corpus-side artifacts ONCE,
  * save them as parquet, and serve every later query batch from the
  * saved index — the production "index once, query many" contract.
  * [[Similarity.ivfPqTopK]] is [[buildIvfPq]] + [[search]] in one call
  * (fine for one-shot analytics); a serving pipeline at 100 TB amortizes
  * the corpus-sized build across query batches and ships the index, not
  * the vectors:
  *
  *   - `centroids.parquet` — one row per IVF bucket (tiny, broadcast at
  *     query time);
  *   - `codes.parquet` — one row per corpus vector: bucket + `subspaces`
  *     small ints (the PQ compression that fits a billion vectors where
  *     raw floats cannot), written partitioned by a bucket hash so a
  *     probe's scan touches a bounded file set;
  *   - `meta.json` — the build parameters; [[load]] refuses an index
  *     whose geometry doesn't parse, and [[search]] derives every knob
  *     from meta so a caller cannot query with mismatched dims/books.
  *
  * The PQ codebook itself is the deterministic md5 family
  * ([[Similarity.pqComponent]]) — a pure function of (subspaces,
  * codebookSize, width), so it is regenerated from meta rather than
  * stored. The direct operator runs this same build and search, so a
  * saved-and-loaded index returns bit-identical results to it (parquet
  * keeps doubles exactly) — hash-checked end-to-end by the
  * `ann_ivf_pq_saved` query, which shares `ann_ivf_pq_topk`'s DuckDB
  * oracle.
  */
object IndexStore {

  final case class IvfPqIndex(
      centroids: DataFrame, // (bucket, centroid array<double>)
      codes: DataFrame,     // (bucket, right_id, codes array<int>)
      dims: Int, subspaces: Int, codebookSize: Int, residual: Boolean)

  /** Corpus-side build: centroids + PQ codes from a bucketed corpus
    * (`bucketed`: (bucket, id, vec) — any bucketing: label column,
    * KMeans cells, sign-LSH). */
  def buildIvfPq(bucketed: DataFrame, dims: Int = 64, subspaces: Int = 8,
                 codebookSize: Int = 16, residual: Boolean = false): IvfPqIndex = {
    val members = bucketed.select(col("bucket"), col("id"), col("vec"))
    val cents = Similarity.centroids(members.select(col("bucket"), col("vec")))
    IvfPqIndex(cents, encode(members, cents, dims, subspaces, codebookSize, residual),
      dims, subspaces, codebookSize, residual)
  }

  /** PQ codes (bucket, right_id, codes) of (bucket, id, vec) members.
    * Residual mode (the production IVF-PQ layout, Jégou et al. §IV-A)
    * quantizes r = v − centroid(bucket) instead of v, and [[search]]
    * reconstructs the score as ⟨q, c⟩ + ADC(q, r̂) — residuals are
    * smaller than raw vectors, so the same codebook budget spends its
    * resolution on what the coarse quantizer missed. The centroid table
    * is per-bucket tiny → broadcast; the encode stays row-local. */
  private def encode(members: DataFrame, cents: DataFrame, dims: Int, subspaces: Int,
                     codebookSize: Int, residual: Boolean): DataFrame = {
    val codeInput =
      if (residual)
        members.join(broadcast(cents), Seq("bucket"))
          .select(col("id"),
            zip_with(col("vec"), col("centroid"), (a, b) => a - b).as("vec"))
      else members.select(col("id"), col("vec"))
    Similarity.pqEncode(codeInput, dims, subspaces, codebookSize)
      .join(members.select(col("id"), col("bucket")), Seq("id"))
      .select(col("bucket"), col("id").as("right_id"), col("codes"))
  }

  /** Write the index under `path`. Codes are repartitioned by bucket so
    * each probe reads a bounded file subset; centroids are coalesced to
    * one file (one row per bucket — driver-tiny by construction). */
  def save(index: IvfPqIndex, path: String): Unit = {
    index.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/centroids.parquet")
    index.codes.repartition(col("bucket")).write.mode("overwrite")
      .parquet(s"$path/codes.parquet")
    val meta =
      s"""{"dims":${index.dims},"subspaces":${index.subspaces},""" +
        s""""codebookSize":${index.codebookSize},"residual":${index.residual}}"""
    val spark = index.centroids.sparkSession
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((meta + "\n").getBytes("UTF-8")) finally out.close()
  }

  def load(spark: SparkSession, path: String): IvfPqIndex = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val meta = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def intField(k: String): Int = {
      val m = s""""$k":(\\d+)""".r.findFirstMatchIn(meta)
      require(m.isDefined, s"index meta at $path/meta.json lacks '$k': $meta")
      m.get.group(1).toInt
    }
    val residual = s""""residual":(true|false)""".r.findFirstMatchIn(meta)
    require(residual.isDefined, s"index meta at $path/meta.json lacks 'residual': $meta")
    IvfPqIndex(
      spark.read.parquet(s"$path/centroids.parquet"),
      spark.read.parquet(s"$path/codes.parquet"),
      intField("dims"), intField("subspaces"), intField("codebookSize"),
      residual.get.group(1).toBoolean)
  }

  /** Assign bucketless vectors to their nearest existing IVF cell
    * (cosine to the index's centroids, tie-break on bucket) — the
    * ingest front door for [[appendIvfPq]]: a delta arrives as plain
    * (id, vec) rows and leaves as (bucket, id, vec) rows compatible
    * with the index geometry. Centroids broadcast (tiny); one window
    * per delta row. */
  def assignBuckets(vectors: DataFrame, index: IvfPqIndex): DataFrame =
    Similarity.probeRanking(
        vectors.select(col("id"), col("vec"), Vectors.l2Norm(col("vec")).as("_ln")),
        "id", "vec", index.centroids)
      .filter(col("_rn") === 1)
      .select(col("bucket"), col("id"), col("vec"))

  /** Incremental ingest: encode a bucketed delta with the index's
    * EXISTING geometry — centroids stay fixed (no re-clustering; in
    * residual mode the delta quantizes against the stored centroids)
    * and only the delta pays encode cost. This is how a 100 TB index
    * absorbs daily arrivals: the O(corpus) build ran once, each delta
    * is O(delta). Centroids drifting too far from the data is the
    * rebuild trigger, a policy decision left to the caller. Deltas in
    * unknown buckets would be unreachable (no centroid row to probe),
    * so they are rejected loudly — route bucketless rows through
    * [[assignBuckets]] first. */
  def appendIvfPq(index: IvfPqIndex, bucketed: DataFrame): IvfPqIndex = {
    val members = bucketed.select(col("bucket"), col("id"), col("vec"))
    val unknown = members.select("bucket").distinct()
      .join(index.centroids.select("bucket"), Seq("bucket"), "left_anti")
      .take(3)
    require(unknown.isEmpty,
      s"delta references buckets with no centroid (${unknown.map(_.get(0)).mkString(", ")}…); " +
        "assign deltas with assignBuckets() or rebuild the index")
    index.copy(codes = index.codes.unionByName(encode(members, index.centroids,
      index.dims, index.subspaces, index.codebookSize, index.residual)))
  }

  /** IVF-PQ top-k against a prebuilt index: queries probe their
    * `probes` nearest centroids ([[Similarity.probeRanking]]), and only
    * the probed buckets' codes are scored by ADC — centroids arrive
    * broadcast-tiny from the index, codes join on the probed buckets.
    * Per query batch the cost is |Q|·|buckets| centroid ranking + the
    * probed buckets' ADC lookups; nothing corpus-wide is recomputed. */
  def search(queries: DataFrame, index: IvfPqIndex, k: Int,
             probes: Int = 1, rankScale: Int = -1): DataFrame = {
    val q = queries.select(col("id").as("left_id"), col("vec"),
      Vectors.l2Norm(col("vec")).as("_ln"))
      .repartition(queries.sparkSession.sparkContext.defaultParallelism)
    val book = Similarity.pqCodebook(
      index.subspaces, index.codebookSize, index.dims / index.subspaces)
    val lut = Similarity.probeRanking(q, "left_id", "vec", index.centroids)
      .filter(col("_rn") <= probes)
      .select(col("left_id"), col("bucket"), col("_qc"),
        PqOps.pqLut(col("vec"), book).as("_lut"))
    // probed-bucket equi-join on the compressed codes + 8-lookup ADC
    // kernel per surviving pair — the IVF scoping is what bounds pairs
    val adcExpr = PqOps.pqAdc(col("_lut"), col("codes"), index.codebookSize)
    val scored = lut.join(index.codes, Seq("bucket"))
      .select(col("left_id"), col("right_id"),
        (if (index.residual) col("_qc") + adcExpr else adcExpr).as("adc"))
    Similarity.topK(scored, k, Num.rankKey(col("adc"), rankScale).desc)
  }
}
