package graft

/** Dev tool: sweep every registered query's physical plan for scale
  * anti-patterns — operators that are O(n²) or single-node at 100 TB:
  *
  *   - `CartesianProduct` (unbounded pair blowup);
  *   - `BroadcastNestedLoopJoin` (per-row scan of a broadcast side —
  *     fine only when that side is provably tiny);
  *   - single-partition `Exchange SinglePartition` outside a final
  *     global aggregate/sort is NOT flagged here: top-level one-row
  *     results legitimately end there.
  *
  * Queries whose DESIGN is a documented exact baseline (brute-force
  * cosine top-k, small-side crossJoin re-ranks) are allow-listed with
  * the reason inline. Exits non-zero when an unexpected pattern shows,
  * so the audit can gate a round. Usage:
  *   sbt 'runMain graft.PlanAudit'           # all queries
  *   sbt 'runMain graft.PlanAudit ann_brute_topk'
  */
object PlanAudit {

  /** name -> why an O(n·m) operator is acceptable THERE. */
  private val allow: Map[String, String] = Map(
    "ann_brute_topk" -> "documented exact baseline: brute-force cosine over a broadcast query side",
    "dd_embedding_neardup" -> "documented exact O(n²) baseline (the _lsh variant is the scale path)",
    "w5_sinkhorn_rerank" -> "per-block dense re-rank over broadcast-small candidate lists",
    "m13_csls_knn" -> "neighborhood-statistics join over the bounded candidate list",
    "m13_nicdm_knn" -> "neighborhood-statistics join over the bounded candidate list",
    "m13_ls_knn" -> "neighborhood-statistics join over the bounded candidate list",
    "m13_mp_knn" -> "neighborhood-statistics join over the bounded candidate list",
    "m13_dsl_knn" -> "neighborhood-statistics join over the bounded candidate list",
    "ann_ivf_pq_append" -> "centroid table broadcast (one row per IVF bucket) for delta assignment + probe",
    "diag_token_skew_approx" -> "one-row approx profile crossed with one-row exact rank bounds",
    "m4_sif_pc_embedding" -> "one-row first-PC vector broadcast into the projection",
    "m5_pca_reduce" -> "one-row PCA basis broadcast into the projection",
    "m8_graph_propagation" -> "one-row degree-normalization scalar broadcast",
    "m9_lightea_embedding" -> "one-row norm scalars broadcast per channel",
    "ann_pq_adc_topk" -> "PQ codebook (k×m floats) broadcast to every partition",
    "ann_ivf_pq_topk" -> "PQ codebook + centroid table broadcast (both tiny by construction)",
    "ann_ivf_pq_residual" -> "PQ codebook + centroid table broadcast (both tiny by construction)",
    "ann_ivf_pq_saved" -> "loaded centroid table broadcast (one row per IVF bucket, tiny by construction)",
    "ann_pq_encode" -> "PQ codebook broadcast to every partition",
    "ann_ivf_label" -> "centroid table broadcast (k rows)",
    "ann_ivf_multiprobe" -> "centroid table broadcast (k rows)",
    "ann_hyperplane_lsh" -> "hyperplane matrix broadcast (bits×dims floats)",
    "ann_lsh_topk" -> "hyperplane matrix broadcast (bits×dims floats)",
    "emb_knn_blocker" -> "strategy-selected ANN path; small-side broadcast by construction",
    "m11_cluster_blocks" -> "centroid table broadcast (k rows)",
    "m11_kmeans_blocker" -> "MLlib KMeans internals broadcast centroids",
    "m11_dbscan_blocks" -> "documented exact all-pairs baseline over a dimension-sized value set (Density.dbscanStar lshPlanes=0; lshPlanes>0 is the bucketed scale path)",
    "m11_hdbscan_blocks" -> "documented exact all-pairs baseline over a dimension-sized value set (Density.hdbscanFlatCut lshPlanes=0; lshPlanes>0 is the bucketed scale path)",
    "m11_hdbscan_exact" -> "documented exact all-pairs baseline over a 27-point known-radius fixture (Density.hdbscanExact lshPlanes=0; lshPlanes>0 is the bucketed scale path)",
    "m11_hdbscan_auto" -> "documented exact all-pairs baseline over the same 27-point known-radius fixture (Density.hdbscanFlatCutAuto lshPlanes=0; lshPlanes>0 is the bucketed scale path)",
    "m12_density_pipeline" -> "documented exact all-pairs baseline over a 200-token synthetic vocabulary (Density.hdbscanFlatCut lshPlanes=0 inside DensityClusterAssigner; lshPlanes>0 is the bucketed scale path)",
    "mh_mllib_minhash_blocker" -> "one-row invariant-summary scalars crossJoined for the single-row output",
    "tx_quality_classifier" -> "one-row invariant-summary scalars crossJoined for the single-row output",
    "dd_embedding_neardup_lsh" -> "sign-LSH hyperplane matrix broadcast",
    "a4_rel_importance" -> "one-row entity-count total crossJoin(broadcast) (Relational.scala:98)",
    "a5_name_importance" -> "one-row entity-count total crossJoin(broadcast) (Relational.scala:120)",
    "m4_sif_embedding" -> "one-row token-count total crossJoin for SIF weighting (Encoders.scala:49)",
    "m3_tfidf_token_blocker" -> "one-row document-count total crossJoin(broadcast) for smooth idf (SimilarityBlockers.filteredTokens)",
    "p8_filter_importance" -> "consumes a4's importance pipeline (one-row total broadcast)",
    "w1_top_name_props" -> "consumes a5's importance pipeline (one-row total broadcast)",
    "tx_lm_score" -> "one-row (N, V) reference-totals broadcast into the smoothed log-prob projection",
    "tx_lm_buckets" -> "one-row (N, V) reference-totals broadcast (the lmScore stage; thresholds themselves ride a groups-sized broadcast hash join)",
    "tx_source_overlap" -> "group-count-sized sketch cross (sources² rows; each group pre-collapsed to one signature)",
    "tx_temperature_mix" -> "one-row N and Z totals crossJoin(broadcast) into the groups-sized weight table",
    "tx_dsir_weight" -> "one-row model-totals crossJoin(broadcast) into the bucket-bounded LLR join",
    "dd_embedding_decontam" -> "benchmark-sized broadcast scanned per corpus row (the decontam contract; bucket both sides for non-broadcastable benchmarks)",
    "tx_vocab_growth" -> "10-row checkpoint table crossJoin(broadcast) into the vocab-keyed rollup (TextAnalysis.vocabGrowth)",
    "tx_punkt_learn" -> "one-row corpus-totals crossJoin(broadcast) into the vocabulary-sized candidate table (TextAnalysis.punktLearnAbbrevs)",
    "rel_pagerank" -> "one-row node-count broadcast into each power-iteration rescale (PageRank.pageRank)",
    "tx_lm_bigram" -> "one-row (N, V) model-totals broadcast into the backoff projection (TextAnalysis.lmBigramScore)",
    "ev_zorder_stats" -> "one-row dimension-bounds broadcast into the range normalization (EventAnalytics.zOrderStats)",
    "mh_lsh_tuning" -> "5-row (b, r) config table crossJoin(broadcast) over the 19-row similarity grid (MinHash.lshTuningCurve)",
    "ann_ivf_recall" -> "contains the documented brute-force baseline (broadcast query side) it measures IVF recall against",
    "ann_ivf_recall_curve" -> "brute baseline (broadcast query side) + 8-row centroid table broadcast, shared across the probes sweep")

  private val patterns = Seq("CartesianProduct", "BroadcastNestedLoopJoin")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    var unexpected = 0
    names.foreach { n =>
      val plan =
        try SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"PLAN-FAILED: ${e.getMessage}" }
      val hits = patterns.filter(plan.contains)
      if (hits.nonEmpty || plan.startsWith("PLAN-FAILED")) {
        allow.get(n) match {
          case Some(reason) => println(f"ALLOW $n%-28s ${hits.mkString(",")} — $reason")
          case None =>
            unexpected += 1
            println(f"FLAG  $n%-28s ${hits.mkString(",")}${if (plan.startsWith("PLAN-FAILED")) " " + plan.linesIterator.next() else ""}")
        }
      }
    }
    println(s"\n${names.size} plans audited, $unexpected unexpected")
    spark.stop()
    if (unexpected > 0) sys.exit(1)
  }
}
