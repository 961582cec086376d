package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.core.EntityFrame
import graft.dedup.Dedup
import graft.functions.{MinHash, Text}
import graft.text.TextAnalysis

/** Batch scale GROWTH CURVES: the measured answer to "would this plan
  * survive 100×?" for the top-cost batch family (VERDICT r9 item 1 —
  * the batch analog of StreamRehearsal's boundedness runs).
  *
  * Runs the operators on [[skewedDocs]] corpora at ×1, ×10 and ×100 the
  * base SF (salted near-duplicate copies + a boilerplate paragraph on a
  * fifth of all documents — the "license header" pathology that melts
  * naive LSH) and records, per operator per factor, wall seconds and
  * the load-insensitive per-task maxima (input / shuffle-read bytes /
  * shuffle records / spill). The judgment row is the GROWTH RATIO of
  * the per-task maxima across each ×10 step: data grows 10× per step, so
  *
  *   - ratio ≪ 10 (ideally ~1): the plan sheds scale into MORE tasks —
  *     AQE re-plans reducer counts toward the advisory partition size
  *     and splits skewed join partitions — so the worst task an executor
  *     must absorb stays bounded; adding executors absorbs the rest.
  *     This is the property that survives a 1000-executor 100 TB run.
  *   - ratio ~10: some stage concentrates the growth in a fixed number
  *     of tasks (a global agg, an uncapped hot key) — a real finding.
  *
  * Methodology notes, deliberate choices:
  *   - shuffle.partitions stays at the bench default and AQE
  *     (coalescePartitions with a high initialPartitionNum + skewJoin)
  *     chooses reducer counts — exactly how a production job holds
  *     per-task size constant while data grows; a fixed reducer count
  *     would force per-task bytes to track data size by construction
  *     and measure nothing.
  *   - every near-dup operator runs WITH its hot-key cap at 256 — big
  *     enough that the ×100 duplicate groups (100 members) stay intact,
  *     small enough that the boilerplate keys (a fifth of the corpus)
  *     are intercepted. Cap engagement is reported per factor.
  *   - wall seconds are secondary (this box is load-noisy); the maxima
  *     are the adjudicated signal, same rule as bench.json.
  *
  * This is the one batch scale harness: every operator row runs unless
  * the optional 4th argument names a comma-separated subset.
  *
  * Usage: `runMain graft.ScaleCurve [sfDir] [factors] [cap] [ops]`
  * (defaults: /root/testdata/sf0.01, 1,10,100, 256, every row). Rows
  * merge into `SPARK_GRAFT_CURVE_OUT` (default `scale_curve.json`).
  */
object ScaleCurve {

  /** The skewed corpus: `copies` salted duplicates of every document,
    * with a shared boilerplate paragraph appended to every doc whose
    * base id hashes into a fifth of the space. Salting the text with the
    * copy ordinal keeps copies NEAR-duplicates (jaccard just under 1)
    * rather than exact ones, so the LSH path does real verify work. */
  def skewedDocs(spark: SparkSession, dir: String, copies: Int): DataFrame = {
    val boiler = "licensed under the apache license version 2 0 you may not " +
      "use this file except in compliance with the license you may obtain " +
      "a copy of the license at www apache org licenses"
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("string").as("base_id"), col("text"))
      .select(col("base_id"), col("text"),
        explode(sequence(lit(0), lit(copies - 1))).as("copy"))
      .select(
        concat(col("base_id"), lit("_"), col("copy")).as("id"),
        concat(
          col("text"), lit(" salt"), col("copy"),
          when(pmod(Text.md5Long(col("base_id")), lit(5)) === 0,
            lit(" " + boiler)).otherwise(lit(""))).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val factors = args.drop(1).headOption.getOrElse("1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val cap = args.drop(2).headOption.map(_.toInt).getOrElse(256)
    val spark = Harness.session("graft-scale-curve",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "1024",
      "spark.ui.enabled" -> "false")

    def measure(name: String)(f: => Long): Harness.Span[Long] = {
      val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val c = Harness.span(name)(f)
      System.err.println(f"[curve] $name%-22s ${c.seconds}%8.1f s  " +
        c.summaryLine + s"  result=${c.result}")
      // Release only what THIS op cached (operators persist internally,
      // e.g. PartitioningTokenBlocker's rt): a blanket clearCache() here
      // would also evict the docs/sh frames persisted for the whole
      // factor and bill every later op for the shared corpus rebuild.
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !cachedBefore.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
      c
    }

    // ×N-salted star schema shared by the relational rows: entity keys
    // salt per copy (disjoint ×N graphs); the relation vocabulary does
    // NOT (ln_1..ln_7 — real relation vocabularies don't grow with
    // data), which makes fixed-vocabulary aggregates the deliberate
    // hot-key probes in the rows that use it.
    def salted(t: String, copies: Int): DataFrame =
      spark.read.parquet(s"$dir/$t.parquet")
        .withColumn("copy", explode(sequence(lit(0), lit(copies - 1))))
    def saltedRel(copies: Int,
        filter: org.apache.spark.sql.Column = lit(true)): DataFrame =
      salted("lineitem", copies).filter(filter).select(
        concat(lit("o"), col("l_orderkey"), lit("_"), col("copy")).as("head"),
        concat(lit("ln_"), col("l_linenumber")).as("rel"),
        concat(lit("p"), col("l_partkey"), lit("_"), col("copy")).as("tail"))

    // ×N displaced-copy embeddings corpus + plane count shared by the
    // density rows (ladder and exact MUST measure the same corpus):
    // per-dimension md5 displacement keeps copies distinct but
    // in-family-tight; the sign-LSH plane count tracks log2 of the
    // value-set size — the deployment knob, scaled inside the op
    def densityCorpus(copies: Int): (Int, DataFrame) = {
      val planes = 8 + (2.0 * math.log(copies.toDouble) / math.log(2.0)).round.toInt
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("copy", explode(sequence(lit(0), lit(copies - 1))))
        .select(
          concat(col("vec_id"), lit("_"), col("copy")).as("id"),
          transform(col("embedding"), (x, i) =>
            x + (pmod(Text.md5Long(concat_ws(":", col("copy"), i)), lit(1000))
              - 500) / 25000.0).as("vec"))
      (planes, emb)
    }

    // (operator, corpus => materialized result count)
    def ops(docs: DataFrame, sh: DataFrame, copies: Int): Seq[(String, () => Long)] = Seq(
      // fixed-size-sample contract made measurable: sampleMod scales
      // WITH the corpus (2·copies), so the sample — and with it every
      // join in the gate — stays ~constant while the corpus grows ×100.
      // The only growing cost is the one sampling scan. Result column =
      // sampled doc count (should hold ~flat across factors).
      "lsh_recall" -> (() =>
        Dedup.lshRecall(sh, numPerm = 16, bands = 4, threshold = 0.2,
          sampleMod = 2 * copies).collect().head.getAs[Long]("n_docs")),
      "winnow_pairs_capped" -> (() =>
        TextAnalysis.winnowPairs(docs, minShared = 5, idCol = "id",
          textCol = "text", maxHashDocs = cap).count()),
      "incremental_sig" -> (() => {
        val corpus = sh.filter(Text.md5Long(col("id")) % 4 =!= 0)
        Dedup.minHashNearDupAgainstSig(
          MinHash.signature(corpus, 16), corpus,
          sh.filter(Text.md5Long(col("id")) % 4 === 0),
          numPerm = 16, bands = 4, threshold = 0.2,
          estPrefilter = 0.375, maxBucketSize = cap).count()
      }),
      "incremental_neardup" -> (() =>
        Dedup.minHashNearDupAgainst(
          sh.filter(Text.md5Long(col("id")) % 4 =!= 0),
          sh.filter(Text.md5Long(col("id")) % 4 === 0),
          numPerm = 16, bands = 4, threshold = 0.2,
          estPrefilter = 0.375, maxBucketSize = cap).count()),
      // containment (A ⊂ B) pairs over the same capped band buckets:
      // the boilerplate paragraph makes a fifth of the corpus contain it
      "containment" -> (() =>
        Dedup.minHashContainmentPairs(sh, 16, 4, 0.5, maxBucketSize = cap)
          .count()),
      "keep_best" -> (() =>
        Dedup.keepBest(
          docs.select(col("id"), length(col("text")).as("score")),
          "id", "score",
          Dedup.ngramJaccardPairs(sh, 0.5, maxDocFreq = cap)
            .select(col("id_a"), col("id_b"))).count()),
      "pagerank_hubbed" -> (() => {
        val fwd = docs.select(col("id").as("src"),
          concat(lit("hub"), pmod(Text.md5Long(col("id")), lit(4))).as("dst"))
        val arcs = fwd.unionByName(
          fwd.select(col("dst").as("src"), col("src").as("dst")))
        graft.relational.PageRank.pageRank(arcs, 3).count()
      }),
      // label propagation on the same 4-hub graph: the per-round
      // neighbor-label window-argmax is the one iterative shape
      // pageRank doesn't exercise (VERDICT r12 item 6) — the hub nodes
      // concentrate every round's argmax input, so a growth-tracking
      // max-task here would expose a label shuffle that scales with
      // data instead of with the node table
      "communities_hubbed" -> (() => {
        val fwd = docs.select(col("id").as("src"),
          concat(lit("hub"), pmod(Text.md5Long(col("id")), lit(4))).as("dst"))
        val arcs = fwd.unionByName(
          fwd.select(col("dst").as("src"), col("src").as("dst")))
        graft.relational.PageRank.labelPropagation(arcs, 3)
          .agg(countDistinct(col("community"))).head().getLong(0)
      }),
      "tfidf_token_blocker" -> (() => {
        def side(p: Int) = EntityFrame(
          docs.filter(pmod(Text.md5Long(col("id")), lit(2)) === p)
            .select(col("id"), col("text")), s"curve$p", "id")
        graft.blockers.TfIdfFilteredTokenBlocker(threshold = 0.15)
          .assign(side(0), side(1)).df.count()
      }),
      // cross-doc span family: the boilerplate paragraph is shared by a
      // fifth of all docs, so maxDocFreq=cap intercepts it pre-span
      "crossdoc_spans" -> (() =>
        Dedup.crossDocSpans(docs, "id", "text", 8, maxDocFreq = cap).count()),
      // count docs that LOST tokens, not rows: a bare count() lets
      // Catalyst eliminate the unique-key left join (and with it the
      // whole coverage computation), measuring nothing
      "crossdoc_cut" -> (() =>
        Dedup.crossDocCut(docs, "id", "text", 8, maxDocFreq = cap)
          .filter(col("n_kept") < col("n_tokens")).count()),
      // full curation funnel: the benchmark side stays FIXED (src0 of the
      // base dir) while the corpus grows — the eval-suite-sized gram
      // snapshot at 100 TB. Counting the DROPPED docs forces every
      // stage's signal (a bare count() would let Catalyst prune the
      // unused columns of the front, and with them the window).
      "curation_verdicts" -> (() =>
        graft.text.Curation.verdicts(
            docs,
            spark.read.parquet(s"$dir/documents.parquet")
              .filter(col("source") === "src0")
              .select(col("doc_id").cast("string").as("id"), col("text")),
            "id", "text", allowedLangs = Seq("en", "de", "fr"), contamN = 4)
          .filter(!col("keep")).count()),

      // ---- the five most expensive bench queries (r13 verdict item 3):
      // the same operator shapes on the ×N corpus / ×N-salted star
      // schema, so the per-task-maxima growth adjudication covers the
      // top of the bench board, not just the operator families above.
      "simhash_neardup" -> (() =>
        Dedup.simHashNearDupPairs(
          docs.select(col("id"),
            explode(Text.tokenize(col("text"))).as("key")).distinct(),
          maxHamming = 10).count()),
      "kmeans_blocker" -> (() => {
        def side(p: Int) = EntityFrame(
          docs.filter(pmod(Text.md5Long(col("id")), lit(2)) === p)
            .select(col("id"), col("text")), s"km$p", "id")
        graft.blockers.KMeansClusterBlocker(
          graft.encoders.HashTokenEncoder(8), numClusters = 8)
          .assign(side(0), side(1)).df.count()
      }),
      // the CAPPED native path (maxBlockComparisons > 0) — the scale
      // form; the bench query's approxSimilarityJoin variant is the
      // documented toy-scale alternative
      "mllib_minhash_blocker" -> (() => {
        def side(p: Int) = EntityFrame(
          docs.filter(pmod(Text.md5Long(col("id")), lit(2)) === p)
            .select(col("id"), col("text")), s"mh$p", "id")
        graft.blockers.MlLibMinHashBlocker(jaccardThreshold = 0.9,
          numHashTables = 4, maxBlockComparisons = 1000000L)
          .assign(side(0), side(1)).df.count()
      }),
      // rel_pagerank's FULL shape incl. the arc-construction join —
      // lineitem⨝orders salted ×N (per-copy keys, so the join and the
      // graph both grow ×N); pagerank_hubbed above isolates the
      // iteration core, this row covers the end-to-end query
      "pagerank_copurchase" -> (() => {
        val pairs = salted("lineitem", copies)
          .select(col("l_orderkey"), col("l_suppkey"), col("copy"))
          .join(salted("orders", copies).select(col("o_orderkey").as("l_orderkey"),
            col("o_custkey"), col("copy")), Seq("l_orderkey", "copy"))
          .select(concat(lit("c"), col("o_custkey"), lit("_"), col("copy")).as("c"),
            concat(lit("s"), col("l_suppkey"), lit("_"), col("copy")).as("su"))
          .distinct()
        val arcs = pairs.select(col("c").as("src"), col("su").as("dst"))
          .unionByName(pairs.select(col("su").as("src"), col("c").as("dst")))
        graft.relational.PageRank.pageRank(arcs, 3).count()
      }),
      // density/HDBSCAN family on its bucketed scale path: ×N salted
      // copies of the embeddings table, each copy displaced by a small
      // deterministic per-dimension offset (distinct values forming
      // per-base-point families — the assigner's distinct-value
      // contract). The scale knob is the sign-LSH plane count, which
      // must track log2 of the value-set size to hold unrelated-pair
      // bucket collisions constant — scaled inside the op exactly as a
      // deployment would. In-family pairs grow with family size² (the
      // near-dup family IS the output), cross-family work stays
      // bucket-bounded.
      "density_ladder" -> (() => {
        val (planes, emb) = densityCorpus(copies)
        graft.similarity.Density.hdbscanFlatCut(
          emb, epsLadder = Seq(0.12, 0.1, 0.08), minPts = 2,
          minClusterSize = 2, lshPlanes = planes, planeDims = 16)
          .filter(col("cluster").isNotNull).count()
      }),

      // the UNCAPPED winnow self-join (tx_winnow_pairs' bench shape —
      // the capped twin above is the scale lever): the boilerplate
      // paragraph's fingerprints are shared by a fifth of the corpus,
      // so the h-key join inflates quadratically in the family size.
      // This row QUANTIFIES that: output and per-task maxima are
      // expected to grow ~×100 per ×10 step (the family-size square),
      // which is the measured argument for why a deployment must run
      // the capped form — not a plan defect to fix (AQE's skew split
      // spreads the pairs; the volume itself is the cost).
      "winnow_pairs_uncapped" -> (() =>
        TextAnalysis.winnowPairs(docs, minShared = 5, idCol = "id",
          textCol = "text").count()),
      // p8_filter_importance's full shape on the ×N-salted star schema:
      // entity keys salt per copy, the RELATION vocabulary does NOT
      // (ln_1..ln_7 — real relation vocabularies don't grow with data),
      // so the 7-key importance aggregate is the deliberate hot-key
      // probe: partial aggregation must reduce map-side and ship only
      // per-task partials into the 7-key exchange, and the final
      // broadcast join (7 importance rows) must stay a broadcast.
      "filter_importance" -> (() => {
        val rel = saltedRel(copies)
        val o = salted("orders", copies)
        val p = salted("part", copies)
        val attrs = o.select(
            concat(lit("o"), col("o_orderkey"), lit("_"), col("copy")).as("head"),
            lit("status").as("rel"), col("o_orderstatus").as("tail"))
          .unionByName(p.select(
            concat(lit("p"), col("p_partkey"), lit("_"), col("copy")).as("head"),
            lit("name").as("rel"), col("p_name").as("tail")))
        val af = EntityFrame(attrs, "curveattr", "head", isTriple = true)
        val imp = graft.relational.Relational.relationImportance(rel,
          graft.relational.Relational.countEntitiesFrame(af, rel))
        graft.relational.Relational.filterImportance(rel, imp, 2).count()
      }),
      // u3_reverse_rel's bench shape: the operator itself is a
      // shuffle-free projection; the bench row's max-task write is its
      // oracle-comparison ORDER BY — a global range sort, which must
      // shed into more tasks as data grows (sampled range partitioning
      // + AQE). The noop write forces the sorted materialization.
      "reverse_rel_sorted" -> (() => {
        val rev = graft.relational.Relational.reverseRel(saltedRel(copies), "inv_")
        rev.orderBy("head", "rel", "tail")
          .write.format("noop").mode("overwrite").save()
        rev.count() // scan-only recount for the result column
      }),

      // a11_joined_eval's shape: two blockings (token + lang standard)
      // over the ×N corpus, TP sets vs the ×N-salted pair gold — the
      // blocker runs and the gold joins all grow with the corpus, the
      // per-pair work stays gold-sided (never |block|² materialized)
      "joined_eval" -> (() => {
        val full = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang"),
            explode(sequence(lit(0), lit(copies - 1))).as("copy"))
          .select(concat(col("doc_id"), lit("_"), col("copy")).as("id"),
            col("doc_id"), col("text"), col("lang"), col("copy"))
          .persist()
        def side(p: Int, c: String) = EntityFrame(
          full.filter(col("doc_id") % 2 === p).select(col("id"), col(c)),
          s"je${c}$p", "id")
        val tok = graft.blockers.TokenBlocker(maxBlockComparisons = 1000000L)
          .assign(side(0, "text"), side(1, "text"))
        val lang = graft.blockers.StandardBlocker("lang")
          .assign(side(0, "lang"), side(1, "lang"))
        val gold = full.filter(col("doc_id") % 2 === 0)
          .select(col("id").as("l"),
            concat(col("doc_id") + 1, lit("_"), col("copy")).as("r"))
        val nl = full.filter(col("doc_id") % 2 === 0).count()
        val nr = full.filter(col("doc_id") % 2 === 1).count()
        val res = graft.eval.Evaluation.joinedEvaluate(tok, lang, gold, nl, nr)
        graft.core.CacheScope.release(full)
        res.truePositive
      }),

      // a12_blocker_report's shape: THREE blockings (capped token + two
      // standard) evaluated via the round-18 fused counting action plus
      // the TP-intersection pass — each block table persisted and
      // consumed by BOTH passes, so this row measures exactly what the
      // eval-trio persists must survive at scale: corpus-sized block
      // tables under default MEMORY_AND_DISK (spill column) while the
      // gold side stays a broadcast (guide §5). Result = Σ tp over the
      // report rows.
      "blocker_report" -> (() => {
        val full = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            explode(sequence(lit(0), lit(copies - 1))).as("copy"))
          .select(concat(col("doc_id"), lit("_"), col("copy")).as("id"),
            col("doc_id"), col("text"), col("lang"), col("source"), col("copy"))
          .persist()
        def side(p: Int, c: String) = EntityFrame(
          full.filter(col("doc_id") % 2 === p).select(col("id"), col(c)),
          s"br${c}$p", "id")
        val tok = graft.core.Blocks(
          graft.blockers.TokenBlocker(maxBlockComparisons = 1000000L)
            .assign(side(0, "text"), side(1, "text")).df.persist())
        val lang = graft.core.Blocks(graft.blockers.StandardBlocker("lang")
          .assign(side(0, "lang"), side(1, "lang")).df.persist())
        val src = graft.core.Blocks(graft.blockers.StandardBlocker("source")
          .assign(side(0, "source"), side(1, "source")).df.persist())
        val gold = full.filter(col("doc_id") % 2 === 0)
          .select(col("id").as("l"),
            concat(col("doc_id") + 1, lit("_"), col("copy")).as("r"))
        val nl = full.filter(col("doc_id") % 2 === 0).count()
        val nr = full.filter(col("doc_id") % 2 === 1).count()
        val rep = graft.eval.Evaluation.comparisonReport(spark,
          Seq("tok" -> tok, "lang" -> lang, "src" -> src), gold, nl, nr)
        val n = rep.agg(sum(col("tp"))).head().getLong(0)
        graft.core.CacheScope.release(tok.df, lang.df, src.df, full)
        n
      }),
      // m9_lightea_embedding's shape on the ×N-salted star schema: the
      // three-view propagation's iterative joins (ent↔ent adjacency ×
      // feature table per depth) grow with the graph while the feature
      // width stays fixed, so the growth probe is the adjacency-join
      // shuffle. Entity keys salt per copy (disjoint ×N graphs); the
      // relation vocabulary does NOT (ln_1..ln_7, direction-tagged) —
      // the same fixed-vocabulary contract as filter_importance, making
      // the rel-view aggregate the deliberate hot-key side.
      "lightea" -> (() => {
        val rel = saltedRel(copies, col("l_orderkey") % 20 === 0)
        val ids = rel.select(col("head").as("id"))
          .unionByName(rel.select(col("tail").as("id"))).distinct()
        val triples = salted("orders", copies).select(
            concat(lit("o"), col("o_orderkey"), lit("_"), col("copy")).as("head"),
            lit("status").as("rel"), col("o_orderstatus").as("tail"))
          .unionByName(salted("part", copies).select(
            concat(lit("p"), col("p_partkey"), lit("_"), col("copy")).as("head"),
            lit("name").as("rel"), col("p_name").as("tail")))
        val af = EntityFrame(
          triples.join(ids.withColumnRenamed("id", "head"), Seq("head"), "left_semi"),
          "curvelea", "head", isTriple = true)
        graft.encoders.LightEAEncoder(
            graft.encoders.HashTokenEncoder(8), depth = 2, dims = 8)
          .encode(af, Some(rel)).count()
      }),
      // dd_cluster_histogram's shape: connected components over the
      // capped near-dup pair graph, then the cluster-size histogram.
      // The dup graph is star-shaped (salted-copy families), so
      // propagation converges before pointer jumping activates — this
      // row pins that the common case never pays for the jump path,
      // while components_chain below measures the path that does.
      "cluster_histogram" -> (() => {
        val pairs = Dedup.ngramJaccardPairs(sh, 0.5, maxDocFreq = cap)
          .select(col("id_a"), col("id_b"))
        Dedup.components(pairs)
          .groupBy("component").count()
          .groupBy(col("count").as("size")).count()
          .count()
      }),
      // the closure chain fed by the banded MinHash _lsh twin instead of
      // exhaustive n-gram candidate counting — the designed scale lever
      // for the closure family's remaining output-side volume (r17
      // adjudication in BASELINE.md: ngramJaccardPairs' ~2.1 GB ×100
      // spill is the weighted aggregation over 42.7 M exhaustive
      // shared-shingle candidates; LSH banding replaces that candidate
      // set with bucket-bounded ones). Same corpus, same cap, same
      // downstream components → histogram / keepBest argmax, so the
      // delta vs cluster_histogram / keep_best is purely the candidate
      // path. Band threshold 0.5 = the ngram rows' jaccard threshold;
      // salted-copy families sit at J≈1 so recall of the true families
      // is unaffected (lsh_recall's gate measures this contract).
      "cluster_histogram_lsh" -> (() => {
        val pairs = Dedup.minHashNearDupPairs(sh, numPerm = 16, bands = 4,
            threshold = 0.5, estPrefilter = 0.375, maxBucketSize = cap)
          .select(col("id_a"), col("id_b"))
        Dedup.components(pairs)
          .groupBy("component").count()
          .groupBy(col("count").as("size")).count()
          .count()
      }),
      "keep_best_lsh" -> (() =>
        Dedup.keepBest(
          docs.select(col("id"), length(col("text")).as("score")),
          "id", "score",
          Dedup.minHashNearDupPairs(sh, numPerm = 16, bands = 4,
              threshold = 0.5, estPrefilter = 0.375, maxBucketSize = cap)
            .select(col("id_a"), col("id_b"))).count()),
      // the EXACT hierarchy path (Density.hdbscanExact): Borůvka MST
      // over the sign-LSH-bucketed mutual-reachability graph plus the
      // n-sized driver condensed tree — same ×N displaced-copy corpus
      // and plane scaling as density_ladder. The growth signal is the
      // MST-round join maxima; the driver side is n-sized by the
      // operator's stated contract (maxDriverRows guard).
      "density_exact" -> (() => {
        val (planes, emb) = densityCorpus(copies)
        graft.similarity.Density.hdbscanExact(
          emb, minPts = 2, minClusterSize = 2,
          lshPlanes = planes, planeDims = 16)
          .filter(col("cluster").isNotNull).count()
      }),
      // chain-shaped pathology probe for components' pointer jumping: a
      // single path of 2000·copies nodes (diameter = node count − 1).
      // Plain frontier propagation would need diameter-many rounds; the
      // RESULT COLUMN IS ROUNDS, which must grow by ~log2(10) ≈ +3.3
      // per ×10 step, not ×10 — the measured O(log diameter) argument.
      // The require guards the labels themselves, so an under-merge can
      // never pass silently as a small rounds number.
      "components_chain" -> (() => {
        val n = 2000L * copies
        val chain = spark.range(0, n - 1).select(
          format_string("c%08d", col("id")).as("id_a"),
          format_string("c%08d", col("id") + 1).as("id_b"))
        val (labels, rounds) = Dedup.componentsWithRounds(chain, maxIterations = 40)
        val ok = labels.filter(col("component") === "c00000000").count()
        require(ok == n, s"chain under-merged: $ok of $n labeled to the min")
        rounds.toLong
      }))

    // row names from the rows themselves: building the thunks runs nothing
    val allOpNames = ops(spark.emptyDataFrame, spark.emptyDataFrame, 1).map(_._1)
    // optional 4th arg restricts to named ops (fast iteration / partial
    // regeneration — the JSON merge below keeps the other rows)
    val opNames = args.drop(3).headOption
      .map(_.split(",").map(_.trim).toSeq).getOrElse(allOpNames)
    require(opNames.forall(allOpNames.contains),
      s"unknown op in filter; known: ${allOpNames.mkString(",")}")
    val results = factors.map { copies =>
      val docs = skewedDocs(spark, dir, copies)
        .persist()
      val sh = docs.select(col("id"),
          explode(Text.wordShingles(
            Text.tokenize(col("text"), minLength = 1, stopwords = Nil), 3)).as("key"))
        .distinct().persist()
      val nDocs = docs.count()
      val nShingles = sh.count()
      // cap engagement on the band buckets at this factor
      val hot = MinHash.buckets(sh, 16, 4).groupBy("key")
        .agg(count(lit(1)).as("n"))
        .agg(sum(when(col("n") > cap, 1).otherwise(0)).as("hot"),
          max(col("n")).as("maxb")).head()
      System.err.println(s"[curve] x$copies: docs=$nDocs shingles=$nShingles " +
        s"hotBuckets=${hot.getLong(0)} maxBucket=${hot.getLong(1)}")
      val cells = ops(docs, sh, copies)
        .filter { case (n, _) => opNames.contains(n) }
        .map { case (n, f) => n -> measure(s"x$copies $n")(f()) }
      graft.core.CacheScope.release(docs, sh)
      // factor boundary: sweep any CacheManager entries whose backing
      // RDDs measure() already dropped (docs/sh rebuild next factor)
      spark.catalog.clearCache()
      (copies, nDocs, nShingles, hot.getLong(0), hot.getLong(1), cells.toMap)
    }

    def d1(v: Double): String = Harness.fixed(v, 1)
    def mb(b: Long): String = d1(b / 1e6)
    def ratio(a: Long, b: Long): String =
      if (a <= 0) "-" else d1(b.toDouble / a) + "x"

    println(s"\n### Batch scale curve: $dir factors=${factors.mkString(",")} cap=$cap\n")
    println("| factor | docs | shingle rows | hot buckets | max bucket |")
    println("|---|---|---|---|---|")
    results.foreach { case (c, nd, ns, hb, mx, _) =>
      println(s"| x$c | $nd | $ns | $hb | $mx |")
    }
    for (op <- opNames) {
      println(s"\n#### $op")
      println("| factor | wall s | max task input MB | max shuf-read MB | max shuf-write MB | max shuf records | spill MB | result |")
      println("|---|---|---|---|---|---|---|---|")
      results.foreach { case (c, _, _, _, _, cells) =>
        val x = cells(op)
        println(s"| x$c | ${d1(x.seconds)} | ${mb(x.maxInputBytes)} | ${mb(x.maxShuffleReadBytes)} | " +
          s"${mb(x.maxShuffleWriteBytes)} | ${x.maxShuffleReadRecords} | ${mb(x.spillBytes)} | ${x.result} |")
      }
      // growth ratios across consecutive factors (data grows by the
      // factor quotient per step; the plan survives if these stay far
      // below it)
      results.sliding(2).foreach {
        case Seq((c1, _, _, _, _, a), (c2, _, _, _, _, b)) =>
          val (x, y) = (a(op), b(op))
          println(s"growth x$c1→x$c2 (data ${c2 / c1}x): " +
            s"shuf-read ${ratio(x.maxShuffleReadBytes, y.maxShuffleReadBytes)}, " +
            s"shuf-records ${ratio(x.maxShuffleReadRecords, y.maxShuffleReadRecords)}, " +
            s"input ${ratio(x.maxInputBytes, y.maxInputBytes)}, " +
            s"wall ${ratio((x.seconds * 1000).toLong, (y.seconds * 1000).toLong)}")
        case _ => ()
      }
    }
    def cellJson(x: Harness.Span[Long]): JObject = JObject(
      "wall_s" -> JDecimal(BigDecimal(d1(x.seconds))),
      "max_task_input_mb" -> JLong(x.maxInputBytes / 1000000),
      "max_task_shuffle_mb" -> JLong(x.maxShuffleReadBytes / 1000000),
      "max_task_shuffle_records" -> JLong(x.maxShuffleReadRecords),
      "spill_mb" -> JLong(x.spillBytes / 1000000),
      "result" -> JLong(x.result))
    val factorJson = results.map { case (c, nd, ns, hb, mx, cells) =>
      (s"x$c", JObject(List[JField](
        "docs" -> JLong(nd), "shingle_rows" -> JLong(ns),
        "hot_buckets" -> JLong(hb), "max_bucket" -> JLong(mx)) ++
        opNames.map(op => op -> cellJson(cells(op)))))
    }
    val json = JObject(List[JField]("dir" -> JString(dir), "cap" -> JLong(cap)) ++ factorJson)
    println(compact(render(json)))
    // committed-artifact write (SPARK_GRAFT_CURVE_OUT, default
    // scale_curve.json): per-op MERGE into the existing file, so a
    // filtered run refreshes only its own rows and the rest of the
    // board's evidence stays intact.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_CURVE_OUT", "scale_curve.json")
    val merged =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(outPath))) json
      else {
        val old = java.nio.file.Files.readString(java.nio.file.Paths.get(outPath))
        try mergeCurve(parse(old), dir, cap, factorJson)
        catch { case e: Exception =>
          throw new IllegalStateException(
            s"cannot merge into $outPath (existing file left untouched): ${e.getMessage}", e)
        }
      }
    Harness.writeArtifact(outPath, compact(render(merged)))
    spark.stop()
  }

  /** Merge one run's factor objects, measured on `dir` at `cap`, into an
    * existing curve artifact: each op cell replaces the cell of that name
    * under the same factor (other cells, the factor's corpus counts and
    * the top-level fields stay as they are), and a factor the file lacks
    * is appended whole. A file labelled with another `dir` or `cap` is
    * refused (`IllegalArgumentException` naming both values): its cells
    * would carry no mark that they came from a different corpus. */
  private[graft] def mergeCurve(old: JValue, dir: String, cap: Long,
      factors: Seq[(String, JObject)]): JValue = {
    def upsert(fields: List[JField], f: JField): List[JField] =
      if (fields.exists(_._1 == f._1)) fields.map(g => if (g._1 == f._1) f else g)
      else fields :+ f
    val JObject(top) = old: @unchecked
    val (oldDir, oldCap) = (old \ "dir", old \ "cap")
    val sameCap = oldCap match {
      case JInt(v) => v == cap
      case JLong(v) => v == cap
      case _ => false
    }
    require(oldDir == JString(dir) && sameCap,
      s"the curve file was measured on dir ${compact(render(oldDir))} cap " +
        s"${compact(render(oldCap))}; this run measured dir ${Harness.jsonString(dir)} " +
        s"cap $cap — merge into a separate SPARK_GRAFT_CURVE_OUT file")
    JObject(factors.foldLeft(top) { case (cur, (x, fresh)) =>
      cur.collectFirst { case (`x`, JObject(cells)) => cells } match {
        case Some(cells) =>
          val ops = fresh.obj.filter(_._2.isInstanceOf[JObject])
          upsert(cur, x -> JObject(ops.foldLeft(cells)(upsert)))
        case None => upsert(cur, x -> fresh)
      }
    })
  }
}
