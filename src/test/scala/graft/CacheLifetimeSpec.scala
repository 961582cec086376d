package graft

import org.apache.spark.sql.DataFrame
import graft.blockers.{EmbeddingKnnBlocker, MlLibMinHashBlocker, PartitioningTokenBlocker, Sinkhorn}
import graft.core.{Blocks, EntityFrame}
import graft.dedup.Dedup
import graft.encoders.{HashTokenEncoder, TableTokenEncoder}
import graft.relational.PageRank
import graft.similarity.{Density, Similarity}
import graft.text.TextAnalysis

/** One cache-lifetime rule for every operator that caches: a call may
  * leave at most ONE persisted RDD behind in the session — its returned
  * frame's own checkpoint — and a call that returns no frame (a ladder,
  * a lazy plan over its inputs) leaves none. Measured on
  * `SparkContext.getPersistentRDDs`, which lists both `persist()`ed
  * frames and `localCheckpoint()` blocks, so a leaked intermediate of
  * either kind shows up here rather than at ContextCleaner GC. */
class CacheLifetimeSpec extends SparkSpec {
  import spark.implicits._

  // ---- fixtures: small, and lazy (nothing cached before a measurement) ----

  private def tokens(docs: (String, Seq[String])*): DataFrame =
    docs.flatMap { case (id, ks) => ks.map(id -> _) }.toDF("id", "key")

  private lazy val corpus = tokens(
    "c1" -> Seq("a b c", "b c d", "c d e"),
    "c2" -> Seq("a b c", "b c d", "c d f"),
    "c3" -> Seq("x y z", "y z w"),
    "c4" -> Seq("x y z", "y z w", "z w v"),
    "d2" -> Seq("p q r"))
  private lazy val batch = tokens(
    "n1" -> Seq("a b c", "b c d"),
    "d2" -> Seq("a b c", "c d e"))

  // a 40-node chain (needs pointer-jumping rounds and crosses the
  // every-fifth-round checkpoint) plus a separate triangle
  private lazy val pairs: DataFrame =
    ((0 until 39).map(i => (f"p$i%02d", f"p${i + 1}%02d")) ++
      Seq(("t1", "t2"), ("t2", "t3"))).toDF("id_a", "id_b")
  private lazy val ids = (pairs.select($"id_a".as("id"))
    .union(pairs.select($"id_b".as("id"))).distinct()
    .union(Seq("s1", "s2").toDF("id")))
  private lazy val scored = ids.select($"id".as("doc"),
    org.apache.spark.sql.functions.length($"id").cast("double").as("sc"))

  private lazy val arcs = {
    val one = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
    (one ++ one.map(_.swap)).toDF("src", "dst")
  }

  private lazy val points = Seq(
    "a1" -> Seq(5.0, 5.0), "a2" -> Seq(5.1, 5.0), "a3" -> Seq(5.2, 5.0),
    "b1" -> Seq(-5.0, -5.0), "b2" -> Seq(-5.1, -5.0), "b3" -> Seq(-5.0, -5.1),
    "c1" -> Seq(5.65, 5.0), "n1" -> Seq(0.0, 1.0)).toDF("id", "vec")
  // no point has a neighbor: every ladder is empty
  private lazy val sparse = Seq(
    "u1" -> Seq(0.0, 0.0), "u2" -> Seq(50.0, 0.0)).toDF("id", "vec")

  private lazy val lvec = Seq(("l1", Seq(1.0, 0.0)), ("l2", Seq(0.0, 1.0)),
    ("l3", Seq(1.0, 1.0))).toDF("id", "vec")
  private lazy val rvec = Seq(("r1", Seq(1.0, 0.1)), ("r2", Seq(0.1, 1.0)),
    ("r3", Seq(0.9, 1.0)), ("r4", Seq(0.5, 0.5))).toDF("id", "vec")
  private lazy val cand = Similarity.topKCosine(lvec, rvec, 3)
    .select("left_id", "right_id", "cos")

  private lazy val text = EntityFrame(
    Seq(("d1", "alpha beta"), ("d2", "alpha zzz"), ("d3", "beta qqq alpha"))
      .toDF("id", "text"), "t", "id")
  private lazy val vocab = Seq(("alpha", Seq(1.0, 0.0)), ("beta", Seq(0.0, 1.0)))
    .toDF("token", "vec")

  private lazy val blocks = blocksOf(Map(
    "k1" -> (Seq("a1"), Seq("b1")),
    "k2" -> (Seq("a1", "a2"), Seq("b1", "b2")),
    "k3" -> (Seq("a1", "a2", "a3"), Seq("b1", "b2", "b3"))))

  private def side(tag: String) = EntityFrame(
    (1 to 4).map(i => (s"$tag$i", "alpha beta gamma delta")).toDF("id", "Name"),
    tag, "id")

  /** (operator, call). A call returning a frame may leave its own
    * checkpoint behind; any other result may leave nothing. */
  private val operators: Seq[(String, () => Any)] = Seq(
    "Dedup.minHashNearDupPairs" ->
      (() => Dedup.minHashNearDupPairs(corpus, 16, 4, 0.1)),
    "Dedup.minHashContainmentPairs" ->
      (() => Dedup.minHashContainmentPairs(corpus, 16, 4, 0.5)),
    "Dedup.minHashNearDupAgainst" ->
      (() => Dedup.minHashNearDupAgainst(corpus, batch, 16, 4, 0.1)),
    "Dedup.minHashNearDupAgainstSig" ->
      (() => Dedup.minHashNearDupAgainstSig(
        graft.functions.MinHash.signature(corpus, 16), corpus, batch, 16, 4, 0.1)),
    "Dedup.lshRecall" ->
      (() => Dedup.lshRecall(corpus, 16, 4, threshold = 0.3, sampleMod = 1)),
    "Dedup.components" -> (() => Dedup.components(pairs)),
    "Dedup.components (empty)" -> (() => Dedup.components(pairs.limit(0))),
    "Dedup.keepList" -> (() => Dedup.keepList(ids, pairs)),
    "Dedup.keepBest" -> (() => Dedup.keepBest(scored, "doc", "sc", pairs)),
    "Dedup.clusterHistogram" -> (() => Dedup.clusterHistogram(ids, pairs)),
    "PageRank.pageRank" -> (() => PageRank.pageRank(arcs, 3)),
    "PageRank.labelPropagation" -> (() => PageRank.labelPropagation(arcs, 3)),
    "Density.dbscanStar" -> (() => Density.dbscanStar(points, eps = 0.5, minPts = 2)),
    "Density.hdbscanFlatCut" ->
      (() => Density.hdbscanFlatCut(points, Seq(2.0, 0.3), minPts = 2)),
    "Density.hdbscanFlatCutAuto" ->
      (() => Density.hdbscanFlatCutAuto(points, levels = 3, minPts = 2)),
    "Density.hdbscanFlatCutAuto (empty ladder)" ->
      (() => Density.hdbscanFlatCutAuto(sparse, levels = 3, minPts = 2)),
    "Density.autoEpsLadder" -> (() => Density.autoEpsLadder(points, levels = 3, minPts = 2)),
    "Density.hdbscanExact" -> (() => Density.hdbscanExact(points, minPts = 2)),
    "Density.completeLadder" -> (() => Density.completeLadder(points, minPts = 2)),
    "Similarity.cslsRerank" -> (() => Similarity.cslsRerank(cand, 2, 2)),
    "Similarity.nicdmRerank" -> (() => Similarity.nicdmRerank(cand, 2, 2)),
    "Similarity.localScalingRerank" -> (() => Similarity.localScalingRerank(cand, 2, 2)),
    "Similarity.mutualProximityRerank" -> (() => Similarity.mutualProximityRerank(cand, 2)),
    "Similarity.dslRerank" -> (() => Similarity.dslRerank(cand, lvec, rvec, 2, 2)),
    "Similarity.ivfPqTopK" -> (() => Similarity.ivfPqTopK(lvec,
      rvec.withColumn("bucket", ($"id" < "r3").cast("int")),
      2, dims = 2, subspaces = 1, codebookSize = 4, probes = 2)),
    "HashTokenEncoder (sif)" ->
      (() => HashTokenEncoder(dims = 4, sif = true).encode(text, None)),
    "TableTokenEncoder (sif)" ->
      (() => TableTokenEncoder(vocab, dims = 2, sif = true).encode(text, None)),
    "Blocks.purge" -> (() => blocks.purge()),
    "TextAnalysis.bpeMerges" -> (() => TextAnalysis.bpeMerges(text.df, "text", 3)),
    "TextAnalysis.bpeEncode" -> (() => TextAnalysis.bpeEncode(text.df, "id", "text", 3)),
    "Sinkhorn.rescale" ->
      (() => Sinkhorn.rescale(cand.withColumnRenamed("cos", "s"), 3)),
    "EmbeddingKnnBlocker (hubness + sinkhorn)" ->
      (() => EmbeddingKnnBlocker(HashTokenEncoder(8), k = 2,
        hubness = Some(Similarity.HubnessReduction.Csls(2)), hubnessCandidates = 3,
        sinkhornIterations = 3).assign(tableA, tableB)),
    "PartitioningTokenBlocker (shuffle path, capped)" ->
      (() => PartitioningTokenBlocker(broadcastThresholdRows = 0L,
        maxBlockComparisons = 4L).assign(tableA, tableB)),
    "MlLibMinHashBlocker (capped)" ->
      (() => MlLibMinHashBlocker(jaccardThreshold = 0.5, numHashTables = 4,
        maxBlockComparisons = 1000).assign(side("l"), side("r"))))

  private def persistentRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  for ((name, call) <- operators) {
    test(s"cache lifetime: $name keeps at most its output checkpoint") {
      val before = persistentRdds
      val (allowed, out) = call() match {
        case df: org.apache.spark.sql.Dataset[_] => (1, Some(df.toDF()))
        case b: Blocks => (1, Some(b.df))
        case _ => (0, None)
      }
      // reading the output must not leave anything either
      out.foreach(_.count())
      val grown = persistentRdds -- before
      assert(grown.size <= allowed,
        s"$name left ${grown.size} persisted RDDs (allowed $allowed): " +
          grown.toSeq.sorted.map(id =>
            spark.sparkContext.getPersistentRDDs(id).toDebugString.linesIterator
              .next()).mkString("; "))
    }
  }

  test("releasing an operator's input persist keeps the caller's checkpoint readable") {
    // minHashNearDupPairs persists its token input and frees it on the
    // way out: when that input IS the caller's checkpoint, only the
    // persist may go — the caller's blocks must survive
    val toks = corpus.localCheckpoint()
    val n = toks.count()
    Dedup.minHashNearDupPairs(toks, 16, 4, 0.1).count()
    assert(toks.count() == n)
  }

  test("CacheScope.seal with nothing to release returns the plan untouched") {
    val df = corpus.select("id")
    val before = persistentRdds
    assert(graft.core.CacheScope.seal(df) eq df)
    assert(persistentRdds == before)
  }
}
