package graft

import org.apache.spark.sql.functions._
import graft.blockers._
import graft.functions.{MinHash, SimHash}
import graft.similarity.Similarity

/** Similarity layer: MinHash/SimHash invariants (the ML-path testing
  * style the reference itself uses — shape/invariant, not exact output)
  * + exact checks where determinism allows. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def tokenPairs(rows: (String, Seq[String])*) =
    rows.toDF("id", "toks").select(col("id"), explode(col("toks")).as("key"))

  test("MinHash: identical token sets → identical signatures; disjoint differ") {
    val tp = tokenPairs(
      "x" -> Seq("alpha", "beta", "gamma"),
      "y" -> Seq("alpha", "beta", "gamma"),
      "z" -> Seq("delta", "epsilon", "zeta"))
    val sig = MinHash.signature(tp, 16).collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(sig("x") == sig("y"))
    assert(sig("x") != sig("z"))
  }

  test("MinHash banding: identical docs collide in every band") {
    val tp = tokenPairs("x" -> Seq("alpha", "beta"), "y" -> Seq("alpha", "beta"))
    val buckets = MinHash.buckets(tp, 16, 4).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val byKey = buckets.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    assert(byKey.values.forall(_ == Set("x", "y")))
    assert(byKey.size == 4)
  }

  test("MinHashLSHBlocker finds near-identical fixture entities") {
    val b = MinHashLSHBlocker(numPerm = 32, bands = 16).assign(tableA, tableB)
    val pairs = b.pairs.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // a3/b3 share 4 of 5 tokens (rebecca smith 1990 bulgaria | + chemist)
    assert(pairs.contains(("a3", "b3")))
  }

  test("SimHash: identical sets match exactly, similar sets are close") {
    val tp = tokenPairs(
      "x" -> Seq("alpha", "beta", "gamma", "delta", "epsilon"),
      "y" -> Seq("alpha", "beta", "gamma", "delta", "epsilon"),
      "w" -> Seq("alpha", "beta", "gamma", "delta", "zeta"),
      "z" -> Seq("one", "two", "three", "four", "five"))
    val fp = SimHash.fingerprint(tp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp("x") == fp("y"))
    val closeDist = java.lang.Long.bitCount(fp("x") ^ fp("w"))
    val farDist = java.lang.Long.bitCount(fp("x") ^ fp("z"))
    assert(closeDist < farDist, s"$closeDist !< $farDist")
  }

  test("TfIdf filter keeps discriminative tokens, drops ubiquitous ones") {
    // 'common' appears in every doc → low idf → filtered at high threshold
    val docs = graft.core.EntityFrame(
      Seq(
        ("d1", "common rare1 rare1 rare1"),
        ("d2", "common rare2 rare2 rare2"),
        ("d3", "common rare3 rare3 rare3"),
        ("d4", "common rare4 rare4 rare4")).toDF("id", "text"),
      "docs", "id")
    val kept = TfIdfFilteredTokenBlocker(threshold = 0.5)
      .filteredTokens(docs).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept == Set(("d1", "rare1"), ("d2", "rare2"), ("d3", "rare3"), ("d4", "rare4")))
  }

  test("embeddingDecontam flags cosine hits with deterministic min-id witness") {
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f)),  // equals both bench vectors → witness = min id 1
      (11L, Seq(0.0f, 1.0f)),  // orthogonal to bench → clean
      (12L, Seq(0.9f, 0.1f)))  // close to bench → flagged
      .toDF("id", "vec")
    val bench = Seq((1L, Seq(1.0f, 0.0f)), (3L, Seq(1.0f, 0.0f)))
      .toDF("id", "vec")
    val got = Similarity.embeddingDecontam(corpus, bench, 0.5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(got(10L) == ((1L, true)))
    assert(got(11L)._2 == false)
    assert(got(12L) == ((1L, true)))
  }

  test("a zero vector scores cosine 0.0 in every cosine operator instead of throwing") {
    // ANSI mode raises DIVIDE_BY_ZERO on x / 0.0; the zero vector 0 and
    // its single-member bucket (a zero centroid) hit every norm divide.
    // a and -a guarantee 0 shares a sign-LSH bucket with some vector.
    val vecs = Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(1.0, 0.0), 2L -> Seq(-1.0, 0.0),
      3L -> Seq(0.6, 0.8)).toDF("id", "vec")
    val bucketed = vecs.select(col("id").as("bucket"), col("id"), col("vec"))
    val clustered = vecs.select(lit(1).as("cluster"), col("id"), col("vec"))
    val pairs = Seq("left_id", "right_id")
    val near = Seq("id_a", "id_b")
    // (operator, output, id columns; a row naming id 0 must have cos 0.0)
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame, Seq[String])] = Seq(
      ("topKCosine", () => Similarity.topKCosine(vecs, vecs, 4), pairs),
      ("ivfTopK", () => Similarity.ivfTopK(vecs, bucketed, 4, excludeSelf = false,
        probes = 4), pairs),
      ("lshTopK", () => Similarity.lshTopK(vecs, vecs, 4, numPlanes = 1, planeDims = 2),
        pairs),
      ("bucketedNearDup", () => Similarity.bucketedNearDup(vecs, -1.0, numPlanes = 1,
        planeDims = 2), near),
      ("clusterNearDup", () => Similarity.clusterNearDup(clustered, -1.0), near),
      ("selfJoinNearDup", () => Similarity.selfJoinNearDup(vecs, -1.0), near),
      ("embeddingDecontam", () => Similarity.embeddingDecontam(vecs, vecs, 0.5),
        Seq("id")))
    val bad = cases.flatMap { case (name, run, ids) =>
      scala.util.Try(run().filter(ids.map(c => col(c) === 0L).reduce(_ || _))
          .select("cos").collect().map(_.getDouble(0)).toSeq) match {
        case scala.util.Success(zero) if zero.nonEmpty && zero.forall(_ == 0.0) => None
        case other => Some(s"$name: $other")
      }
    }
    // the IVF curve ranks like its brute baseline, zero vector included
    val curve = scala.util.Try(Similarity.ivfRecallCurve(vecs, bucketed, 2, Seq(1, 4))
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap)
    assert(bad.isEmpty && curve.map(_(4)).toOption.contains(1.0),
      (bad :+ s"ivfRecallCurve: $curve").mkString("\n"))
  }

  test("topKCosine: exact ranking on a hand vector set") {
    val l = Seq(("q", Seq(1.0f, 0.0f))).toDF("id", "vec")
    val r = Seq(
      ("a", Seq(1.0f, 0.0f)),   // cos 1.0
      ("b", Seq(1.0f, 1.0f)),   // cos ~0.707
      ("c", Seq(0.0f, 1.0f)),   // cos 0
      ("d", Seq(-1.0f, 0.0f))). // cos -1
      toDF("id", "vec")
    val got = Similarity.topKCosine(l, r, 2).collect()
      .map(r => (r.getString(0), r.getInt(3), r.getString(1))).sorted
    assert(got.toSeq == Seq(("q", 1, "a"), ("q", 2, "b")))
  }

  test("ivfTopK only searches the assigned bucket") {
    val buckets = Seq(
      ("bx", "x1", Seq(1.0f, 0.0f)), ("bx", "x2", Seq(0.9f, 0.1f)),
      ("by", "y1", Seq(0.0f, 1.0f)), ("by", "y2", Seq(0.1f, 0.9f)))
      .toDF("bucket", "id", "vec")
    val q = Seq(("q1", Seq(1.0f, 0.05f))).toDF("id", "vec")
    val got = Similarity.ivfTopK(q, buckets, 10).collect()
      .map(r => r.getString(2)).toSet
    assert(got == Set("x1", "x2")) // never y1/y2

    // multi-probe widens the candidate union to the 2nd-nearest bucket
    val mp = Similarity.ivfTopK(q, buckets, 10, probes = 2).collect()
      .map(r => r.getString(2)).toSet
    assert(mp == Set("x1", "x2", "y1", "y2"))
  }

  test("pqEncode/pqTopK agree with a driver-side reference computation") {
    val dims = 4; val sub = 2; val K = 4; val w = 2
    val vecs = Seq(
      "7" -> Seq(0.5f, -0.2f, 0.9f, 0.1f),
      "8" -> Seq(-0.3f, 0.8f, -0.5f, 0.4f),
      "9" -> Seq(0.5f, -0.2f, 0.9f, 0.1f)) // duplicate of 7
    val df = vecs.toDF("id", "vec")
    def refEnc(v: Seq[Float]): Seq[Int] = (0 until sub).map { sp =>
      (0 until K).minBy { c =>
        (0 until w).map(d =>
          math.pow(v(sp * w + d).toDouble - Similarity.pqComponent(sp, c, d), 2)).sum
      }
    }
    val got = Similarity.pqEncode(df, dims, sub, K).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
    vecs.foreach { case (id, v) => assert(got(id) == refEnc(v).toList, id) }
    assert(got("7") == got("9")) // identical vectors → identical codes
    assert(got.values.forall(cs => cs.length == sub && cs.forall(c => c >= 0 && c < K)))

    // ADC value check: Σ_sp ⟨q_sp, centroid(sp, code_sp)⟩
    val codes = Similarity.pqEncode(df, dims, sub, K)
    val top = Similarity.pqTopK(df, codes, K, dims, sub, K).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    for ((qid, qv) <- vecs; (cid, cv) <- vecs) {
      val want = (0 until sub).map { sp =>
        val code = refEnc(cv)(sp)
        (0 until w).map(d => qv(sp * w + d).toDouble * Similarity.pqComponent(sp, code, d)).sum
      }.sum
      assert(math.abs(top((qid, cid)) - want) < 1e-9, s"$qid->$cid")
    }
  }

  test("ivfPqTopK residual mode: zero-centroid bucket reduces to raw PQ; score adds q.c back") {
    val dims = 4; val sub = 2; val K = 4
    // one bucket whose members are symmetric (v, -v) pairs → centroid is
    // exactly the zero vector → residual == raw vector and ⟨q,c⟩ == 0,
    // so residual mode must reproduce the raw-mode output bit-for-bit
    val members = Seq(
      ("b0", "1", Seq(0.5f, -0.2f, 0.9f, 0.1f)),
      ("b0", "2", Seq(-0.5f, 0.2f, -0.9f, -0.1f)),
      ("b0", "3", Seq(0.3f, 0.7f, -0.4f, 0.6f)),
      ("b0", "4", Seq(-0.3f, -0.7f, 0.4f, -0.6f)))
      .toDF("bucket", "id", "vec")
    val queries = Seq(("q1", Seq(0.4f, 0.1f, 0.5f, -0.2f)))
      .toDF("id", "vec")
    def run(res: Boolean) =
      Similarity.ivfPqTopK(queries, members, 4, dims, sub, K, residual = res)
        .select("left_id", "rank", "right_id", "adc").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3))).toList
    assert(run(res = true) == run(res = false))

    // non-zero centroid: residual score = ⟨q, c⟩ + ADC over (v − c) codes,
    // checked against a driver-side reference for a one-member bucket
    val v1 = Seq(0.5f, -0.2f, 0.9f, 0.1f)
    val v2 = Seq(0.1f, 0.2f, 0.3f, 0.4f)
    val m2 = Seq(("b0", "1", v1), ("b0", "2", v2)).toDF("bucket", "id", "vec")
    val qv = Seq(0.4f, 0.1f, 0.5f, -0.2f)
    // elementwise avg in double, from the float32 values — as Spark's avg
    val cent = (0 until dims).map(i => (v1(i).toDouble + v2(i).toDouble) / 2)
    val got = Similarity.ivfPqTopK(Seq(("q1", qv)).toDF("id", "vec"),
        m2, 2, dims, sub, K, residual = true)
      .select("right_id", "adc").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val qc = qv.map(_.toDouble).zip(cent).map { case (a, b) => a * b }.sum
    def refScore(v: Seq[Float]): Double = {
      val resid = v.map(_.toDouble).zip(cent).map { case (a, b) => a - b }
      val codes = (0 until sub).map { sp =>
        (0 until K).minBy { c =>
          val d2 = (0 until 2).map(d =>
            math.pow(resid(sp * 2 + d) - Similarity.pqComponent(sp, c, d), 2)).sum
          math.round(d2 * 1e6) // kernel rounds before argmin
        }
      }
      qc + (0 until sub).map { sp =>
        (0 until 2).map(d => qv(sp * 2 + d).toDouble
          * Similarity.pqComponent(sp, codes(sp), d)).sum
      }.sum
    }
    for ((id, v) <- Seq("1" -> Seq(0.5f, -0.2f, 0.9f, 0.1f),
                        "2" -> Seq(0.1f, 0.2f, 0.3f, 0.4f)))
      assert(math.abs(got(id) - refScore(v)) < 1e-9, id)
  }

  test("clusterNearDup: pairs only within clusters; hot-cluster cap anti-filters") {
    // identical vectors in DIFFERENT clusters must NOT pair — the
    // SemDeDup contract is cluster-scoped candidates, nothing else
    val v = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val w = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val df = Seq(
      ("c1", "1", v), ("c1", "2", v),   // same cluster, cos 1.0 → pair
      ("c2", "3", v),                   // identical to 1 but other cluster
      ("c1", "4", w))                   // same cluster, orthogonal
      .toDF("cluster", "id", "vec")
    val pairs = Similarity.clusterNearDup(df, 0.9).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("1", "2")), pairs.toString)

    // cap: c1 (3 members) exceeds maxClusterSize=2 → anti-filtered whole;
    // the surviving cluster's pair is unaffected
    val df2 = Seq(
      ("c1", "1", v), ("c1", "2", v), ("c1", "3", v),
      ("c2", "5", w), ("c2", "6", w))
      .toDF("cluster", "id", "vec")
    val capped = Similarity.clusterNearDup(df2, 0.9, maxClusterSize = 2).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped == Set(("5", "6")), capped.toString)
    // uncapped output ⊇ capped, difference confined to the hot cluster
    val uncapped = Similarity.clusterNearDup(df2, 0.9).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped.subsetOf(uncapped))
    assert((uncapped -- capped).forall { case (a, b) => Set("1", "2", "3")(a) && Set("1", "2", "3")(b) })
  }

  test("hyperplane buckets are deterministic and split vectors") {
    val df = Seq(
      ("p", Seq.fill(16)(1.0f)), ("q", Seq.fill(16)(1.0f)),
      ("r", Seq.fill(16)(-1.0f))).toDF("id", "vec")
    val got = df.select(col("id"),
      Similarity.hyperplaneBucket(col("vec"), 6, 16).as("b"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("p") == got("q"))
    assert(got("p") != got("r"))
    assert(got("p").length == 6 && got("p").forall(c => c == '0' || c == '1'))
  }

  test("MlLibMinHashBlocker finds the near-identical fixture pair too") {
    val b = MlLibMinHashBlocker(jaccardThreshold = 0.5, numHashTables = 16)
      .assign(tableA, tableB)
    val pairs = b.pairs.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // a3/b3 share 4 of 5 tokens (jaccard 0.8 > 0.5)
    assert(pairs.contains(("a3", "b3")))
    // disjoint-token entities never pair: a5 shares nothing with b5
    assert(!pairs.contains(("a5", "b5")))
    // blocks are the probe shape: right id keys its own singleton side
    blockMap(b).foreach { case (k, (_, r)) => assert(r == Set(k)) }
  }

  test("cslsRerank demotes a hub target that raw cosine ranks first") {
    // 2D fixture by angle: queries q1@0°, q2@20°; targets hub@10°
    // (near BOTH queries) and t2@-15° (near q1 only). Raw cosine ranks
    // the hub first for q1 (cos10° > cos15°); CSLS subtracts the hub's
    // high local scale r_R(hub)=cos10° and flips q1's top-1 to t2:
    //   csls(q1,hub) = 2cos10° − (cos10°+cos15°)/2 − cos10°     ≈ 0.010
    //   csls(q1,t2)  = 2cos15° − (cos10°+cos15°)/2 − (cos15°+cos35°)/2 ≈ 0.064
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val qs = Seq(("q1", at(0)), ("q2", at(20))).toDF("id", "vec")
    val ts = Seq(("hub", at(10)), ("t2", at(-15))).toDF("id", "vec")
    val cand = Similarity.topKCosine(qs, ts, k = 2)
    val raw1 = cand.filter(col("left_id") === "q1" && col("rank") === 1)
      .head.getString(1)
    assert(raw1 == "hub", "raw cosine must rank the hub first")
    val csls = Similarity.cslsRerank(cand, k = 1, scaleK = 2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap // left -> right
    assert(csls("q1") == "t2", s"CSLS must demote the hub: $csls")
    assert(csls("q2") == "hub", "hub stays best where it truly is nearest")
  }

  test("MlLibMinHashBlocker hot-bucket cap drops degenerate buckets only") {
    import org.apache.spark.sql.DataFrame
    // 4 identical left docs × 4 identical right docs: every bucket holds
    // all of them → 16 pairs per bucket
    def side(tag: String) = graft.core.EntityFrame(
      (1 to 4).map(i => (s"$tag$i", "alpha beta gamma delta"))
        .toDF("id", "Name"), tag, "id")
    val capped = MlLibMinHashBlocker(jaccardThreshold = 0.5,
      numHashTables = 4, maxBlockComparisons = 10)
      .assign(side("l"), side("r"))
    assert(capped.df.isEmpty, "all buckets exceed the 10-pair cap")
    val uncapped = MlLibMinHashBlocker(jaccardThreshold = 0.5,
      numHashTables = 4)
      .assign(side("l"), side("r"))
    assert(uncapped.pairs.count() == 16L, "no cap (approx path) → all pairs")
    val bigCap = MlLibMinHashBlocker(jaccardThreshold = 0.5,
      numHashTables = 4, maxBlockComparisons = 1000)
      .assign(side("l"), side("r"))
    assert(bigCap.pairs.count() == 16L, "non-binding cap (native path) → all pairs")
  }

  test("ivfRecallCurve: recall rises monotonically and hits 1.0 at full probes") {
    // two clean clusters + queries that sit BETWEEN them: probes=1 sees
    // only the nearest cluster's bucket, probes=2 sees both
    def vec(a: Double, b: Double) = Seq(a, b, 0.1, 0.1)
    val corpus = Seq(
      ("c1", vec(1.0, 0.0)), ("c2", vec(0.95, 0.05)), ("c3", vec(0.9, 0.1)),
      ("d1", vec(0.0, 1.0)), ("d2", vec(0.05, 0.95)), ("d3", vec(0.1, 0.9)))
      .toDF("id", "vec")
      .withColumn("bucket", when(col("id").startsWith("c"), "a").otherwise("b"))
    val queries = Seq(
      ("q1", vec(0.6, 0.55)), ("q2", vec(0.55, 0.6))).toDF("id", "vec")
    val curve = graft.similarity.Similarity
      .ivfRecallCurve(queries, corpus, 3, Seq(1, 2))
      .orderBy("probes").collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    // top-3 of a between-clusters query spans both buckets: one probe
    // cannot reach all of them, two probes must
    assert(curve(1) < 1.0, s"probes=1 should miss cross-bucket neighbors: $curve")
    assert(curve(2) == 1.0, s"probes=2 covers the whole corpus: $curve")
    assert(curve(1) <= curve(2), "recall must be monotone in probes")
  }

  test("nicdm/ls/mp hubness reranks match hand-computed values") {
    // asymmetric candidate graph: l1 sees 3 rights, l2 sees 2; r3 has a
    // single candidate (exercises the scaleK floor each method documents)
    val cand = Seq(
      ("l1", "r1", 0.9), ("l1", "r2", 0.8), ("l1", "r3", 0.5),
      ("l2", "r1", 0.7), ("l2", "r2", 0.6)).toDF("left_id", "right_id", "cos")
    def rows(df: org.apache.spark.sql.DataFrame, score: String) =
      df.select(col("left_id"), col("right_id"), col("rank"), col(score))
        .collect().map(r => ((r.getString(0), r.getString(1)),
          (r.getInt(2), r.getDouble(3)))).toMap

    // μ_2(l1)=.15 μ_2(l2)=.35 μ_2(r1)=.2 μ_2(r2)=.3 μ_1..(r3)=.5
    val nicdm = rows(graft.similarity.Similarity.nicdmRerank(cand, 3, 2), "nicdm")
    assert(math.abs(nicdm(("l1", "r1"))._2 - 0.1 / math.sqrt(0.15 * 0.2)) < 1e-9)
    assert(math.abs(nicdm(("l1", "r3"))._2 - 0.5 / math.sqrt(0.15 * 0.5)) < 1e-9)
    assert(math.abs(nicdm(("l2", "r2"))._2 - 0.4 / math.sqrt(0.35 * 0.3)) < 1e-9)
    assert(nicdm(("l1", "r1"))._1 == 1 && nicdm(("l1", "r3"))._1 == 3)

    // σ_2: l1=.2 l2=.4 r1=.3 r2=.4; r3 has <2 candidates → its σ falls
    // back to its farthest AVAILABLE distance (.5) instead of dropping
    // the pair (the sparse-endpoint fallback — silent entity deletion
    // was the pre-fix behavior)
    val ls = rows(graft.similarity.Similarity.localScalingRerank(cand, 3, 2), "ls")
    assert(math.abs(ls(("l1", "r3"))._2 - math.exp(-0.25 / (0.2 * 0.5))) < 1e-9)
    assert(math.abs(ls(("l1", "r1"))._2 - math.exp(-0.01 / (0.2 * 0.3))) < 1e-9)
    assert(math.abs(ls(("l2", "r2"))._2 - math.exp(-0.16 / (0.4 * 0.4))) < 1e-9)
    assert(ls(("l1", "r1"))._1 == 1 && ls(("l2", "r1"))._1 == 1 &&
      ls(("l1", "r3"))._1 == 3)

    // rank-based farther fractions: MP(l1,r1)=2/3·1/2, MP(l1,r2)=1/3·1/2,
    // MP(l1,r3)=0; both l2 pairs 0 (tie broken by raw cos desc)
    val mp = rows(graft.similarity.Similarity.mutualProximityRerank(cand, 3), "mp")
    assert(math.abs(mp(("l1", "r1"))._2 - 1.0 / 3) < 1e-9)
    assert(math.abs(mp(("l1", "r2"))._2 - 1.0 / 6) < 1e-9)
    assert(mp(("l1", "r3"))._2 == 0.0 && mp(("l2", "r1"))._2 == 0.0)
    assert(mp(("l1", "r1"))._1 == 1 && mp(("l2", "r1"))._1 == 1
      && mp(("l2", "r2"))._1 == 2)
  }

  test("mutualProximityRerank rankScale breaks an exact MP tie on cos, not on the last ulp") {
    // q's five candidates by ascending cos: f0 f1 x1 x2 f3. x1's reverse
    // view holds 2 lefts (q the closer), x2's holds 3 (q in the middle):
    // MP(q,x1) = 2/5·1/2 and MP(q,x2) = 3/5·1/3 are both exactly 1/5, but
    // the double products differ in the last ulp (0.2 vs 0.19999…98)
    val cand = Seq(
      ("q", "f0", 0.1), ("q", "f1", 0.2), ("q", "x1", 0.3), ("q", "x2", 0.4),
      ("q", "f3", 0.5), ("z1", "x1", 0.05), ("z2", "x2", 0.05), ("z3", "x2", 0.9))
      .toDF("left_id", "right_id", "cos")
    def top(rankScale: Int) = graft.similarity.Similarity
      .mutualProximityRerank(cand, 2, rankScale)
      .filter(col("left_id") === "q").orderBy("rank")
      .select("right_id").as[String].collect().toSeq
    // raw order: the ulp decides; rounded: the tie falls to cos (x2 first)
    assert(top(-1) == Seq("x1", "x2"))
    assert(top(6) == Seq("x2", "x1"))
  }

  test("dslRerank matches hand-computed DisSimLocal scores") {
    // collinear fixture: cos values only steer the centroid windows, the
    // scores below are pure Euclidean arithmetic on the vectors
    val cand = Seq(
      ("l1", "r1", 0.9), ("l1", "r2", 0.8), ("l1", "r3", 0.5),
      ("l2", "r2", 0.7), ("l2", "r3", 0.6)).toDF("left_id", "right_id", "cos")
    val lv = Seq(("l1", Seq(0.0, 0.0)), ("l2", Seq(10.0, 0.0))).toDF("id", "vec")
    val rv = Seq(("r1", Seq(1.0, 0.0)), ("r2", Seq(2.0, 0.0)),
      ("r3", Seq(4.0, 0.0))).toDF("id", "vec")
    val got = graft.similarity.Similarity
      .dslRerank(cand, lv, rv, k = 3, scaleK = 2)
      .select(col("left_id"), col("right_id"), col("rank"), col("dsl"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getInt(2), r.getDouble(3)))).toMap
    // centroids over the top-2 candidate vectors: c(l1)=(1.5,0) c(l2)=(3,0);
    // reverse view: c(r1)=l1=(0,0), c(r2)=c(r3)=mean(l1,l2)=(5,0)
    // dsl = d² − selfL − selfR
    assert(math.abs(got(("l1", "r1"))._2 - (1.0 - 2.25 - 1.0)) < 1e-9)
    assert(math.abs(got(("l1", "r2"))._2 - (4.0 - 2.25 - 9.0)) < 1e-9)
    assert(math.abs(got(("l1", "r3"))._2 - (16.0 - 2.25 - 1.0)) < 1e-9)
    assert(math.abs(got(("l2", "r2"))._2 - (64.0 - 49.0 - 9.0)) < 1e-9)
    assert(math.abs(got(("l2", "r3"))._2 - (36.0 - 49.0 - 1.0)) < 1e-9)
    // ascending dissimilarity: the raw-nearest r1 is NOT l1's top pick
    assert(got(("l1", "r2"))._1 == 1 && got(("l1", "r1"))._1 == 2)
    assert(got(("l2", "r3"))._1 == 1 && got(("l2", "r2"))._1 == 2)
  }
}
