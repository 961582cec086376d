package graft

import graft.eval.{EvalResult, Evaluation}

/** Eval-metric goldens (reference tests/test_eval.py:75-111; BASELINE.md). */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val gold = (1 to 7).map(i => (s"A:$i", s"B:$i")).toDF("A", "B")

  private val example = Map(
    "0" -> (Seq("A:1", "A:2"), Seq("B:1")),
    "1" -> (Seq("A:3", "A:2", "A:4"), Seq("B:4", "B:5")),
    "2" -> (Seq("A:6"), Seq("B:5", "B:7")))

  test("quality golden (test_eval.py:75-87)") {
    val e = Evaluation.evaluate(blocksOf(example), gold, 8, 7)
    assert(e.truePositive == 2)
    assert(e.falseNegative == 5)
    assert(e.falsePositive == 8)
    assert(math.abs(e.recall - 0.2857142857142857) < 1e-12)
    assert(math.abs(e.precision - 0.2) < 1e-12)
    assert(math.abs(e.fMeasure - 0.23529411764705882) < 1e-12)
    assert(math.abs(e.reductionRatio - 0.8214285714285714) < 1e-12)
    assert(math.abs(e.h3r - 0.42396313364055294) < 1e-12)
  }

  test("nothing found (test_eval.py:90-101)") {
    val nothing = Map(
      "0" -> (Seq("A:1", "A:2"), Seq("B:4")),
      "1" -> (Seq("A:3", "A:2", "A:4"), Seq("A:1", "A:5")),
      "2" -> (Seq("A:6"), Seq("A:5", "A:7")))
    val e = Evaluation.evaluate(blocksOf(nothing), gold, 8, 7)
    assert(e.truePositive == 0)
    assert(e.falseNegative == 7)
    assert(e.falsePositive == 10)
    assert(e.recall == 0.0 && e.precision == 0.0 && e.fMeasure == 0.0 && e.h3r == 0.0)
    assert(math.abs(e.reductionRatio - 0.8214285714285714) < 1e-12)
  }

  test("duplicate pairs don't change recall/tp (test_eval.py:104-111)") {
    val dup = Map(
      "0" -> (Seq("A:1", "A:2"), Seq("B:1", "B:4")),
      "1" -> (Seq("A:1", "A:2"), Seq("B:1")),
      "2" -> (Seq("A:1", "A:3", "A:2", "A:4"), Seq("B:1", "B:5")),
      "3" -> (Seq("A:1", "A:3", "A:2", "A:4"), Seq("B:1", "B:5")),
      "4" -> (Seq("A:1", "A:3", "A:4"), Seq("B:1", "B:5")),
      "5" -> (Seq("A:1", "A:3", "A:4"), Seq("B:1", "B:4", "B:5")),
      "6" -> (Seq("A:1", "A:3", "A:4", "A:5"), Seq("B:1", "B:4")),
      "7" -> (Seq("A:6"), Seq("B:5", "B:7")))
    val e = Evaluation.evaluate(blocksOf(dup), gold, 8, 7)
    assert(e.truePositive == 2)
    assert(e.falseNegative == 5)
    assert(math.abs(e.recall - 0.2857142857142857) < 1e-12)
  }

  test("dice of true-positive sets is 1 for identical blockings") {
    val b = blocksOf(example)
    assert(Evaluation.diceOfTruePositives(b, b, gold) == 1.0)
  }

  private val nothing = Map(
    "0" -> (Seq("A:1", "A:2"), Seq("B:4")),
    "1" -> (Seq("A:3", "A:2", "A:4"), Seq("A:1", "A:5")),
    "2" -> (Seq("A:6"), Seq("A:5", "A:7")))

  test("from_joined_evals algebra (eval.py:262-279): example ⊕ nothing_found") {
    // reference algebra on the two golden fixtures above: TP set union
    // {A1-B1, A4-B4} ∪ {} (tp 2), fp summed 8+10, comparisons summed
    // 10+10 — exact fractions: rec 2/7, prec 2/20, rr 36/56, h3r 36/91.
    val e = Evaluation.joinedEvaluate(
      blocksOf(example), blocksOf(nothing), gold, 8, 7)
    assert(e.truePositive == 2)
    assert(e.falsePositive == 18)
    assert(e.falseNegative == 5)
    assert(e.compWithBlocking == 20)
    assert(math.abs(e.recall - 2.0 / 7) < 1e-12)
    assert(math.abs(e.precision - 0.1) < 1e-12)
    assert(math.abs(e.reductionRatio - 36.0 / 56) < 1e-12)
    assert(math.abs(e.fMeasure - 4.0 / 27) < 1e-12)
    assert(math.abs(e.h3r - 36.0 / 91) < 1e-12)
  }

  test("from_joined_evals with itself: tp unchanged, costs doubled") {
    val b = blocksOf(example)
    val single = Evaluation.evaluate(b, gold, 8, 7)
    val joined = Evaluation.joinedEvaluate(b, b, gold, 8, 7)
    assert(joined.truePositive == single.truePositive)
    assert(joined.falsePositive == 2 * single.falsePositive)
    assert(joined.compWithBlocking == 2 * single.compWithBlocking)
  }

  test("from_joined_evals rejects mismatched datasets") {
    val a = Evaluation.evaluate(blocksOf(example), gold, 8, 7)
    val b = Evaluation.evaluate(blocksOf(example), gold, 9, 7)
    intercept[IllegalArgumentException] {
      Evaluation.fromJoinedEvals(a, b, a.truePositive)
    }
  }

  test("multipleBlockComparison: ordered-pair rows agree with the combinator") {
    val named = Seq("ex" -> blocksOf(example), "no" -> blocksOf(nothing),
      "dup" -> blocksOf(Map(
        "0" -> (Seq("A:1", "A:2"), Seq("B:1", "B:4")),
        "1" -> (Seq("A:6"), Seq("B:5", "B:7")))))
    val df = Evaluation.multipleBlockComparison(spark, named, gold, 8, 7)
    assert(df.columns.toSeq == Seq("base", "other", "improvement_h3r", "dice_tp"))
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.size == 6) // 3 blockers → 6 ordered pairs
    // dice is symmetric; ex∩no = ∅ → 0
    assert(rows(("ex", "no"))._2 == rows(("no", "ex"))._2)
    assert(rows(("ex", "no"))._2 == 0.0)
    // dup's TP set {A1-B1} ⊂ ex's {A1-B1, A4-B4}: dice = 2*1/(2+1)
    assert(math.abs(rows(("ex", "dup"))._2 - 2.0 / 3) < 1e-6)
    // improvement matches the from_joined_evals combinator exactly
    val evals = named.map { case (n, b) => n -> Evaluation.evaluate(b, gold, 8, 7) }.toMap
    val jointTp = Evaluation.jointTruePositiveCount(named(0)._2, named(2)._2, gold)
    val joined = Evaluation.fromJoinedEvals(evals("ex"), evals("dup"), jointTp)
    val expected = (joined.h3r - evals("ex").h3r) / evals("ex").h3r
    assert(math.abs(rows(("ex", "dup"))._1 - expected) < 1e-6)
  }

  test("truePositivePairs: each gold pair that shares a block, once") {
    val tp = Evaluation.truePositivePairs(blocksOf(example), gold).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tp.sorted == Seq(("A:1", "B:1"), ("A:4", "B:4")))
  }

  test("comparisonReport: best row flagged, dice-vs-best 1, improvement 0") {
    val named = Seq("ex" -> blocksOf(example), "no" -> blocksOf(nothing))
    val df = Evaluation.comparisonReport(spark, named, gold, 8, 7)
    val rows = df.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size == 2)
    // ex finds 2 TPs at comparable cost → strictly higher h3r than no (0)
    assert(rows("ex").getBoolean(1) && !rows("no").getBoolean(1))
    assert(rows("ex").getDouble(9) == 1.0)   // dice_vs_best (self)
    assert(rows("ex").getDouble(10) == 0.0)  // improvement_h3r (self)
    // 'no' adds no TPs on top of best but doubles cost → improvement < 0
    assert(rows("no").getDouble(10) < 0.0)
    assert(rows("no").getDouble(9) == 0.0)
  }

  // Hostile fixture: null ids inside block arrays and in gold, duplicate
  // gold rows, and a true positive (A:1-B:1) both blockings find. As
  // under an equi-join against gold, a pair with a null id counts as a
  // candidate but never as a true positive; |gold| counts distinct gold
  // rows, null ids included.
  private lazy val hostileGold = Seq[(String, String)](
    ("A:1", "B:1"), ("A:1", "B:1"), ("A:2", "B:2"), ("A:3", "B:3"),
    (null, "B:4"), (null, "B:4"), ("A:5", null)).toDF("l", "r")
  private def hostileA = blocksOf(Map(
    "0" -> (Seq("A:1", null), Seq("B:1", "B:4")),
    "1" -> (Seq("A:2", "A:5"), Seq("B:2", null)),
    "2" -> (Seq("A:1"), Seq("B:1"))))
  private def hostileB = blocksOf(Map(
    "0" -> (Seq("A:1", "A:3"), Seq("B:1", "B:3")),
    "1" -> (Seq(null), Seq("B:4"))))

  test("hostile inputs: null ids, duplicate gold, a shared true positive") {
    assert(Evaluation.evaluate(hostileA, hostileGold, 8, 7) == EvalResult(2, 6, 3, 8, 56))
    assert(Evaluation.evaluate(hostileB, hostileGold, 8, 7) == EvalResult(2, 3, 3, 5, 56))
    assert(Evaluation.diceOfTruePositives(hostileA, hostileB, hostileGold) == 0.5)
    assert(Evaluation.jointTruePositiveCount(hostileA, hostileB, hostileGold) == 3)
    assert(Evaluation.joinedEvaluate(hostileA, hostileB, hostileGold, 8, 7) ==
      EvalResult(3, 9, 2, 13, 56))
    val report = Evaluation.comparisonReport(spark,
      Seq("a" -> hostileA, "b" -> hostileB), hostileGold, 8, 7).collect().map(_.toSeq)
    assert(report.toSeq == Seq(
      Seq("a", false, 2L, 8L, 0.4, 0.25, 0.307692, 0.857143, 0.545455, 0.5, 0.211872),
      Seq("b", true, 2L, 5L, 0.4, 0.4, 0.4, 0.910714, 0.555858, 1.0, 0.0)))
  }

  test("one scoring action takes at most 62 blockings") {
    val b = blocksOf(example)
    val many = (0 until 63).map(i => s"b$i" -> b)
    intercept[IllegalArgumentException] {
      Evaluation.evaluateMany(many, gold, 8, 7)
    }
    intercept[IllegalArgumentException] {
      Evaluation.comparisonReport(spark, many, gold, 8, 7)
    }
  }
}
