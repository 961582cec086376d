package graft.eval

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Blocks
import graft.functions.Num

/** Blocking-quality metrics (reference src/klinker/eval.py:144-326).
  *
  * Fully distributed: candidate pairs stay a DataFrame (double explode),
  * and one group-by over the pairs of every scored blocking plus the gold
  * rows is both the distinct and the gold match ([[Evaluation.score]]) —
  * the set algebra of the reference's `spark_eval.py:6-36`, never the
  * driver-collecting `all_pairs` path (eval.py:201-215).
  */
final case class EvalResult(
    truePositive: Long, falsePositive: Long, falseNegative: Long,
    compWithBlocking: Long, compWithoutBlocking: Long) {

  private def harmonic(a: Double, b: Double): Double =
    if (a + b == 0) 0.0 else 2 * a * b / (a + b)

  def recall: Double = {
    val d = truePositive + falseNegative
    if (d == 0) 0.0 else truePositive.toDouble / d
  }
  def precision: Double = {
    val d = truePositive + falsePositive
    if (d == 0) 0.0 else truePositive.toDouble / d
  }
  def fMeasure: Double = harmonic(recall, precision)
  def reductionRatio: Double = 1.0 - compWithBlocking.toDouble / compWithoutBlocking
  def h3r: Double = harmonic(reductionRatio, recall)
  def pairsCompleteness: Double = recall

  def toMap: Map[String, Double] = Map(
    "recall" -> recall, "precision" -> precision, "f_measure" -> fMeasure,
    "reduction_ratio" -> reductionRatio, "h3r" -> h3r)

  /** Metric by its reference name (eval.py to_dict keys). */
  def metric(name: String): Double = toMap.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown metric '$name'; one of ${toMap.keys.mkString(", ")}"))
}

object Evaluation {

  // Blockings one scoring action can take: mask bits 0 until 62.
  private val MaxBlockings = 62
  // A gold row whose ids are both non-null: the only gold a pair can match.
  private val GoldBit = 1L << 62
  // A gold row with a null id counts in |gold| but, as under an equi-join,
  // is never a true positive; its own bit keeps a candidate pair with the
  // same null id from turning it into one.
  private val NullGoldBit = 1L << 63

  /** The counts of one [[score]] action: the number of distinct
    * `(left_id, right_id)` pairs per membership mask, where bit i marks
    * the pairs of blocking i. Blocking i is one of the `evaluated` when
    * i < `evaluated`; only those have a known candidate-pair count. */
  private[graft] final class Scores private[Evaluation] (masks: Seq[(Long, Long)], evaluated: Int) {
    private def count(bits: Long): Long =
      masks.iterator.collect { case (m, n) if (m & bits) == bits => n }.sum

    /** |gold|: distinct gold rows, null ids included. */
    val gold: Long = count(GoldBit) + count(NullGoldBit)

    /** |TP_i|. */
    def tp(i: Int): Long = count(GoldBit | 1L << i)

    /** |TP_i ∩ TP_j|. */
    def tpBoth(i: Int, j: Int): Long = count(GoldBit | 1L << i | 1L << j)

    /** |TP_i ∪ TP_j|. */
    def tpEither(i: Int, j: Int): Long = tp(i) + tp(j) - tpBoth(i, j)

    /** Sørensen-Dice coefficient of TP_i and TP_j (eval.py:329-331). */
    def dice(i: Int, j: Int): Double = {
      val (a, b) = (tp(i), tp(j))
      if (a + b == 0) 0.0 else 2.0 * tpBoth(i, j) / (a + b)
    }

    /** The metrics of evaluated blocking i. */
    def eval(i: Int, leftLen: Long, rightLen: Long): EvalResult = {
      require(i < evaluated, s"blocking $i was scored by its true positives only")
      val (pairs, t) = (count(1L << i), tp(i))
      EvalResult(t, pairs - t, gold - t, pairs, leftLen * rightLen)
    }

    /** The joint evaluation of blockings i and j ([[fromJoinedEvals]]). */
    def joined(i: Int, j: Int, leftLen: Long, rightLen: Long): EvalResult =
      fromJoinedEvals(eval(i, leftLen, rightLen), eval(j, leftLen, rightLen), tpEither(i, j))
  }

  /** gold: DataFrame(left_id, right_id) by position, ids cast to string. */
  private def goldPairs(gold: DataFrame): DataFrame = {
    val Array(gl, gr) = gold.columns.take(2)
    gold.select(col(gl).cast("string").as("left_id"), col(gr).cast("string").as("right_id"))
  }

  /** Score blockings against gold in ONE Spark action. Blockings in
    * `evaluated` (indices 0 until its size) enter by their candidate
    * pairs ([[Blocks.pairs]]); blockings in `compared` (the indices after)
    * enter only by their true positives, the O(Σ|L| + Σ|R|) stream of
    * [[truePositivePairs]], so they have no pair count. Each row carries
    * its blocking's bit and each gold row a top bit; one group-by on the
    * pair ORs the bits together, and that group-by is the distinct (gold
    * is a set, as eval.py's gold_pair_set). A count per mask then yields
    * every pair count, |TP_i|, |TP_i ∩ TP_j| and |gold|, with no join
    * against gold for the evaluated blockings. */
  private[graft] def score(evaluated: Seq[Blocks], compared: Seq[Blocks], gold: DataFrame): Scores = {
    val n = evaluated.size + compared.size
    require(n > 0, "scoring needs at least one blocking")
    require(n <= MaxBlockings, s"one scoring action takes at most $MaxBlockings blockings, got $n")
    val g = goldPairs(gold)
    val goldRows = g.select(col("left_id"), col("right_id"),
      when(col("left_id").isNull || col("right_id").isNull, lit(NullGoldBit))
        .otherwise(lit(GoldBit)).as("_m"))
    val streams = evaluated.map(_.pairs) ++ compared.map(tpStream(_, g, broadcastGold = true))
    val rows = streams.zipWithIndex.foldLeft(goldRows) { case (acc, (p, i)) =>
      acc.unionByName(p.select(col("left_id").cast("string").as("left_id"),
        col("right_id").cast("string").as("right_id"), lit(1L << i).as("_m")))
    }
    val masks = rows.groupBy("left_id", "right_id").agg(bit_or(col("_m")).as("_m"))
      .groupBy("_m").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    new Scores(masks, evaluated.size)
  }

  /** Blocking-quality metrics of one blocking: one [[score]] action. */
  def evaluate(blocks: Blocks, gold: DataFrame, leftLen: Long, rightLen: Long): EvalResult =
    score(Seq(blocks), Nil, gold).eval(0, leftLen, rightLen)

  /** Evaluate N blockings against one gold in ONE Spark action ([[score]]);
    * identical to N [[evaluate]] calls. */
  def evaluateMany(blocks: Seq[(String, Blocks)], gold: DataFrame,
                   leftLen: Long, rightLen: Long): Map[String, EvalResult] = {
    require(blocks.map(_._1).distinct.size == blocks.size, "duplicate blocker names")
    val s = score(blocks.map(_._2), Nil, gold)
    blocks.zipWithIndex.map { case ((n, _), i) => n -> s.eval(i, leftLen, rightLen) }.toMap
  }

  /** The metrics as a one-row DataFrame (rounded) — the oracle-checkable
    * surface of J7/A8. */
  def evaluateDF(spark: SparkSession, blocks: Blocks, gold: DataFrame,
                 leftLen: Long, rightLen: Long, scale: Int = 6): DataFrame =
    resultDF(spark, evaluate(blocks, gold, leftLen, rightLen), scale)

  /** Any [[EvalResult]] as the one-row oracle-checkable DataFrame. */
  def resultDF(spark: SparkSession, r: EvalResult, scale: Int = 6): DataFrame = {
    import spark.implicits._
    Seq((r.truePositive, r.compWithBlocking, r.recall, r.precision, r.fMeasure,
         r.reductionRatio, r.h3r))
      .toDF("tp", "pairs", "recall", "precision", "f_measure", "reduction_ratio", "h3r")
      .select(col("tp"), col("pairs"),
        Num.stableRound(col("recall"), scale).as("recall"),
        Num.stableRound(col("precision"), scale).as("precision"),
        Num.stableRound(col("f_measure"), scale).as("f_measure"),
        Num.stableRound(col("reduction_ratio"), scale).as("reduction_ratio"),
        Num.stableRound(col("h3r"), scale).as("h3r"))
  }

  /** The gold pairs a blocking finds, WITHOUT enumerating candidate
    * pairs: a gold pair is found iff some block key holds its left id on
    * the left side and its right id on the right side — two independent
    * single explodes (narrow rows, no arrays carried) joined through the
    * block key. Turns the O(Σ|L|·|R|) pair explosion into
    * O(Σ|L| + Σ|R|) work.
    *
    * Safe under duplicate block keys ([[Blocks.unionAll]] allows them): the
    * join key is a per-ROW fingerprint, not the block key alone, so a left
    * id in one row can never pair with a right id from a different row that
    * merely shares the key. (xxhash64 over the full row is deterministic —
    * unlike monotonically_increasing_id — so the two explode scans agree
    * without a persist; identical duplicate rows collide harmlessly since
    * their pair sets are identical and the result is distinct'd.)
    *
    * Broadcast contract: by default gold is BROADCAST into the join — gold
    * is benchmark-sized (labeled match pairs, the reference's contract
    * throughout eval.py), so the explode side stays shuffle-free however
    * large the blocks are. If gold ever outgrows the broadcast budget,
    * pass `broadcastGold = false` for a plain shuffle join: the same pairs
    * (spec-asserted), one more exchange on the explode side. */
  def truePositivePairs(blocks: Blocks, gold: DataFrame,
                        broadcastGold: Boolean = true): DataFrame =
    tpStream(blocks, goldPairs(gold), broadcastGold).distinct()

  /** [[truePositivePairs]] before its distinct, over normalized gold. */
  private def tpStream(blocks: Blocks, goldPairs: DataFrame, broadcastGold: Boolean): DataFrame = {
    val g = if (broadcastGold) broadcast(goldPairs) else goldPairs
    val rows = blocks.df.select(
      xxhash64(col(Blocks.KeyCol), col(Blocks.LeftCol), col(Blocks.RightCol)).as("_row"),
      col(Blocks.LeftCol), col(Blocks.RightCol))
    val el = rows.select(col("_row"), explode(col(Blocks.LeftCol)).as("left_id"))
    val er = rows.select(col("_row"), explode(col(Blocks.RightCol)).as("right_id"))
    el.join(g, Seq("left_id"))
      .join(er, Seq("_row", "right_id"), "left_semi")
      .select("left_id", "right_id")
  }

  /** Sørensen-Dice coefficient of two blockings' true-positive sets
    * (eval.py:329-331) — distributed set algebra, no driver sets: one
    * [[score]] action over the two true-positive streams. */
  def diceOfTruePositives(a: Blocks, b: Blocks, gold: DataFrame): Double =
    score(Nil, Seq(a, b), gold).dice(0, 1)

  /** Joint evaluation of two blockings WITHOUT re-blocking — the
    * reference's `Evaluation.from_joined_evals` (eval.py:262-279): the
    * true-positive set is the UNION of the two TP sets, while candidate
    * comparisons and false positives are SUMMED per-blocking (a candidate
    * both blockings generate is paid for twice — the reference's exact
    * algebra, since each blocking's comparisons happen regardless). Gold
    * and search space must be identical; `jointTruePositive` is
    * |TP_a ∪ TP_b| (see [[jointTruePositiveCount]]).
    *
    * Pure arithmetic on two already-computed results — the point of the
    * combinator is that evaluating both blockings AND their union costs
    * two evaluations plus one distinct-count, never a third blocking. */
  def fromJoinedEvals(a: EvalResult, b: EvalResult, jointTruePositive: Long): EvalResult = {
    val goldA = a.truePositive + a.falseNegative
    val goldB = b.truePositive + b.falseNegative
    require(goldA == goldB && a.compWithoutBlocking == b.compWithoutBlocking,
      s"can only join evals over the identical dataset (gold $goldA vs $goldB, " +
        s"space ${a.compWithoutBlocking} vs ${b.compWithoutBlocking})")
    require(jointTruePositive >= math.max(a.truePositive, b.truePositive) &&
        jointTruePositive <= math.min(goldA, a.truePositive + b.truePositive),
      s"joint TP $jointTruePositive inconsistent with inputs")
    EvalResult(
      truePositive = jointTruePositive,
      falsePositive = a.falsePositive + b.falsePositive,
      falseNegative = goldA - jointTruePositive,
      compWithBlocking = a.compWithBlocking + b.compWithBlocking,
      compWithoutBlocking = a.compWithoutBlocking)
  }

  /** |TP_a ∪ TP_b| — one [[score]] action over the two TP streams. */
  def jointTruePositiveCount(a: Blocks, b: Blocks, gold: DataFrame): Long =
    score(Nil, Seq(a, b), gold).tpEither(0, 1)

  /** End-to-end joint evaluation of two blockings in ONE Spark action:
    * both evaluations and |TP_a ∪ TP_b| come from one [[score]]. */
  def joinedEvaluate(a: Blocks, b: Blocks, gold: DataFrame,
                     leftLen: Long, rightLen: Long): EvalResult =
    score(Seq(a, b), Nil, gold).joined(0, 1, leftLen, rightLen)

  private def pct(joined: Double, base: Double): Double =
    if (base == 0) 0.0 else (joined - base) / base

  /** N-way blocker comparison — the reference's
    * `multiple_block_comparison` (eval.py:457-521): for every unordered
    * pair of blockings, two rows (base, other) with the percent
    * improvement each metric gains when the base is joined with the
    * other (`(joined − base) / base`), plus the Dice coefficient of
    * their TP sets. Every evaluation and TP-set intersection comes from
    * one [[score]] action, vs the reference's n² driver set ops. */
  def multipleBlockComparison(
      spark: SparkSession, blocks: Seq[(String, Blocks)], gold: DataFrame,
      leftLen: Long, rightLen: Long,
      improvementMetrics: Seq[String] = Seq("h3r"),
      scale: Int = 6): DataFrame = {
    require(blocks.map(_._1).distinct.size == blocks.size, "duplicate blocker names")
    val s = score(blocks.map(_._2), Nil, gold)
    val names = blocks.map(_._1)
    val rows = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield {
      val joined = s.joined(i, j, leftLen, rightLen)
      def improvements(base: Int) = improvementMetrics.map(m =>
        pct(joined.metric(m), s.eval(base, leftLen, rightLen).metric(m)))
      Seq((names(i), names(j), improvements(i), s.dice(i, j)),
        (names(j), names(i), improvements(j), s.dice(i, j)))
    }
    import spark.implicits._
    val df = rows.flatten.toDF("base", "other", "_ims", "dice_tp")
    val imCols = improvementMetrics.zipWithIndex.map { case (m, i) =>
      Num.stableRound(col("_ims").getItem(i), scale).as(s"improvement_$m")
    }
    df.select(col("base") +: col("other") +: imCols :+
        Num.stableRound(col("dice_tp"), scale).as("dice_tp"): _*)
      .orderBy("base", "other")
  }

  /** One-row-per-blocker comparison report: each blocking's own metrics
    * plus how it relates to the BEST blocking (highest h3r, ties by
    * name): Dice of TP sets vs best and the percent h3r improvement the
    * best would gain by joining with it (what this blocker ADDS on top
    * of the best — 0 for the best itself). One [[score]] action. */
  def comparisonReport(
      spark: SparkSession, blocks: Seq[(String, Blocks)], gold: DataFrame,
      leftLen: Long, rightLen: Long, scale: Int = 6): DataFrame = {
    require(blocks.map(_._1).distinct.size == blocks.size, "duplicate blocker names")
    scoredReport(spark, blocks.map(_._1), score(blocks.map(_._2), Nil, gold),
      leftLen, rightLen, scale)
  }

  /** [[comparisonReport]] over scores already taken: `names(i)` names
    * evaluated blocking i of `s`. */
  private[graft] def scoredReport(spark: SparkSession, names: Seq[String], s: Scores,
                   leftLen: Long, rightLen: Long, scale: Int = 6): DataFrame = {
    val evals = names.indices.map(s.eval(_, leftLen, rightLen))
    val best = names.indices.maxBy(i => (evals(i).h3r, names(i)))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String.reverse))
    val rows = names.indices.map { i =>
      val e = evals(i)
      val addOnBest =
        if (i == best) 0.0 else pct(s.joined(best, i, leftLen, rightLen).h3r, evals(best).h3r)
      (names(i), i == best, e.truePositive, e.compWithBlocking,
        e.recall, e.precision, e.fMeasure, e.reductionRatio, e.h3r, s.dice(i, best), addOnBest)
    }
    import spark.implicits._
    rows.toDF("blocker", "is_best", "tp", "pairs", "recall", "precision",
        "f_measure", "reduction_ratio", "h3r", "dice_vs_best", "improvement_h3r")
      .select(col("blocker"), col("is_best"), col("tp"), col("pairs"),
        Num.stableRound(col("recall"), scale).as("recall"),
        Num.stableRound(col("precision"), scale).as("precision"),
        Num.stableRound(col("f_measure"), scale).as("f_measure"),
        Num.stableRound(col("reduction_ratio"), scale).as("reduction_ratio"),
        Num.stableRound(col("h3r"), scale).as("h3r"),
        Num.stableRound(col("dice_vs_best"), scale).as("dice_vs_best"),
        Num.stableRound(col("improvement_h3r"), scale).as("improvement_h3r"))
      .orderBy("blocker")
  }
}
