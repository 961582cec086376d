package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{BloomOps, PqKernels, PqOps, VectorOps}

/** The hand-written vector kernels (`DotProduct`, `PqEncodeExpr`,
  * `PqLutExpr`, `PqAdcExpr`) and `BloomMightContain` each carry their
  * loop twice: a Scala `nullSafeEval` and a generated-Java `doGenCode`.
  * Each kernel must give the same rows in both evaluation modes, on
  * float and double input, on vectors of unequal length, and on null
  * arrays (which propagate null). */
class VectorKernelSpec extends SparkSpec {
  import spark.implicits._

  /** One result row set, asserted equal across the two modes. */
  private def same(df: DataFrame, cols: Column*): Seq[Row] = {
    val Seq(compiled, interpreted) = both(df, cols: _*)
    assert(compiled == interpreted)
    compiled
  }

  // repartition: a projection over a local relation would be folded on
  // the driver by the optimizer, in interpreted mode either way
  private lazy val floats = Seq[(Long, Option[Seq[Float]], Option[Seq[Float]])](
      (1L, Some(Seq(1f, 2f, 3f, 4f)), Some(Seq(0.5f, -1f, 2f, 0.25f))),
      (2L, Some(Seq(1.5f, 2.5f, -3f, 4f)), Some(Seq(2f, 2f))), // unequal lengths
      (3L, None, Some(Seq(1f, 1f, 1f, 1f))),
      (4L, Some(Seq(0f, 0f, 0f, 0f)), None))
    .toDF("id", "a", "b").repartition(2)

  private lazy val doubles = floats.select(col("id"),
    col("a").cast("array<double>").as("a"), col("b").cast("array<double>").as("b"))

  private val book = PqKernels.codebook(2, 3, 2, (s, c, d) => s - c * 0.5 + d * 0.25)

  test("dot product: float, double and mixed inputs, unequal lengths and null arrays") {
    val rows = same(floats.join(doubles.select(col("id"), col("a").as("da"), col("b").as("db")), "id"),
      VectorOps.dotProduct(col("a"), col("b")),
      VectorOps.dotProduct(col("da"), col("db")),
      VectorOps.dotProduct(col("a"), col("db")))
    assert(rows.map(r => (1 to 3).map(i => Option(r.get(i)))) == Seq(
      Seq.fill(3)(Some(1.0 * 0.5 - 2.0 + 6.0 + 1.0)),
      Seq.fill(3)(Some(1.5 * 2.0 + 2.5 * 2.0)), // min(len) = 2
      Seq.fill(3)(None), Seq.fill(3)(None)))
  }

  test("PQ encode and lookup table: float and double inputs and null arrays") {
    for (df <- Seq(floats, doubles)) {
      val rows = same(df, PqOps.pqEncode(col("a"), book), PqOps.pqLut(col("a"), book))
      assert(rows.head.getSeq[Int](1).size == 2)
      assert(rows.head.getSeq[Double](2).size == 6)
      assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
    }
  }

  test("PQ ADC score: lookup sums and null arrays on either side") {
    // row 3's vector is null (both null); row 4 gets null codes only
    val withLut = doubles.select(col("id"), PqOps.pqLut(col("a"), book).as("lut"),
      when(col("id") === 4, lit(null).cast("array<int>"))
        .otherwise(PqOps.pqEncode(col("a"), book)).as("codes"))
    val rows = same(withLut, PqOps.pqAdc(col("lut"), col("codes"), 3))
    val lut = same(withLut, col("lut"), col("codes")).head
    val codes = lut.getSeq[Int](2)
    assert(rows.head.getDouble(1) ==
      codes.zipWithIndex.map { case (c, s) => lut.getSeq[Double](1)(s * 3 + c) }.sum)
    assert(rows(2).isNullAt(1) && rows(3).isNullAt(1))
  }

  test("bloom probe: members, a non-member and a null value") {
    val filter = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq("alpha", "beta").foreach(filter.putString)
    val probes = Seq[(Long, Option[String])]((1L, Some("alpha")), (2L, Some("beta")),
        (3L, Some("definitely-not-in-it")), (4L, None))
      .toDF("id", "v").repartition(2)
    val rows = same(probes, BloomOps.mightContain(BloomOps.serialize(filter), col("v")))
    assert(rows.map(r => Option(r.get(1))) == Seq(Some(true), Some(true), Some(false), None))
  }
}
