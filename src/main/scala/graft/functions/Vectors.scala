package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over plain `array<float>`/`array<double>` columns.
  * The hot-path kernel is the native [[org.apache.spark.sql.graft.DotProduct]]
  * Catalyst expression — compact-loop codegen (JIT-friendly, zero
  * per-pair allocation); see its scaladoc for why both built-in
  * formulations (zip_with/aggregate, unrolled getItem chain) lose by an
  * order of magnitude on O(n²) similarity joins. Accumulation is in
  * double regardless of the element type so Spark and the DuckDB oracle
  * agree.
  */
object Vectors {

  /** Σ aᵢ·bᵢ — native loop expression. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorOps.dotProduct(a, b)

  /** ‖a‖₂ */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    cosineFromNorms(a, b, l2Norm(a), l2Norm(b))

  /** cos(a, b) from precomputed norms `na` = ‖a‖₂, `nb` = ‖b‖₂ — the one
    * zero-norm guard of the similarity layer: a zero vector (or a zero
    * centroid) scores 0.0 instead of raising ANSI `DIVIDE_BY_ZERO`.
    * `try_divide` is null only on a zero divisor or a null input, so a
    * nonzero pair computes the norm product once; under a CASE WHEN
    * Spark would compute it in the condition and again in the quotient. */
  private[graft] def cosineFromNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    coalesce(try_divide(dot(a, b), na * nb), when(na * nb === 0, lit(0.0)))

  /** Squared euclidean distance. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, x) => acc + x)

  /** Elementwise mean of a non-empty `array<array<float|double>>` of
    * equal-length vectors, as array<double> — the centroid kernel for
    * DisSimLocal hubness reduction. Codegen'd higher-order functions
    * only (aggregate/zip_with/transform); accumulation in double. */
  def meanVec(vs: Column): Column =
    transform(
      aggregate(
        vs,
        transform(element_at(vs, 1), _ => lit(0.0)),
        (acc, v) => zip_with(acc, v, (a, x) => a + x.cast("double"))),
      s => s / size(vs))

  /** a / ‖a‖₂ as array<double> (zero vectors pass through unchanged).
    * The norm is letBound — captured inside the divide-lambda it would
    * be recomputed per element (O(d²) per row). */
  def normalize(a: Column): Column =
    Text.letBind(l2Norm(a)) { n =>
      when(n === 0.0, transform(a, x => x.cast("double")))
        .otherwise(transform(a, x => x.cast("double") / n))
    }
}
