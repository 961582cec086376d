package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-stable numeric helpers.
  *
  * `round(v, d)` is NOT engine-stable: Spark rounds via BigDecimal
  * HALF_UP over the decimal rendering of the binary double while DuckDB
  * rounds half away from zero through a different path, and when
  * `v·10^d` lands exactly on `x.5` they can disagree by one unit of the
  * last decimal (observed live: one cell of `m8_graph_propagation` at
  * sf0.1, `0.272687` vs `0.272688`; same family as the `-0.0` artifact
  * that reddened m9 in round 4). The floor form below is pure IEEE
  * arithmetic — multiply, add, floor, divide are bit-identical in every
  * engine — so results hash identically everywhere. Ties round toward
  * +∞ (floor(x+0.5)), a different convention from either engine's
  * `round`, but conventions don't matter for the oracle: only
  * cross-engine agreement does.
  *
  * What this does NOT fix: when the INPUT doubles themselves differ by
  * an ulp between engines (groupBy-sum addition order is deterministic
  * in neither) and the value sits within that ulp of a rounding
  * boundary, no rounding convention can agree. The mitigation is
  * coarser precision on iterative-aggregation outputs (m8/m9 round to
  * 4 decimals, w5 scales then rounds to 2), and — when the true values
  * live on an exact DECIMAL grid (m8: sums of k/1000 hash features), so
  * boundary landings are systematic rather than measure-zero —
  * [[gridSafeRound]], which nudges the rounding point 1e-9 off the
  * grid: far above ulp noise, far below the grid spacing, and written
  * identically on both engines. Exact integer ratios (jaccard) need
  * NEITHER: both engines divide the same integers and get the same
  * double, which the floor form then rounds identically.
  */
object Num {

  /** floor(c·10^d + 0.5) / 10^d — engine-stable `d`-decimal rounding. */
  def stableRound(c: Column, d: Int): Column = {
    val s = math.pow(10, d) // exact for d ≤ 15
    floor(c * s + lit(0.5)) / s
  }

  /** The order key of a scored top-k: with a non-negative `rankScale` the score
    * rounded to that many decimals, so summation-order ulp noise cannot
    * reorder ties between engines; otherwise the raw score. */
  private[graft] def rankKey(c: Column, rankScale: Int): Column =
    if (rankScale >= 0) stableRound(c, rankScale) else c

  /** DuckDB SQL mirror of [[stableRound]], kept in lockstep. */
  def stableRoundSql(expr: String, d: Int): String =
    s"floor(($expr) * 1e$d + 0.5) / 1e$d"

  /** [[stableRound]] for values on an exact decimal grid: the +1e-9
    * nudge moves systematic x.5 landings decisively above the boundary
    * in BOTH engines (ulp noise ~1e-16 can no longer flip the floor),
    * while every off-boundary grid point stays ≥ grid-spacing/2 − 1e-9
    * away from a boundary. Same operation order as the SQL mirror. */
  def gridSafeRound(c: Column, d: Int): Column = stableRound(c + lit(1e-9), d)

  /** DuckDB SQL mirror of [[gridSafeRound]], kept in lockstep. */
  def gridSafeRoundSql(expr: String, d: Int): String =
    stableRoundSql(s"($expr) + 1e-9", d)

  /** 32-bit Morton (Z-order) interleave of two 16-bit values — the
    * multi-dimensional clustering key behind ZORDER-style data layout
    * (Morton 1966; the Delta/Iceberg OPTIMIZE technique): sorting by
    * z(a, b) keeps rows close in BOTH dimensions physically adjacent,
    * so a range predicate on either column prunes most files. Classic
    * magic-number bit spreading — four shift/mask rounds per side,
    * pure integer arithmetic, identical in any engine with `<<`/`&`/`|`.
    * Inputs are masked to 16 bits (callers hash or bucket wider
    * domains first). */
  def zOrder16(a: Column, b: Column): Column = {
    def spread(x: Column): Column = {
      val x0 = x.bitwiseAND(lit(0xFFFFL))
      val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
      val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
      x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** DuckDB SQL mirror of [[zOrder16]], kept in lockstep. */
  def zOrder16Sql(a: String, b: String): String = {
    def spread(x: String): String = {
      val x0 = s"(($x) & 65535)"
      val x1 = s"(($x0 | ($x0 << 8)) & 16711935)"
      val x2 = s"(($x1 | ($x1 << 4)) & 252645135)"
      val x3 = s"(($x2 | ($x2 << 2)) & 858993459)"
      s"(($x3 | ($x3 << 1)) & 1431655765)"
    }
    s"(${spread(a)} | (${spread(b)} << 1))"
  }
}
