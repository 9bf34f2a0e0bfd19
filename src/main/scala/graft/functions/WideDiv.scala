package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Overflow-proof exact integer `floor(num * mul / den)` for share/ratio
  * columns whose numerator is an UNBOUNDED SUM (money cents, token counts,
  * rank-weighted sums, squared differences).
  *
  * Why this exists: the ppm-share idiom `sum * 1000000 DIV total` is exact
  * int64 arithmetic only while `sum * 1000000` fits — i.e. `sum` below
  * ~9.2e12. Counts bounded by the row count stay safe at the 100 TB design
  * point (~1e12 rows → 1e18 fits), but sums of cents/tokens cross the line
  * between sf1 and there: the sf1 scale run overflowed `q_eng_lorenz`
  * (cumulative revenue ~2.25e13 cents) — the first genuinely
  * scale-dependent failure in the suite.
  *
  * The wide path runs the multiply/divide in DECIMAL(38,0), good to 1e38.
  * Spark's decimal division rounds HALF_UP to the result scale, so a bare
  * `floor(n / d)` can land one off the true floor when the exact quotient
  * sits within 5e-7 of an integer; the remainder-correction step below
  * restores the exact floor, making the whole thing bit-identical to
  * DuckDB's `CAST(num AS HUGEINT) * mul // den` oracle twin.
  *
  * Contract: operands must be non-negative (floor == the truncation that
  * int64 `DIV` performs there; the call sites guarantee it structurally —
  * Chebyshev for the Gini numerator, Cauchy–Schwarz for the burstiness
  * VMR numerator, squares/counts elsewhere) and `den > 0`.
  */
object WideDiv {
  private val D = DecimalType(38, 0)

  /** Cast into the wide DECIMAL(38,0) domain — use BEFORE building
    * products/squares of unbounded values so the intermediate never runs
    * through int64 arithmetic. */
  def wide(c: Column): Column = c.cast(D)

  /** Exact `floor(num * mul / den)` as long, via DECIMAL(38,0). */
  def mulDivWide(num: Column, mul: Column, den: Column): Column =
    floorDiv(num.cast(D) * mul.cast(D), den.cast(D)).cast("long")

  /** The ppm-share special case: `floor(num * 1000000 / den)`. */
  def ppmWide(num: Column, den: Column): Column =
    mulDivWide(num, lit(1000000L), den)

  /** [[mulDivWide]] that KEEPS the DECIMAL(38,0) result instead of casting
    * to long — for intermediates that are themselves unbounded sums (e.g.
    * the ARI expected-index term, ~n² at the design point) and feed a later
    * wide division rather than the output schema. Same non-negative /
    * den > 0 contract; DuckDB twin is plain HUGEINT `... * m // d`, which
    * stays HUGEINT. */
  def mulDivWideDec(num: Column, mul: Column, den: Column): Column =
    floorDiv(num.cast(D) * mul.cast(D), den.cast(D)).cast(D)

  /** Exact `trunc-toward-zero(num * mul / den)` as long, via DECIMAL(38,0),
    * for SIGNED numerators (smoothing trends, covariance numerators,
    * detrended residuals). `den > 0` still required.
    *
    * Truncation — not floor — is deliberately the shared cross-engine
    * contract for signed quotients: DuckDB's HUGEINT `//` truncates toward
    * zero on a negative dividend (probed: `-7 // 2 = -3`), as does int64
    * `DIV` in both engines, so the [[sqlMulDiv]] twin mirrors this variant
    * verbatim. ([[mulDivWide]] floors, which only coincides on the
    * non-negative domain its contract demands.) Implemented as
    * sign × floor(|n|/d) so Spark's HALF_UP decimal division can never
    * round across the integer boundary. */
  def mulDivWideSigned(num: Column, mul: Column, den: Column): Column = {
    val n = num.cast(D) * mul.cast(D)
    val q = floorDiv(abs(n), den.cast(D))
    when(n < lit(0).cast(D), -q).otherwise(q).cast("long")
  }

  /** Exact `floor(n / d)` of two DECIMAL(38,0) columns: Spark's decimal
    * division rounds HALF_UP to the result scale, so the quotient's floor
    * is corrected by one step from the remainder. */
  private def floorDiv(n: Column, d: Column): Column = {
    val q0 = floor(n / d).cast(D)
    val r = n - q0 * d
    when(r < lit(0).cast(D), q0 - lit(1).cast(D))
      .when(r >= d, q0 + lit(1).cast(D))
      .otherwise(q0)
  }

  /** DuckDB oracle twin for [[mulDivWideSigned]]: HUGEINT `//` truncates
    * toward zero, matching the Spark side exactly for any sign of `num`. */
  def sqlMulDivSigned(num: String, mul: String, den: String): String =
    s"CAST(CAST($num AS HUGEINT) * ($mul) // CAST($den AS HUGEINT) AS BIGINT)"

  /** DuckDB oracle twin for [[mulDivWide]]: 128-bit exact floor division.
    * (`//` on HUGEINT is floor division; operands are non-negative, so it
    * agrees with Spark's truncating `DIV` and with [[mulDivWide]].) */
  def sqlMulDiv(num: String, mul: String, den: String): String =
    s"CAST(CAST($num AS HUGEINT) * ($mul) // CAST($den AS HUGEINT) AS BIGINT)"

  def sqlPpm(num: String, den: String): String =
    sqlMulDiv(num, "1000000", den)

  /** Deterministic DECIMAL(p,6) → DOUBLE conversion.
    *
    * A scaled decimal above 2^53 double-rounds in DuckDB: the conversion
    * runs as int64/int128 → double (one rounding) then ÷10^scale (a second
    * rounding), which can land 1 ulp off the correctly-rounded value Spark's
    * `BigDecimal.doubleValue` produces — caught live at sf0.1 on
    * q_eng_group_ols's xy-moment sum. Routing through the INTEGER-valued
    * DECIMAL(38,0) (exact ×10^6, verified correctly-rounded → double in
    * both engines) and dividing by 10^6 as one identical IEEE double op
    * makes the whole chain bit-identical cross-engine at any magnitude the
    * 38-digit domain holds. Use on every decimal money/measure sum whose
    * OUTPUT is double. */
  def decSumToDouble(sumDec: Column): Column =
    (sumDec * lit(1000000L)).cast(D).cast("double") / 1000000.0

  /** DuckDB oracle twin for [[decSumToDouble]]. */
  def sqlDecSumToDouble(sumExpr: String): String =
    s"CAST(CAST(($sumExpr) * 1000000 AS DECIMAL(38,0)) AS DOUBLE) / 1000000.0"
}
