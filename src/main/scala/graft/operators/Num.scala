package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, IntegralDivide, MakeDecimal, UnscaledValue}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Cross-engine-deterministic numeric aggregation helpers.
  *
  * Floating-point `sum`/`avg`/`stddev` are order-dependent: a Spark
  * shuffle and a single-threaded oracle (DuckDB) add partials in
  * different orders and disagree in the last ulp — which breaks
  * hash-based result comparison AND makes distributed runs
  * non-reproducible run-to-run. So every aggregate here goes through an
  * exact decimal sum first, and only then converts to double:
  * the decimal sum is associative/commutative (safe under any
  * partitioning), and decimal→double + one IEEE division/sqrt is
  * bit-deterministic on both engines.
  *
  * This mirrors the reference's intent (pandas `sum`/`mean`/`std` on
  * modest per-entity frames, niamoto `transformers/aggregation/
  * statistical_summary.py:152`) while being safe at 100 TB.
  */
object Num {
  /** Scale for exact intermediate decimals — enough for test-data money
    * columns (2dp); (18,4)×(18,4) products widen to (37,8) WITHOUT
    * precision loss in both Spark and DuckDB, and their sums stay exact
    * far past 100 TB of rows (Spark bumps sum precision to 38). */
  private val Exact = DecimalType(18, 4)

  /** Exact sum, surfaced as double — numerically identical to
    * `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)` but ~2× faster:
    * the sum runs over the decimal's UNSCALED long (codegen'd long
    * buffer) instead of a precision-28 Decimal buffer (BigDecimal-backed
    * adds). Same trick as Spark's own `DecimalAggregates` rule, which
    * stops at precision 8; (18,4) keeps the unscaled sum exact while
    * |Σx| < 9.2e14, and ANSI mode (Spark 4 default) turns the
    * beyond-that overflow into a loud error, not a wrong answer —
    * callers summing past that switch to [[dsumWide]]. */
  def dsum(c: Column): Column = {
    val unscaled = ColumnBridge.column(
      UnscaledValue(Cast(ColumnBridge.expression(c), Exact)))
    ColumnBridge.column(
      Cast(
        MakeDecimal(ColumnBridge.expression(sum(unscaled)),
          Exact.precision + 10, Exact.scale, nullOnOverflow = false),
        DoubleType))
  }

  /** The full-width decimal-buffer sum (exact to ±1e24): the fallback
    * when a single key's sum can exceed [[dsum]]'s long-unscaled range. */
  def dsumWide(c: Column): Column = sum(c.cast(Exact)).cast(DoubleType)

  /** Deterministic mean = exact-decimal sum / count (one IEEE division). */
  def dmean(c: Column): Column =
    dsum(c) / count(c).cast(DoubleType)

  private val SplitBase = 100000000L // 1e8 = the scale-8 divisor itself

  private def unscaled(c: Column): Column =
    ColumnBridge.column(UnscaledValue(Cast(ColumnBridge.expression(c), Exact)))

  private def idiv(a: Column, b: Column): Column =
    ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(a), ColumnBridge.expression(b),
      evalMode = org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI))

  /** Exact Σ(x·y) surfaced as double — numerically identical to
    * `CAST(SUM(CAST(x AS DEC(18,4)) * CAST(y AS DEC(18,4))) AS DOUBLE)`
    * but ~2× faster: the per-row product is ONE long multiply of the
    * two unscaled values and the aggregation is TWO long sums (hi/lo
    * split, floor-consistent for negatives: lo = pmod ≥ 0, hi divides
    * the exact multiple) — no per-row BigDecimal work at all,
    * everything inside whole-stage codegen. The split base IS the
    * scale-8 divisor, so the exact total reconstructs as one decimal
    * ADD — `Σ = hiSum + loSum·10⁻⁸` — never a decimal division
    * (whose precision-loss-adjusted result scale would round the
    * quotient). One decimal→double rounding at the end, same as the
    * buffer form, so results are bit-equal (NumParitySpec). Headroom:
    * per-row |x·y| < 9.2e14 (unscaled product must fit a long) and
    * < ~9e8 max-magnitude rows per group; past either, ANSI
    * arithmetic fails LOUDLY rather than drifting — the same posture
    * as [[dsum]]. */
  def dprodSum(x: Column, y: Column): Column = {
    val p = unscaled(x) * unscaled(y) // scale-8 unscaled product, ANSI-loud
    val lo = pmod(p, lit(SplitBase))
    val hi = idiv(p - lo, lit(SplitBase))
    // (29,8) + (28,8) adds at (30,8) — exact; wider casts would push
    // the Add result past precision 38, where Spark's precision-loss
    // adjustment silently shaves the scale to 7 and rounds
    val v = sum(hi).cast(DecimalType(29, 8)) + // value hiSum, exact
      ColumnBridge.column(MakeDecimal(
        ColumnBridge.expression(sum(lo)), 28, 8, nullOnOverflow = false))
    v.cast(DoubleType)
  }

  /** Deterministic sample std-dev via the sum-of-squares identity on
    * exact sums: sqrt((Σx² − (Σx)²/n) / (n−1)). */
  def dstd(c: Column): Column = {
    val n = count(c).cast(DoubleType)
    val s = dsum(c)
    val s2 = dprodSum(c, c)
    when(count(c) > 1, sqrt(greatest((s2 - s * s / n) / (n - lit(1.0)), lit(0.0))))
  }

  /** Deterministic Pearson correlation from exact sums (linear sums on
    * the [[dsum]] unscaled-long path, product sums on [[dprodSum]]'s
    * split-long path — zero per-row BigDecimal work). Degenerate
    * groups — no complete (x, y) pair, or zero variance on either
    * side — yield NULL: correlation is undefined there, and under
    * ANSI mode the unguarded 0/0 would error out the whole job. */
  def dcorr(x: Column, y: Column): Column = {
    val n = count(when(x.isNotNull && y.isNotNull, 1)).cast(DoubleType)
    val xg = when(y.isNotNull, x)
    val yg = when(x.isNotNull, y)
    val sx = dsum(xg)
    val sy = dsum(yg)
    val sxx = dprodSum(xg, xg)
    val syy = dprodSum(yg, yg)
    val sxy = dprodSum(xg, yg)
    when(n > 0, {
      val cov = sxy - sx * sy / n
      val vx = sxx - sx * sx / n
      val vy = syy - sy * sy / n
      when(vx > 0 && vy > 0, cov / sqrt(vx * vy))
    })
  }
}
