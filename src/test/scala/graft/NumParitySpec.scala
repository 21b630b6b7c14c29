package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.operators.Num
import graft.operators.Num.dsum

/** Bit-parity proofs for the split-long fast paths in [[Num]]: the
  * per-row-BigDecimal-free `dprodSum`-based dcorr/dstd must produce
  * bit-identical doubles to the decimal-buffer reference forms (which
  * the DuckDB oracles mirror) on adversarial data — negatives, nulls,
  * 4-decimal fractions, mixed-null pairs, single-row groups.
  */
class NumParitySpec extends SparkSpec {
  import spark.implicits._

  /** `Num`'s exact decimal type. */
  private val Exact = DecimalType(18, 4)

  /** The decimal-buffer reference form of [[Num.dstd]]'s Σx² (bit-equal,
    * ~2× slower). */
  private def dstdDecimalRef(c: Column): Column = {
    val n = count(c).cast(DoubleType)
    val s = dsum(c)
    // product of (18,4)s is (37,8) — summed as-is (exact); re-casting the
    // product to (18,4) would round to 4dp and diverge from the oracle
    val s2 = sum(c.cast(Exact) * c.cast(Exact)).cast(DoubleType)
    when(count(c) > 1, sqrt(greatest((s2 - s * s / n) / (n - lit(1.0)), lit(0.0))))
  }

  /** The all-decimal reference form of [[Num.dcorr]] (bit-equal, same
    * degenerate-group guards). */
  private def dcorrDecimalRef(x: Column, y: Column): Column = {
    val n = count(when(x.isNotNull && y.isNotNull, 1)).cast(DoubleType)
    val xe = when(y.isNotNull, x).cast(Exact)
    val ye = when(x.isNotNull, y).cast(Exact)
    val sx = sum(xe).cast(DoubleType)
    val sy = sum(ye).cast(DoubleType)
    val sxx = sum(xe * xe).cast(DoubleType)
    val syy = sum(ye * ye).cast(DoubleType)
    val sxy = sum(xe * ye).cast(DoubleType)
    when(n > 0, {
      val cov = sxy - sx * sy / n
      val vx = sxx - sx * sx / n
      val vy = syy - sy * sy / n
      when(vx > 0 && vy > 0, cov / sqrt(vx * vy))
    })
  }

  private def randomFrame = {
    val rnd = new scala.util.Random(97)
    (0 until 5000).map { i =>
      val g = i % 7
      val x = if (rnd.nextInt(20) == 0) None
        else Some(math.round((rnd.nextDouble() - 0.5) * 2e5 * 1e4) / 1e4)
      val y = if (rnd.nextInt(20) == 0) None
        else Some(math.round((rnd.nextDouble() - 0.5) * 2e5 * 1e4) / 1e4)
      (g, x, y)
    }.toDF("g", "x", "y")
  }

  private def bits(df: org.apache.spark.sql.DataFrame): Seq[(Int, Seq[Long])] =
    df.orderBy("g").collect().map { r =>
      (r.getInt(0), (1 until r.length).map(i =>
        if (r.isNullAt(i)) Long.MinValue
        else java.lang.Double.doubleToLongBits(r.getDouble(i))))
    }.toSeq

  test("dcorr split-long path is bit-equal to the decimal-buffer reference") {
    val df = randomFrame
    val fast = bits(df.groupBy("g").agg(Num.dcorr(col("x"), col("y")).as("c")))
    val ref = bits(df.groupBy("g").agg(dcorrDecimalRef(col("x"), col("y")).as("c")))
    assert(fast == ref)
  }

  test("dstd split-long path is bit-equal to the decimal-buffer reference") {
    val df = randomFrame
    val fast = bits(df.groupBy("g").agg(Num.dstd(col("x")).as("s")))
    val ref = bits(df.groupBy("g").agg(dstdDecimalRef(col("x")).as("s")))
    assert(fast == ref)
  }

  test("parity holds on degenerate groups: single row, all-null, constant") {
    val df = Seq(
      (0, Some(1.5), Some(2.5)),                      // single pair
      (1, None, Some(1.0)), (1, Some(2.0), None),     // no complete pair
      (2, Some(3.0), Some(4.0)), (2, Some(3.0), Some(4.0)), // zero variance
      (3, Some(-7.1234), Some(9.9999)), (3, Some(8.4), Some(-0.0001)),
    ).toDF("g", "x", "y")
    val fast = bits(df.groupBy("g").agg(
      Num.dcorr(col("x"), col("y")).as("c"), Num.dstd(col("x")).as("s")))
    val ref = bits(df.groupBy("g").agg(
      dcorrDecimalRef(col("x"), col("y")).as("c"),
      dstdDecimalRef(col("x")).as("s")))
    assert(fast == ref)
  }

  test("per-row product overflow fails loudly, never silently drifts") {
    // unscaled(1e12) = 1e16; squared = 1e32 — far past a long
    val big = Seq((0, 1.0e12, 1.0e12)).toDF("g", "x", "y")
    val err = intercept[Exception](
      big.groupBy("g").agg(Num.dcorr(col("x"), col("y"))).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => String.valueOf(e.getMessage) +: msgs(e.getCause))
    assert(msgs(err).exists(m =>
      m.toLowerCase.contains("overflow") || m.contains("ARITHMETIC") ||
        m.contains("CAST_OVERFLOW") || m.contains("NUMERIC_VALUE_OUT_OF_RANGE")))
  }
}
