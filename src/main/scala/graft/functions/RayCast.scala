package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native even-odd ray-cast crossing count for point-in-polygon tests
  * (SURVEY.md §2 P4/P5): the number of polygon edges a rightward ray
  * from (px, py) crosses, over a vertex ring given as parallel
  * `array<double>` columns. Odd count = inside.
  *
  * Why an expression: the composed column form — a
  * `functions.aggregate` fold over `sequence(0, n−1)` with
  * `element_at` lookups — is CodegenFallback, so in P5's
  * candidate-pair hot path every (point, polygon-bbox-cell) pair pays
  * an interpreted lambda per edge plus a materialized index array.
  * Here the whole ring test is one fused primitive double loop inside
  * whole-stage codegen, reading both vertex arrays in place.
  *
  * Bit-parity contract with the HOF form (kept as
  * EventsGeoFormatsSpec's `rayCastCrossingsHof`, equality asserted, and
  * replayed verbatim by the DuckDB gate oracles): edges are walked in
  * vertex order with the closing edge (n−1 → 0) last, and the crossing
  * predicate evaluates `(yi > py) ≠ (yj > py) ∧ px <
  * (xj−xi)·(py−yi)/(yj−yi) + xi` with exactly that IEEE operation
  * order, so the booleans — and therefore the counts — are
  * bit-identical across the three implementations. Degenerate edges
  * (yi = yj) fail the first conjunct before the division, identically
  * everywhere. A ring shorter than the other array contributes only
  * `min(|xs|, |ys|)` vertices (the HOF form indexes both arrays to
  * `size(xs)`; callers pass equal-length rings — enforced by the
  * operators' schema contract).
  */
case class RayCastCrossings(
    px: Expression, py: Expression, xs: Expression, ys: Expression)
  extends QuaternaryExpression {

  override def first: Expression = px
  override def second: Expression = py
  override def third: Expression = xs
  override def fourth: Expression = ys

  override def dataType: DataType = IntegerType
  override def prettyName: String = "ray_cast_crossings"

  override def checkInputDataTypes(): TypeCheckResult =
    (px.dataType, py.dataType, xs.dataType, ys.dataType) match {
      case (DoubleType, DoubleType,
          ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double, double, array<double>, array<double>), got $other")
    }

  override def nullSafeEval(pxv: Any, pyv: Any, xsv: Any, ysv: Any): Any =
    RingCrossings.ringCount(
      pxv.asInstanceOf[Double], pyv.asInstanceOf[Double],
      xsv.asInstanceOf[ArrayData], ysv.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (pxv, pyv, xsv, ysv) =>
      // the same shared kernel as the interpreted path (and as
      // RingCrossings' per-ring sum) — arithmetic can never fork
      s"""${ev.value} = graft.functions.RingCrossings.ringCount(
         |  $pxv, $pyv, $xsv, $ysv);""".stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): RayCastCrossings =
    RayCastCrossings(newFirst, newSecond, newThird, newFourth)
}

/** Multi-RING even-odd crossing count (SURVEY.md §2 P6): total
  * rightward-ray crossings over a SET of vertex rings given as
  * parallel `array<array<double>>` columns — ring r is
  * (xss[r], yss[r]). Odd total = inside the polygon-with-holes /
  * multipolygon the ring set describes: a hole ring adds its own
  * (odd) crossings for interior points, flipping the total back to
  * even, and disjoint outer rings compose the same way — the even-odd
  * rule needs no outer/hole distinction.
  *
  * Per-ring arithmetic is IDENTICAL (same IEEE operation order) to
  * [[RayCastCrossings]]; the total is the plain integer sum over
  * rings, so any engine replaying the single-ring expression per ring
  * and summing (the DuckDB gate oracle does) is bit-compatible. Rings
  * beyond `min(|xss|, |yss|)` are ignored; a null ring entry
  * contributes 0.
  */
case class RingCrossings(
    px: Expression, py: Expression, xss: Expression, yss: Expression)
  extends QuaternaryExpression {

  override def first: Expression = px
  override def second: Expression = py
  override def third: Expression = xss
  override def fourth: Expression = yss

  override def dataType: DataType = IntegerType
  override def prettyName: String = "ring_crossings"

  override def checkInputDataTypes(): TypeCheckResult =
    (px.dataType, py.dataType, xss.dataType, yss.dataType) match {
      case (DoubleType, DoubleType,
          ArrayType(ArrayType(DoubleType, _), _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double, double, array<array<double>>, array<array<double>>), got $other")
    }

  override def nullSafeEval(pxv: Any, pyv: Any, xssv: Any, yssv: Any): Any = {
    val x0 = pxv.asInstanceOf[Double]
    val y0 = pyv.asInstanceOf[Double]
    val xr = xssv.asInstanceOf[ArrayData]
    val yr = yssv.asInstanceOf[ArrayData]
    val nr = math.min(xr.numElements(), yr.numElements())
    var c = 0
    var r = 0
    while (r < nr) {
      if (!xr.isNullAt(r) && !yr.isNullAt(r)) {
        c += RingCrossings.ringCount(x0, y0, xr.getArray(r), yr.getArray(r))
      }
      r += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (pxv, pyv, xssv, yssv) => {
      val nr = ctx.freshName("nr")
      val c = ctx.freshName("c")
      val r = ctx.freshName("r")
      s"""
         |final int $nr = java.lang.Math.min($xssv.numElements(), $yssv.numElements());
         |int $c = 0;
         |for (int $r = 0; $r < $nr; $r++) {
         |  if (!$xssv.isNullAt($r) && !$yssv.isNullAt($r)) {
         |    $c += graft.functions.RingCrossings.ringCount(
         |      $pxv, $pyv, $xssv.getArray($r), $yssv.getArray($r));
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): RingCrossings =
    RingCrossings(newFirst, newSecond, newThird, newFourth)
}

object RingCrossings {
  /** The single-ring loop, shared by interpreted eval and generated
    * code of BOTH [[RayCastCrossings]] and [[RingCrossings]] — one
    * kernel, so the arithmetic can never fork. A null COORDINATE is corrupt
    * geometry and fails loudly (a vectorized-parquet null slot can
    * hold junk, so reading through it would silently bend the
    * polygon; the PqAdcScore posture). */
  def ringCount(x0: Double, y0: Double, xa: ArrayData, ya: ArrayData): Int = {
    val n = math.min(xa.numElements(), ya.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      if (xa.isNullAt(i) || ya.isNullAt(i) || xa.isNullAt(j) || ya.isNullAt(j)) {
        throw new IllegalArgumentException(
          s"ring_crossings: null vertex coordinate at index $i/$j")
      }
      val xi = xa.getDouble(i); val yi = ya.getDouble(i)
      val xj = xa.getDouble(j); val yj = ya.getDouble(j)
      if (((yi > y0) != (yj > y0)) && (x0 < (xj - xi) * (y0 - yi) / (yj - yi) + xi)) c += 1
      i += 1
    }
    c
  }
}
