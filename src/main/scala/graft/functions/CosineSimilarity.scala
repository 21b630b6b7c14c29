package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst cosine similarity over two `array<float|double>`
  * columns (SURVEY.md §4) — the hot inner op of ANN search (K1/K2) and
  * embedding dedup (J5).
  *
  * Why an Expression and not a UDF / higher-order functions: a Scala
  * UDF boxes both arrays per row and is an optimizer black box; the
  * `zip_with`+`aggregate` composition ([[graft.operators.VectorOps]])
  * stays declarative but evaluates lambdas interpretively per element
  * and materializes the product array. This expression participates in
  * whole-stage codegen (`doGenCode`): one fused primitive-double loop,
  * no allocation, inlined into the enclosing generated stage.
  *
  * Accumulation order (three sequential folds over index order, double
  * precision) is EXACTLY the VectorOps/DuckDB order, so results are
  * bit-identical across all three implementations — swapping it into a
  * query cannot change a driver-oracle hash.
  *
  * Null semantics: null input → null; mismatched lengths → null
  * (mirrors `zip_with` padding to null). Null ELEMENTS contribute 0.0
  * to every sum in both eval paths (the [[QuantVecSum]] null-skip
  * convention; previously the interpreted path could NPE on a
  * generic-array null while codegen read a raw 0 slot).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double> arguments, " +
        s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    val n = aa.numElements()
    if (n != bb.numElements()) return null
    val aFloat = elemType(left) == FloatType
    val bFloat = elemType(right) == FloatType
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x =
        if (aa.isNullAt(i)) 0.0
        else if (aFloat) aa.getFloat(i).toDouble else aa.getDouble(i)
      val y =
        if (bb.isNullAt(i)) 0.0
        else if (bFloat) bb.getFloat(i).toDouble else bb.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val bGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double x = $a.isNullAt($i) ? 0.0 : (double) $a.$aGet($i);
         |    final double y = $b.isNullAt($i) ? 0.0 : (double) $b.$bGet($i);
         |    $dot += x * y; $na += x * x; $nb += y * y;
         |  }
         |  ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Column-API + SQL-registry surface for graft's native expressions. */
object GraftFunctions {

  /** Codegen'd cosine similarity (see [[CosineSimilarity]]). */
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd nearest-centroid assignment against an L2-normalized
    * codebook (see [[NearestCentroidIndex]]). Not SQL-registered: the
    * codebook is a driver-side matrix, not a SQL value. */
  def nearest_centroid(v: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroidIndex(ColumnBridge.expression(v), centroids))

  /** Codegen'd multi-table LSH sign-pattern buckets against a
    * driver-side plane matrix (see [[SignBuckets]]). Not
    * SQL-registered for the same reason as `nearest_centroid`. */
  def sign_buckets(v: Column, planes: Array[Array[Double]], nPlanes: Int): Column =
    ColumnBridge.column(SignBuckets(ColumnBridge.expression(v), planes, nPlanes))

  /** Codegen'd fixed-point k-means assignment against a driver-side
    * integer codebook (see [[QuantNearestCell]]). Not SQL-registered
    * for the same reason as `nearest_centroid`. */
  def quant_nearest_cell(v: Column, centroids: Array[Array[Long]], scale: Double): Column =
    ColumnBridge.column(QuantNearestCell(ColumnBridge.expression(v), centroids, scale))

  /** Codegen'd squared integer L2 distance to the nearest centroid
    * (see [[QuantNearestDist]]). */
  def quant_nearest_dist(v: Column, centroids: Array[Array[Long]], scale: Double): Column =
    ColumnBridge.column(QuantNearestDist(ColumnBridge.expression(v), centroids, scale))

  /** Mergeable elementwise quantized coordinate-sum aggregate (see
    * [[QuantVecSum]]) — the k-means centroid-update numerator. */
  def quant_vec_sum(v: Column, scale: Double): Column =
    ColumnBridge.column(
      QuantVecSum(ColumnBridge.expression(v), scale).toAggregateExpression())

  /** Mergeable elementwise min/max aggregate over a vector column
    * (see [[VecMinMax]]) — the stats pass of int8 scalar
    * quantization. */
  def vec_min_max(v: Column): Column =
    ColumnBridge.column(
      VecMinMax(ColumnBridge.expression(v)).toAggregateExpression())

  /** Codegen'd product-quantization encode against a driver-side
    * codebook (see [[PqEncode]]). Not SQL-registered for the same
    * reason as `nearest_centroid`. */
  def pq_encode(v: Column, codebook: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(v), codebook))

  /** Codegen'd asymmetric-distance PQ scoring (see [[PqAdcScore]]). */
  def pq_adc_score(codes: Column, dtab: Column): Column =
    ColumnBridge.column(PqAdcScore(
      ColumnBridge.expression(codes), ColumnBridge.expression(dtab)))

  /** Codegen'd even-odd ray-cast crossing count (see
    * [[RayCastCrossings]]). */
  def ray_cast_crossings(px: Column, py: Column, xs: Column, ys: Column): Column =
    ColumnBridge.column(RayCastCrossings(
      ColumnBridge.expression(px), ColumnBridge.expression(py),
      ColumnBridge.expression(xs), ColumnBridge.expression(ys)))

  /** Codegen'd multi-ring even-odd crossing total (see
    * [[RingCrossings]]) — polygons with holes / multipolygons as one
    * ring-set test. */
  def ring_crossings(px: Column, py: Column, xss: Column, yss: Column): Column =
    ColumnBridge.column(RingCrossings(
      ColumnBridge.expression(px), ColumnBridge.expression(py),
      ColumnBridge.expression(xss), ColumnBridge.expression(yss)))

  private def intLit(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT, got $other")
  }

  /** All native expressions, as SQL-registry entries: `cosine_sim(a,
    * b)`, `minhash_sig(shingles, n)`, `simhash64(tokens)`,
    * `shingle_hashes(tokens, n)` become callable from `spark.sql` /
    * `expr`. Count arguments must be literals (they fix the generated
    * code shape). */
  private val registry: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (c: Seq[Expression]) => CosineSimilarity(c(0), c(1))),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      (c: Seq[Expression]) => MinHashSignature(c(0), intLit(c(1), "minhash_sig"))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (c: Seq[Expression]) => SimHash64(c(0))),
    (FunctionIdentifier("simhash_md5"),
      new ExpressionInfo(classOf[SimHashMd5].getName, "simhash_md5"),
      (c: Seq[Expression]) => SimHashMd5(c(0))),
    (FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (c: Seq[Expression]) => ShingleHashes(c(0), intLit(c(1), "shingle_hashes"))),
    (FunctionIdentifier("max_multiplicity"),
      new ExpressionInfo(classOf[MaxMultiplicity].getName, "max_multiplicity"),
      (c: Seq[Expression]) => MaxMultiplicity(c(0))),
    (FunctionIdentifier("repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
      (c: Seq[Expression]) => RepetitionStats(c(0))),
    (FunctionIdentifier("string_ngrams"),
      new ExpressionInfo(classOf[StringNgrams].getName, "string_ngrams"),
      (c: Seq[Expression]) => StringNgrams(c(0), intLit(c(1), "string_ngrams"))),
    (FunctionIdentifier("ray_cast_crossings"),
      new ExpressionInfo(classOf[RayCastCrossings].getName, "ray_cast_crossings"),
      (c: Seq[Expression]) => RayCastCrossings(c(0), c(1), c(2), c(3))),
    (FunctionIdentifier("ring_crossings"),
      new ExpressionInfo(classOf[RingCrossings].getName, "ring_crossings"),
      (c: Seq[Expression]) => RingCrossings(c(0), c(1), c(2), c(3))),
    (FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHitters].getName, "heavy_hitters"),
      (c: Seq[Expression]) =>
        HeavyHitters(c(0), intLit(c(1), "heavy_hitters")).toAggregateExpression()))

  /** Imperative registration: makes every graft SQL function usable
    * from `spark.sql` / `expr` in an existing session. */
  def register(spark: SparkSession): Unit =
    registry.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  private[functions] def entries = registry
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` entry point —
  * the deployment-config path to the same registrations. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.entries.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    ext.injectQueryStagePrepRule(graft.plans.InPlace)
  }
}
