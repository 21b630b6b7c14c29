package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word n-grams of a token array as space-joined strings, natively
  * (SURVEY.md §2 Q5/Q6/Q10 tokenization step): one compiled pass
  * building `size − n + 1` grams in place.
  *
  * Why an expression: the composed form —
  * `transform(sequence(0, size−n), i → concat_ws(" ", slice(toks,
  * i+1, n)))` — is a CodegenFallback lambda per gram, each allocating
  * a `slice` copy of its window. Kept as CurationSpec's
  * `ngramsFromTokensHof`, the bit-equal reference for inputs with
  * ≥ n tokens.
  *
  * TOTAL on short inputs, unlike the HOF form: fewer than n tokens →
  * empty array (the composed `sequence(0, negative)` walks DESCENDING
  * and makes `slice` throw on index 0 — callers had to pre-filter).
  * Null elements are compacted away BEFORE windowing (the
  * filter-adjacency convention shared with [[ShingleHashes]] and
  * [[RepetitionStats]]): every emitted gram has exactly n tokens.
  * (The previous concat_ws-skip behavior emitted shortened strings
  * labeled as n-grams, diverging from the rest of the sketch family.)
  */
case class StringNgrams(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"string_ngrams: n must be >= 1, got $n")

  override def prettyName: String = "string_ngrams"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    StringNgrams.compute(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.StringNgrams.compute($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): StringNgrams =
    copy(child = newChild)
}

object StringNgrams {

  private val space = UTF8String.fromString(" ")

  /** Called from generated code. */
  def compute(toks: ArrayData, n: Int): GenericArrayData = {
    val total = toks.numElements()
    // compact null tokens first (filter-adjacency parity)
    val kept = new Array[UTF8String](total)
    var m = 0
    var i = 0
    while (i < total) {
      val t = toks.getUTF8String(i) // null-checked accessor on every ArrayData
      if (t != null) { kept(m) = t; m += 1 }
      i += 1
    }
    val count = math.max(m - n + 1, 0)
    val out = new Array[AnyRef](count)
    val window = new Array[UTF8String](n)
    i = 0
    while (i < count) {
      var j = 0
      while (j < n) { window(j) = kept(i + j); j += 1 }
      out(i) = UTF8String.concatWs(space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
