package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hashed character-n-gram feature buckets of a text column, as ONE
  * codegen'd kernel: the distinct (first-occurrence order) values of
  * `conv(substring(md5(substr(text, i, n)), 1, 8), 16, 10) % buckets`
  * over every n-code-point window, with the intercept bucket `buckets`
  * appended — BIT-IDENTICAL to the column-algebra formulation
  * HashExpressionsSpec's `charGramBucketsHof` (spec-held parity;
  * the DuckDB oracle replays that algebra, so the VALUES are pinned).
  *
  * Why an expression: the algebra pays, per window, a UTF8String
  * substring alloc, an md5 HEX-STRING materialization, a substring of
  * that, and a base-16 string parse — ~10× the cost of the md5 itself.
  * This kernel walks the code-point byte offsets once and feeds each
  * window's byte slice straight into a thread-local MessageDigest,
  * reading the bucket from the digest's first 4 bytes (== the first 8
  * hex chars parsed base-16). Guide §1.2 step 2: per-task work, after
  * the plan shape is already map-only. */
case class CharGramBuckets(child: Expression, buckets: Int, n: Int)
    extends UnaryExpression {

  require(buckets >= 1 && n >= 1, "char_gram_buckets: buckets, n >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "char_gram_buckets"

  override def nullSafeEval(input: Any): Any =
    CharGramBuckets.compute(input.asInstanceOf[UTF8String], buckets, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.CharGramBuckets$$.MODULE$$" +
        s".compute($t, $buckets, $n);")

  override protected def withNewChildInternal(newChild: Expression): CharGramBuckets =
    copy(child = newChild)
}

object CharGramBuckets {
  private val mdTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The kernel; also the word-token path's per-token hash (see
    * [[WordTokenBuckets]]). First 4 digest bytes as an unsigned 32-bit
    * value == conv(first 8 hex chars, 16, 10); both are the big-endian
    * reading of digest[0..3]. */
  private[functions] def bucketOf(
      md: MessageDigest, bytes: Array[Byte], from: Int, len: Int,
      buckets: Int): Int = {
    md.reset()
    md.update(bytes, from, len)
    val d = md.digest()
    val v = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL))
    (v % buckets).toInt
  }

  def compute(text: UTF8String, buckets: Int, n: Int): ArrayData = {
    val numChars = text.numChars()
    if (numChars < n) return UnsafeArrayData.fromPrimitiveArray(Array(buckets))
    val bytes = text.getBytes
    // byte offset of each code point (+ end sentinel)
    val offs = new Array[Int](numChars + 1)
    var i = 0; var o = 0
    while (i < numChars) {
      offs(i) = o
      o += UTF8String.numBytesForFirstByte(bytes(o))
      i += 1
    }
    offs(numChars) = bytes.length
    val md = mdTL.get()
    val wins = numChars - n + 1
    val seen = new Array[Boolean](buckets)
    val out = new Array[Int](math.min(wins, buckets) + 1)
    var k = 0
    var w = 0
    while (w < wins) {
      val from = offs(w)
      val b = bucketOf(md, bytes, from, offs(w + n) - from, buckets)
      if (!seen(b)) { seen(b) = true; out(k) = b; k += 1 }
      w += 1
    }
    out(k) = buckets
    k += 1
    UnsafeArrayData.fromPrimitiveArray(
      if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }

  def char_gram_buckets(text: Column, buckets: Int, n: Int): Column =
    ColumnBridge.column(
      CharGramBuckets(ColumnBridge.expression(text), buckets, n))

  def word_token_buckets(text: Column, buckets: Int): Column =
    ColumnBridge.column(
      WordTokenBuckets(ColumnBridge.expression(text), buckets))

  def ngram_buckets(text: Column, buckets: Int, n: Int): Column =
    ColumnBridge.column(
      NGramBuckets(ColumnBridge.expression(text), buckets, n))
}

/** Hashed word-N-GRAM feature buckets, one per window in order (NO
  * distinct) — the fused form of `transform(string_ngrams(split(text,
  * " "), n), g => conv(substring(md5(g), 1, 8), 16, 10) % buckets)`
  * (the DSIR gram stream, [[graft.operators.Importance.gramStream]]);
  * HashExpressionsSpec keeps that chain as its bit-equality reference.
  * Tokens are the split pieces exactly (empties kept); each gram
  * hashes the window's tokens joined by single spaces, streamed into
  * the digest without building the gram string. Texts with fewer than
  * n tokens yield an empty array. Null text stays null. */
case class NGramBuckets(child: Expression, buckets: Int, n: Int)
    extends UnaryExpression {

  require(buckets >= 1 && n >= 1, "ngram_buckets: buckets, n >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ngram_buckets"

  override def nullSafeEval(input: Any): Any =
    NGramBuckets.compute(input.asInstanceOf[UTF8String], buckets, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.NGramBuckets$$.MODULE$$" +
        s".compute($t, $buckets, $n);")

  override protected def withNewChildInternal(newChild: Expression): NGramBuckets =
    copy(child = newChild)
}

object NGramBuckets {
  private val mdTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  private val SPACE = Array[Byte](0x20)

  def compute(text: UTF8String, buckets: Int, n: Int): ArrayData = {
    val bytes = text.getBytes
    // token boundaries: starts(i) .. ends(i), split on the 0x20 byte
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) nTok += 1; i += 1 }
    if (nTok < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyIntArray)
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    var s = 0
    i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == 0x20) {
        starts(t) = s; ends(t) = i; t += 1; s = i + 1
      }
      i += 1
    }
    val md = mdTL.get()
    val wins = nTok - n + 1
    val out = new Array[Int](wins)
    var w = 0
    while (w < wins) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(SPACE)
        md.update(bytes, starts(w + j), ends(w + j) - starts(w + j))
        j += 1
      }
      val d = md.digest()
      val v = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL))
      out(w) = (v % buckets).toInt
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Hashed WORD-token feature buckets — the fused twin of
  * `array_distinct(transform(split(text, " "), tokenBucket)) ++
  * [buckets]` (the [[graft.operators.Classifier.featureFrame]] /
  * `scoreExpr` algebra; spec-held parity). Tokens are the `split`
  * pieces EXACTLY: boundaries at every 0x20 byte (a space never occurs
  * inside a multi-byte UTF-8 sequence), consecutive/leading/trailing
  * separators yield empty tokens just like Java's Pattern.split with
  * limit -1, and empty input is the single empty token. Null text
  * stays null (concat's null propagation in the algebra). */
case class WordTokenBuckets(child: Expression, buckets: Int)
    extends UnaryExpression {

  require(buckets >= 1, "word_token_buckets: buckets >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "word_token_buckets"

  override def nullSafeEval(input: Any): Any =
    WordTokenBuckets.compute(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.WordTokenBuckets$$.MODULE$$" +
        s".compute($t, $buckets);")

  override protected def withNewChildInternal(newChild: Expression): WordTokenBuckets =
    copy(child = newChild)
}

object WordTokenBuckets {
  private val mdTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  def compute(text: UTF8String, buckets: Int): ArrayData = {
    val bytes = text.getBytes
    val md = mdTL.get()
    val seen = new Array[Boolean](buckets)
    // tokens ≤ bytes.length + 1; distinct buckets ≤ buckets; +1 intercept
    val out = new Array[Int](math.min(bytes.length + 1, buckets) + 1)
    var k = 0
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == 0x20) {
        val b = CharGramBuckets.bucketOf(md, bytes, start, i - start, buckets)
        if (!seen(b)) { seen(b) = true; out(k) = b; k += 1 }
        start = i + 1
      }
      i += 1
    }
    out(k) = buckets
    k += 1
    UnsafeArrayData.fromPrimitiveArray(
      if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }
}
