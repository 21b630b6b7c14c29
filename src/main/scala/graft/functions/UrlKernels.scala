package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the URL canonicalization chain
  * ([[graft.operators.Html.urlNormalize]] / `urlResolve`) — LINE-FOR-
  * LINE transcriptions of the column algebra those functions held
  * through round 14 (now kept as HtmlSpec's `urlNormalizeHof` /
  * `urlResolveHof`, the bit-equal references its fuzz test pins).
  *
  * Why kernels: the algebra evaluates ~10 separate `regexp_extract`s
  * per URL — several near-identical patterns re-matching the same
  * string for different groups — plus two higher-order `aggregate`
  * folds (percent-normalization, dot-segment removal) that run off the
  * codegen path with per-element regex and allocation churn
  * (guide §1.2 step 2, §4.1: prefer codegen-resident expressions).
  * The kernels run each pattern once (fused multi-group matches where
  * the algebra matched the same structure repeatedly), replace the
  * folds with byte/segment loops, and keep Java-regex semantics
  * IDENTICAL by executing the very same pattern strings with
  * `find()`/`replaceAll` exactly where the algebra did. Case folds go
  * through `UTF8String.toUpperCase`/`toLowerCase` — the functions
  * `upper`/`lower` call — so non-ASCII behavior matches bit for bit.
  */
object UrlKernels {

  // --- shared pattern objects (compiled once per JVM) ---------------
  private val FragP = Pattern.compile("(?s)#.*")
  private val PrefixP = Pattern.compile("^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)(.*)")
  private val Port80P = Pattern.compile("^(http://[^/:]*):80$")
  private val Port443P = Pattern.compile("^(https://[^/:]*):443$")
  private val WwwP = Pattern.compile("^(https?://)www\\.")
  // kept as THREE separate patterns (not fused): the port pattern's
  // "(.*)$" can fail alone on a host containing a newline while the
  // scheme/host patterns still match — a fused match would change the
  // algebra's behavior on such (adversarial) inputs
  private val SchemeP = Pattern.compile("^([a-z][a-z0-9+.-]*://)")
  private val HostP = Pattern.compile("^[a-z][a-z0-9+.-]*://([^:/]*)")
  private val PortP = Pattern.compile("^[a-z][a-z0-9+.-]*://[^:/]*(.*)$")
  private val AsciiP = Pattern.compile("^[\\x00-\\x7F]*$")
  private val HexP = Pattern.compile("^[0-9A-F]{2}$")
  // base decomposition: scheme, authority, path, optional query — the
  // same greedy structure the four separate extracts matched
  private val BaseP = Pattern.compile(
    "^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?.*")
  private val RPathP = Pattern.compile("^([^?#]*).*")
  private val RTailP = Pattern.compile("^[^?#]*(.*)$")
  private val HasSchemeP = Pattern.compile("^[a-zA-Z][a-zA-Z0-9+.-]*:")
  private val LastSegP = Pattern.compile("[^/]*$")
  private val RSchemeP = Pattern.compile(
    "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)([^?#]*).*")

  private def lower(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString
  private def upper(s: String): String =
    UTF8String.fromString(s).toUpperCase.toString

  /** RFC 3986 §2.3/§6.2.2 percent normalization — the pctNormalize
    * fold as a loop. Split on '%' (limit -1), first part verbatim;
    * each later part: first two CODE POINTS uppercased must be hex,
    * else the '%' passes through with the part untouched; unreserved
    * octets decode, others keep the uppercased escape. */
  private[functions] def pctNormalize(s: String): String = {
    val parts = s.split("%", -1)
    if (parts.length == 1) return s
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(parts(0))
    var i = 1
    while (i < parts.length) {
      val p = parts(i)
      // first two code points (the algebra's p.substr(1, 2))
      val cpEnd =
        if (p.isEmpty) 0
        else if (p.codePointCount(0, p.length) >= 2)
          p.offsetByCodePoints(0, 2)
        else p.length
      val hexU = upper(p.substring(0, cpEnd))
      if (!HexP.matcher(hexU).find()) sb.append('%').append(p)
      else {
        // matched ⇒ two ASCII hex chars ⇒ tail starts at char 2
        val code = Integer.parseInt(hexU, 16)
        val tail = p.substring(2)
        val unreserved =
          (code >= 0x41 && code <= 0x5A) || (code >= 0x61 && code <= 0x7A) ||
            (code >= 0x30 && code <= 0x39) ||
            code == 0x2D || code == 0x2E || code == 0x5F || code == 0x7E
        if (unreserved) sb.append(code.toChar).append(tail)
        else sb.append('%').append(hexU).append(tail)
      }
      i += 1
    }
    sb.toString
  }

  /** RFC 3986 §5.2.4 remove_dot_segments — the fold as a loop. */
  private[functions] def removeDotSegments(p: String): String = {
    val segs = p.split("/", -1)
    val acc = new java.util.ArrayList[String](segs.length)
    var i = 0
    while (i < segs.length) {
      val s = segs(i)
      if (s == ".") ()
      else if (s == "..") { if (acc.size > 1) acc.remove(acc.size - 1) }
      else acc.add(s)
      i += 1
    }
    val last = segs(segs.length - 1)
    if (last == "." || last == "..") acc.add("")
    String.join("/", acc)
  }

  /** [[graft.operators.Html.urlNormalize]] — kernel form. */
  def normalize(url: UTF8String): UTF8String = {
    if (url == null) return null
    val trimmed = url.trim().toString
    val noFrag = FragP.matcher(trimmed).replaceAll("")
    val pm = PrefixP.matcher(noFrag)
    if (!pm.find()) return UTF8String.fromString(trimmed) // prefix === ""
    val prefix = lower(pm.group(1))
    val rest = pctNormalize(if (pm.group(2) == null) "" else pm.group(2))
    val noPort = Port443P.matcher(
      Port80P.matcher(prefix).replaceAll("$1")).replaceAll("$1")
    val noWww = WwwP.matcher(noPort).replaceFirst("$1")
    val scm = SchemeP.matcher(noWww)
    val scheme = if (scm.find()) scm.group(1) else ""
    val hm = HostP.matcher(noWww)
    val hostPart = if (hm.find()) hm.group(1) else ""
    val pm2 = PortP.matcher(noWww)
    val portPart =
      if (pm2.find() && pm2.group(1) != null) pm2.group(1) else ""
    val asciiHost =
      if (AsciiP.matcher(hostPart).find()) hostPart
      else IdnAscii.toAscii(UTF8String.fromString(hostPart)).toString
    val canon = scheme + asciiHost + portPart +
      (if (rest.isEmpty) "/" else rest)
    UTF8String.fromString(canon)
  }

  /** [[graft.operators.Html.urlResolve]] — kernel form. */
  def resolve(base: UTF8String, ref: UTF8String): UTF8String = {
    if (base == null || ref == null) return null
    val b = base.trim().toString
    val r = ref.trim().toString
    val bm = BaseP.matcher(b)
    if (!bm.find()) return UTF8String.fromString(r) // bScheme === ""
    val bScheme = bm.group(1)
    val bAuth = if (bm.group(2) == null) "" else bm.group(2)
    val bPath = if (bm.group(3) == null) "" else bm.group(3)
    val bQuery = if (bm.group(4) == null) "" else bm.group(4)
    val prefix = lower(bScheme) + "://" + bAuth
    val rpm = RPathP.matcher(r)
    val rPath = if (rpm.find()) rpm.group(1) else ""
    val rtm = RTailP.matcher(r)
    val rTail = if (rtm.find() && rtm.group(1) != null) rtm.group(1) else ""
    val out =
      if (r.isEmpty) prefix + bPath + bQuery
      else if (r.startsWith("#")) prefix + bPath + bQuery + r
      else if (HasSchemeP.matcher(r).find()) {
        val rsm = RSchemeP.matcher(r)
        if (rsm.find() && rsm.group(1) != "")
          rsm.group(1) + removeDotSegments(
            if (rsm.group(2) == null) "" else rsm.group(2)) + rTail
        else r // non-hierarchical (mailto:, javascript:)
      }
      else if (r.startsWith("//")) {
        // "^(//[^/?#]*).*" and "^//[^/?#]*([^?#]*).*" in one walk
        var i = 2
        while (i < r.length && r.charAt(i) != '/' && r.charAt(i) != '?' &&
          r.charAt(i) != '#') i += 1
        val auth = r.substring(0, i)
        var j = i
        while (j < r.length && r.charAt(j) != '?' && r.charAt(j) != '#') j += 1
        lower(bScheme) + ":" + auth + removeDotSegments(r.substring(i, j)) + rTail
      }
      else if (r.startsWith("/")) prefix + removeDotSegments(rPath) + rTail
      else if (r.startsWith("?")) prefix + bPath + r
      else {
        val baseDir =
          if (bPath.isEmpty) "/"
          else LastSegP.matcher(bPath).replaceAll("")
        prefix + removeDotSegments(baseDir + rPath) + rTail
      }
    UTF8String.fromString(out)
  }

  def url_normalize(url: Column): Column =
    ColumnBridge.column(UrlNormalizeExpr(ColumnBridge.expression(url)))

  def url_resolve(base: Column, ref: Column): Column =
    ColumnBridge.column(
      UrlResolveExpr(ColumnBridge.expression(base), ColumnBridge.expression(ref)))
}

case class UrlNormalizeExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "url_normalize"
  override protected def nullSafeEval(input: Any): Any =
    UrlKernels.normalize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UrlKernels$$.MODULE$$.normalize($c)")
  override protected def withNewChildInternal(newChild: Expression): UrlNormalizeExpr =
    copy(child = newChild)
}

case class UrlResolveExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = StringType
  override def prettyName: String = "url_resolve"
  override protected def nullSafeEval(base: Any, ref: Any): Any =
    UrlKernels.resolve(base.asInstanceOf[UTF8String], ref.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, r) =>
      s"graft.functions.UrlKernels$$.MODULE$$.resolve($b, $r)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UrlResolveExpr =
    copy(left = newLeft, right = newRight)
}
