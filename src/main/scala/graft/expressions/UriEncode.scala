package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd URI-component percent-encoding — the reference's
  * `encodeURIComponent` law (exportGoogleMerchantFeed.mjs:117) as a
  * byte loop over UTF-8: bytes in the ECMAScript unreserved set
  * `A-Z a-z 0-9 - _ . ! ~ * ' ( )` copy through, every other byte
  * (including each byte of a multi-byte code point) emits `%XX` with
  * uppercase hex. This is deliberately NOT Spark's built-in
  * `url_encode` (java.net.URLEncoder: form encoding — space becomes
  * `+`, `!~'()` are escaped), because the cross-engine law replayed by
  * the DuckDB oracle and the reference's feed URLs are both RFC-3986 /
  * encodeURIComponent shaped.
  *
  * Works byte-wise, so it is exact on arbitrary valid UTF-8 with no
  * decode step; malformed UTF-8 routes through `toString` (U+FFFD
  * substitution) like [[AsciiLower.fold]], so garbage bytes encode as
  * the replacement character's UTF-8.
  */
case class UriEncode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_uri_encode"

  override def nullSafeEval(input: Any): Any =
    UriEncode.encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.expressions.UriEncode.encode($in);")

  override protected def withNewChildInternal(
      newChild: Expression): UriEncode =
    copy(child = newChild)
}

object UriEncode {
  private val Hex = "0123456789ABCDEF".getBytes

  /** encodeURIComponent's unreserved set (ECMA-262 §21.1.3.4). */
  private def safe(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
      (b >= '0' && b <= '9') ||
      b == '-' || b == '_' || b == '.' || b == '!' || b == '~' ||
      b == '*' || b == '\'' || b == '(' || b == ')'

  def encode(s: UTF8String): UTF8String = {
    val bytes =
      if (s.isValid) {
        val n = s.numBytes()
        val a = new Array[Byte](n)
        var i = 0
        while (i < n) { a(i) = s.getByte(i); i += 1 }
        a
      } else s.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // allocation-free identity when every byte is unreserved
    var unsafeCount = 0
    var i = 0
    while (i < bytes.length) {
      if (!safe(bytes(i))) unsafeCount += 1
      i += 1
    }
    if (unsafeCount == 0 && s.isValid) return s
    val out = new Array[Byte](bytes.length + 2 * unsafeCount)
    var o = 0
    i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (safe(b)) { out(o) = b; o += 1 }
      else {
        out(o) = '%'
        out(o + 1) = Hex((b >> 4) & 0xF)
        out(o + 2) = Hex(b & 0xF)
        o += 3
      }
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}
