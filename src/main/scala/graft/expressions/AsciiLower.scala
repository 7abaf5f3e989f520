package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd ASCII casefold — the hot-path form of the engine's
  * dialect-free casing law ([[graft.functions.TextAnalysis.asciiLower]],
  * round 11: `lower()` is not cross-engine-stable on unicode, so every
  * text law folds exactly [A-Z]; the oracles spell it `translate`).
  *
  * The declarative form (`StringTranslate` with the 26+26 alphabet)
  * routes every code point of the corpus through a JVM hash-map lookup.
  * This expression exploits what the general translate cannot know:
  * the fold touches only single-byte code points, and UTF-8 multi-byte
  * lead/continuation bytes are ≥ 0x80 (negative as Java bytes) — so a
  * tight primitive byte loop (`b | 0x20` for 0x41..0x5A, copy
  * otherwise) is exact on arbitrary UTF-8 and runs at memory speed.
  * Preference order per SURVEY §2.9: built-in first, native
  * `Expression` where the built-in shape is the bottleneck (measured
  * round 11: the translate swap cost text ops 15-40% at sf0.1), UDF
  * never.
  *
  * Registered as the SQL function `graft_ascii_lower` by
  * [[graft.GraftExtensions]] and called directly by
  * [[graft.functions.TextAnalysis.asciiLower]]; the DuckDB oracles
  * spell the same law as `translate` over the canonical alphabet.
  * Equivalence with `translate` is property-tested over unicode inputs
  * (AsciiLowerSpec).
  */
case class AsciiLower(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_ascii_lower"

  override def nullSafeEval(input: Any): Any =
    AsciiLower.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.expressions.AsciiLower.fold($in);")

  override protected def withNewChildInternal(
      newChild: Expression): AsciiLower =
    copy(child = newChild)
}

object AsciiLower {
  /** Byte-level [A-Z] fold; allocation-free when no byte changes.
    *
    * MALFORMED UTF-8 takes the slow path: `StringTranslate` evaluates
    * through `toString`, which substitutes U+FFFD for invalid
    * sequences — the byte loop would instead copy the garbage bytes
    * verbatim, and the fold would then disagree with the `translate`
    * law on e.g. `cast(binary as string)` inputs. The
    * validity check is a single vectorizable scan; valid strings (all
    * engine-law inputs — parquet strings are validated on read) never
    * leave the fast path. */
  def fold(s: UTF8String): UTF8String = {
    if (!s.isValid) {
      val repaired = s.toString
      val sb = new java.lang.StringBuilder(repaired.length)
      var i = 0
      while (i < repaired.length) {
        val c = repaired.charAt(i)
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
        i += 1
      }
      return UTF8String.fromString(sb.toString)
    }
    val n = s.numBytes()
    var out: Array[Byte] = null
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 'A' && b <= 'Z') {
        if (out == null) {
          out = new Array[Byte](n)
          var j = 0
          while (j < i) { out(j) = s.getByte(j); j += 1 }
        }
        out(i) = (b | 0x20).toByte
      } else if (out != null) out(i) = b
      i += 1
    }
    if (out == null) s else UTF8String.fromBytes(out)
  }
}
