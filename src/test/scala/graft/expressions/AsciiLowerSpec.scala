package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class AsciiLowerSpec extends SparkSpec {
  import spark.implicits._

  private def reference(s: String): String =
    s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)

  // strings biased toward the hostile surface: ASCII, case-sensitive
  // unicode (sigma, dotted I, sharp s), astral plane, combining marks,
  // zero-width chars
  private val hostile = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar.map(_.toString), Gen.const(" "),
    Gen.oneOf("Σ", "ς", "σ", "İ", "ı", "ß", "ẞ", "Ü", "文", "🎉", "𠀀",
      "\u0301", "\u200b", "\u200d", "\ufeff", "\u202e", "é", "É")))
    .map(_.mkString)

  test("byte fold == per-char reference on hostile unicode") {
    (0 until 500).foreach { i =>
      val s = hostile.pureApply(Gen.Parameters.default, Seed(42L + i))
      assert(AsciiLower.fold(UTF8String.fromString(s)).toString ===
        reference(s), s"input: ${s.map(_.toInt.toHexString)}")
    }
    // identity case allocates nothing and returns the same instance
    val u = UTF8String.fromString("already lower 文 🎉")
    assert(AsciiLower.fold(u) eq u)
  }

  test("malformed UTF-8 matches StringTranslate exactly (U+FFFD " +
    "substitution), so extensions-on == vanilla on garbage bytes") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, StringTranslate}
    val cases = Seq(
      Array[Byte]('A', 0xFF.toByte, 'Z'),
      Array[Byte](0xC3.toByte), // truncated 2-byte sequence
      Array[Byte]('Q', 0xED.toByte, 0xA0.toByte, 0x80.toByte), // surrogate
      Array[Byte](0x80.toByte, 'B')) // stray continuation
    cases.foreach { bs =>
      val s = UTF8String.fromBytes(bs)
      val want = StringTranslate(
        Literal(s, org.apache.spark.sql.types.StringType),
        Literal(UTF8String.fromString(
          graft.functions.TextAnalysis.UpperAscii)),
        Literal(UTF8String.fromString(
          graft.functions.TextAnalysis.LowerAsciiChars)))
        .eval(null).asInstanceOf[UTF8String]
      assert(AsciiLower.fold(s).toString === want.toString,
        s"bytes ${bs.map(b => f"$b%02x").mkString(" ")}")
    }
  }

  test("asciiLower plans as graft_ascii_lower with no translate") {
    // non-foldable source: a literal frame constant-folds away before
    // the plan can be inspected
    val docs = graft.Tables.documents(spark, sf001)
      .select(graft.functions.TextAnalysis.asciiLower($"text").as("lt"))
    val optimized = docs.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_ascii_lower"),
      s"asciiLower did not plan the native fold:\n$optimized")
    assert(!optimized.contains("translate("),
      s"asciiLower planned a translate:\n$optimized")
    val lit = Seq("MIXED Case", "ΙΣΟΣ İstanbul", "straße ẞ 🎉").toDF("text")
      .select(graft.functions.TextAnalysis.asciiLower($"text").as("lt"))
    assert(lit.as[String].collect().toSeq ===
      Seq("MIXED Case", "ΙΣΟΣ İstanbul", "straße ẞ 🎉").map(reference))
  }
}
