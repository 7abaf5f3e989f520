package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class UriEncodeSpec extends SparkSpec {
  import spark.implicits._

  /** encodeURIComponent reference via URLEncoder + the documented
    * fixups (MDN: URLEncoder form-encodes space/!/'/(/)/~, which
    * encodeURIComponent keeps). */
  private def reference(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
      .replace("+", "%20")
      .replace("%21", "!").replace("%27", "'")
      .replace("%28", "(").replace("%29", ")")
      .replace("%7E", "~")

  private val hostile = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar.map(_.toString), Gen.const(" "), Gen.const("-"),
    Gen.oneOf("#", "/", "%", ":", "?", "&", "=", "+", ",", "\"", "'",
      "!", "~", "*", "(", ")", ".", "_", "\t", "\n", "\r",
      "Ü", "ï", "ø", "é", "文", "🎉", "𠀀", "́", "​")))
    .map(_.mkString)

  test("native encode == encodeURIComponent reference on hostile strings") {
    (0 until 500).foreach { i =>
      val s = hostile.pureApply(Gen.Parameters.default, Seed(1300L + i))
      assert(UriEncode.encode(UTF8String.fromString(s)).toString ===
        reference(s), s"input: ${s.map(_.toInt.toHexString).mkString(",")}")
    }
    // unreserved-only input returns the same instance (no allocation)
    val u = UTF8String.fromString("already-safe_slug.v1~(x)!'*")
    assert(UriEncode.encode(u) eq u)
    assert(UriEncode.encode(UTF8String.fromString("")).toString === "")
  }

  test("native encode on NULL, '', non-ASCII and emoji") {
    val inputs = Seq("plain-slug", "a b#c/d%e'f!g~h(i)j*k:l",
      ", \"quoted,-comma\"", "Ünïcødé-part", "tab\there", "emoji 🎉", "",
      null)
    val native = inputs.toDF("s")
      .select(call_function("graft_uri_encode", col("s")))
      .as[String].collect().toSeq
    assert(native === inputs.map(s => if (s == null) null else reference(s)))
  }

  test("feed link law: reserved characters in the slug percent-encode") {
    // the adversarial part names carry quotes/commas/tabs — the r12
    // verdict's F15 gap was exactly this law missing from the link
    val row = Seq(("bad slug", ", \"quoted,-comma\"")).toDF("t", "slug")
      .select(concat(lit("https://shop.example/products/"),
        call_function("graft_uri_encode", col("slug"))).as("link"))
      .as[String].head()
    assert(row === "https://shop.example/products/%2C%20%22quoted%2C-comma%22")
  }
}
