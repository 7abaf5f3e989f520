package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis kernel for training-data pipelines (north star,
  * SURVEY §7.4): tokenization, quality scoring, language-ID heuristic,
  * and a deterministic rolling-hash fingerprint.
  *
  * Everything is built-in expressions / higher-order functions — no UDFs
  * — so per-document work stays inside whole-stage codegen and the only
  * shuffles are whatever aggregation the caller adds. Each function has
  * an exact ANSI-SQL twin (used by the DuckDB oracles) — the fingerprint
  * uses only integer arithmetic so engines agree bit-for-bit.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "[ \\t\\n\\x0B\\f\\r]+"))

  /** BPE-ish token count: letter runs, digit runs, single punctuation —
    * a cheap proxy for subword token budgeting at ingest time.
    *
    * The whitespace class is spelled OUT instead of `\s`: Java regex
    * (the engine) and RE2 (the DuckDB oracle) disagree on `\s`
    * membership — U+000B vertical tab is whitespace to Java but not to
    * RE2 — so a corpus containing such control chars would tokenize
    * differently cross-engine despite correct engine behavior. The
    * explicit class `[ \t\n\x0B\f\r]` is exactly Java's ASCII `\s`, so
    * engine results are UNCHANGED on any corpus while both regex
    * dialects now read identical semantics (TextAnalysisSpec pins the
    * control-char law). */
  val BpeishRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]"
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeishRe))

  /** Punctuation-to-character ratio (quality signal). */
  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[.,!?;:]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Stopword hit count over a fixed marker list. */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    words.map(w => regexp_count(text, lit(s"\\b$w\\b")))
      .reduce(_ + _)

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /** Language-ID n-gram/marker heuristic: count function-word hits per
    * language, CJK by codepoint class; argmax with a fixed tie order.
    * (A real pipeline would swap in fastText — the SHAPE is what
    * matters: pure per-row expressions, no shuffle, no UDF.) */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que"),
    "fr" -> Seq("le", "la", "et", "les"),
    "de" -> Seq("der", "und", "die", "nicht"))

  def langScores(text: Column): Seq[(String, Column)] =
    LangMarkers.map { case (lang, ws) => lang -> stopwordCount(text, ws) }

  def langId(text: Column): Column = {
    val cjk = regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]"))
    val scores = langScores(text)
    val best = scores.map(_._2).reduce(greatest(_, _))
    val pick = scores.foldLeft(None: Option[Column]) {
      case (acc, (lang, s)) =>
        val c = s === best && s > 0
        Some(acc.fold(when(c, lang))(_.when(c, lang)))
    }.get.otherwise("und")
    when(cjk > 0, "zh").otherwise(pick)
  }

  /** Deterministic rolling-hash document fingerprint:
    * fold over code points of `(acc*31 + ascii(c)) % 1000000007`, acc₀=0.
    * Integer-only → identical in any engine. The native codegen'd
    * [[graft.expressions.StringRollingHash]]: a tight primitive loop,
    * where [[fingerprintHof]] costs a per-character array element plus
    * two interpreted closure dispatches. */
  def fingerprint(text: Column): Column =
    call_function("graft_fingerprint", text)

  /** Built-in higher-order-function form of [[fingerprint]] — the
    * equivalence baseline the native expression is property-tested
    * against. */
  def fingerprintHof(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31 + x) % 1000000007L)

  /** ASCII casefold range of [[asciiLower]]. */
  val UpperAscii = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
  val LowerAsciiChars = "abcdefghijklmnopqrstuvwxyz"

  /** Dialect-free ASCII casefold — THE lowercase every cross-engine
    * text law uses (the explicit-whitespace-class convention of the
    * round-10 sweep, applied to casing). `lower()` is NOT
    * cross-engine-stable on unicode: Java (Spark) applies Unicode FULL
    * and context-sensitive casing — final sigma `ΙΣΟΣ → ισος`,
    * `İ (U+0130) → i + U+0307` (two code points) — while DuckDB's
    * utf8proc applies SIMPLE per-codepoint casing (`ισοσ`, bare `i`),
    * so any law that lowercases raw text diverges the moment a Greek
    * or Turkic document arrives (round-11 adversarial dimension 5:
    * 22 ops failed on exactly this). An [A-Z]-only fold is 1:1 per
    * code point in BOTH engines, and every token law downstream keeps
    * only `[a-z]+` runs (or hashes whole whitespace-split words), so an
    * ASCII-only fold is both sufficient and the only form with a
    * bit-identical cross-engine contract. The Spark side calls the
    * native byte fold `graft_ascii_lower`
    * ([[graft.expressions.AsciiLower]]); the oracles spell the same law
    * as `translate` over [[UpperAscii]] ([[asciiLowerSql]]). */
  def asciiLower(c: Column): Column = call_function("graft_ascii_lower", c)

  /** [[asciiLower]] as a DuckDB SQL fragment: `translate` over the
    * canonical alphabet, for the oracles. */
  def asciiLowerSql(expr: String): String =
    s"translate($expr, '$UpperAscii', '$LowerAsciiChars')"

  /** Word-shingle array: distinct k-word shingles of the lowercased,
    * whitespace-split text (MinHash / Jaccard input).
    *
    * Built from k array SLICES zipped row-level — NOT per-element
    * `element_at(words, i+j)` lambdas: interpreted higher-order
    * functions inline the whole `split()` subtree into every call, so
    * the element_at form re-splits the text ~k times PER SHINGLE
    * (O(words²) regex work per document; measured 15 s just to explode
    * sf0.1's shingles). Slices evaluate the split a constant number of
    * times per ROW, and the per-element work is one struct concat.
    */
  def wordShingles(text: Column, k: Int): Column = {
    val words = split(asciiLower(trim(text)), "[ \\t\\n\\x0B\\f\\r]+")
    val n = size(words)
    val zipped = arrays_zip(
      (0 until k).map(j => slice(words, lit(j + 1), n - (k - 1))): _*)
    array_distinct(
      when(n >= k,
        transform(zipped,
          s => concat_ws(" ", (0 until k).map(j => s.getField(j.toString)): _*)))
        .otherwise(array(concat_ws(" ", words))))
  }
}
