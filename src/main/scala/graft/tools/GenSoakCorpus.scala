package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev harness (not part of the engine surface): generate the 10×
  * soak corpus — 50k documents + 200k parts at /tmp/graft_soak_sf1 —
  * extending the driver testdata's measured structure one scale step
  * so the decade soak ([[SoakRegistry]], via [[GenScaleTwin]]) can
  * measure growth exponents across a second 10× population step
  * (PERF.md). Deterministic (seed 42).
  *
  * Measured structure reproduced from sf0.1 (see PERF.md round-5):
  *  - documents: 31-word vocabulary, 10-100 words/doc (uniform), langs
  *    {en 41%, zh/es/fr ~15%, de 14%}, 20 uniform sources; ~5.1% of
  *    docs belong to a planted near-dup pair (twin = base doc + one
  *    appended word, same (lang, source) block → shingle J ≈ 0.99 at
  *    the corpus' typical lengths), plus ~0.16% exact duplicates.
  *  - part: 2-word names (8 adjectives × 8 nouns = 64 distinct names,
  *    saturated vocabulary), 25 brands uniform.
  *
  * `runMain graft.tools.GenSoakCorpus [<outDir>]`
  */
object GenSoakCorpus {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_soak_sf1")
    // optional scale overrides + the `entities` flag:
    //   runMain graft.tools.GenSoakCorpus <out> [nDocs nParts nVecs] [entities]
    // `entities` plants rare-entity phrases: each entity is a unique
    // 2-token phrase shared by 2-5 docs, inserted at a random position —
    // the open-vocabulary long tail a real corpus has and the closed
    // 31-word template lacks. This is what populates containment's
    // df∈[2,ContainDfCap] blocking band REALISTICALLY: the band grows
    // linearly with docs (each cohort brings its own entities) instead
    // of riding the template vocabulary's saturation transient, so the
    // measured candidate exponent reflects blocking, not band fill-in.
    // `skewlang` (r11 verdict #7): production corpora are Zipf over
    // languages, not the uniform-ish 5-language mix — one language at
    // 90%, a mid tail (zh/es/fr/de, ~5%), and a LONG SINGLETON tail
    // (~5% of docs each minting a fresh language used once, modulo
    // twin copies). This stresses the per-language machinery the
    // uniform soak cannot: the per-lang tercile window gets one giant
    // partition plus ~N/20 one-row partitions, and the ppl/lang-id
    // model stores get hundreds of thousands of tiny languages.
    val posArgs = args.drop(1)
      .filterNot(a => a == "entities" || a == "skewlang")
    val withEntities = args.contains("entities")
    val skewLang = args.contains("skewlang")
    val nDocsArg = posArgs.lift(0).map(_.toInt).getOrElse(50000)
    val nPartsArg = posArgs.lift(1).map(_.toInt).getOrElse(200000)
    val nVecsArg = posArgs.lift(2).map(_.toInt).getOrElse(20000)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val rnd = new java.util.Random(42)
    val vocab = Seq("spark", "line", "column", "order", "small", "sort",
      "fast", "value", "scan", "batch", "part", "query", "agg", "table",
      "hash", "key", "group", "merge", "join", "filter", "stream", "big",
      "slow", "vector", "customer", "the", "a", "index", "cache", "shard",
      "page")
    val langs = Seq("en", "zh", "es", "fr", "de")
    val langCum = Seq(0.41, 0.56, 0.71, 0.86, 1.0)
    var tailLangId = 0L
    def pickLang(): String =
      if (skewLang) {
        val x = rnd.nextDouble()
        if (x < 0.90) "en"
        else if (x < 0.95) langs(1 + rnd.nextInt(4))
        else { tailLangId += 1; s"tl$tailLangId" } // singleton language
      } else {
        val x = rnd.nextDouble()
        langs(langCum.indexWhere(x <= _))
      }

    val nDocs = nDocsArg
    val twinFrac = 0.051 // fraction of docs that are a planted twin
    val exactFrac = 0.0016
    // rare-entity machinery (only when `entities`): a queue of pending
    // uses — when empty, mint entity e with a 2-5 doc budget
    val entFrac = 0.3
    var entId = 0L
    var entPending = 0
    var entCurrent = ""
    var entLang = ""
    var entSrc = ""
    def entityUse(): (String, String, String) = {
      if (entPending == 0) {
        // THREE tokens: the middle 3-word shingle of the phrase is
        // fully entity-internal, so its document frequency is exactly
        // this entity's doc budget (2-5) — a df∈[2,5] blocking shingle
        // BY CONSTRUCTION, growing linearly with docs. (A 2-token
        // phrase plants none: every 3-shingle containing entity tokens
        // also contains doc-specific context, df=1 — measured round 7.)
        // The entity PINS its (lang, source): containment's blocking is
        // per (lang, source), and same-entity docs sharing a source is
        // the realistic shape (re-crawls of one domain).
        entCurrent = s"ent$entId id$entId tag$entId"
        entPending = 2 + rnd.nextInt(4) // 2..5 docs share this entity
        entLang = pickLang()
        entSrc = s"src${rnd.nextInt(20)}"
        entId += 1
      }
      entPending -= 1
      (entCurrent, entLang, entSrc)
    }
    val docs = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Int)]
    var id = 0L
    while (docs.length < nDocs) {
      val n = 10 + rnd.nextInt(91)
      val baseWords = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
      val (words, lang, src) =
        if (withEntities && rnd.nextDouble() < entFrac) {
          val (phrase, el, es) = entityUse()
          val at = rnd.nextInt(baseWords.length + 1)
          (baseWords.take(at) ++ phrase.split(" ") ++ baseWords.drop(at),
            el, es)
        } else (baseWords, pickLang(), s"src${rnd.nextInt(20)}")
      val text = words.mkString(" ")
      docs += ((id, text, lang, src, text.length)); id += 1
      if (docs.length < nDocs) {
        val roll = rnd.nextDouble()
        if (roll < exactFrac) {
          docs += ((id, text, lang, src, text.length)); id += 1
        } else if (roll < exactFrac + twinFrac) {
          val twin = text + " " + vocab(rnd.nextInt(vocab.length))
          docs += ((id, twin, lang, src, twin.length)); id += 1
        }
      }
    }
    docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(4).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val adjs = Seq("large", "hot", "blue", "red", "small", "dark",
      "light", "cold")
    val nouns = Seq("ring", "bolt", "screw", "nut", "washer", "plate",
      "rod", "gear")
    val types = Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO")
    val nParts = nPartsArg
    val parts = (0 until nParts).map { k =>
      (k.toLong,
        adjs(rnd.nextInt(adjs.length)) + " " + nouns(rnd.nextInt(nouns.length)),
        s"Brand#${1 + rnd.nextInt(25)}",
        types(rnd.nextInt(types.length)),
        1 + rnd.nextInt(50),
        900.0 + (k % 1000) / 10.0)
    }
    parts.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .coalesce(4).write.mode("overwrite").parquet(s"$out/part.parquet")

    // embeddings, one 10× step past sf0.1 (2000 → 20000): measured
    // structure is random UNIT vectors (within- and cross-label cosine
    // distributions are indistinguishable — E[cos]≈0, sd≈1/8, near-dup
    // pairs are the upper tail), labels uniform over 10, 64 dims float.
    val nVecs = nVecsArg
    val dim = 64
    val vecs = (0 until nVecs).map { k =>
      val arr = Array.fill(dim)(rnd.nextGaussian())
      val nrm = math.sqrt(arr.map(x => x * x).sum)
      (k.toLong, arr.map(x => (x / nrm).toFloat).toSeq, rnd.nextInt(10).toLong)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(4).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"[gen] wrote $nDocs docs + $nParts parts + $nVecs vecs to $out")
    spark.stop()
  }
}
