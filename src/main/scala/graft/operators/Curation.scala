package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextAnalysis._

/** Training-data curation (north-star extension, SURVEY §7.4): the
  * selection/cleaning stages that sit between ingest and dedup in a
  * large-scale pipeline — deterministic sampling, leakage-safe
  * splitting, PII scrubbing, and repetition filtering (the Gopher-style
  * quality gates of Rae et al. 2021; the C4 pipeline of Raffel et al.
  * 2020 is the same shape).
  *
  * Everything is map-only per-row expression work — zero UDFs, zero
  * shuffles except where a corpus statistic is genuinely global (one
  * scalar aggregate, broadcast back). Selection is keyed on
  * deterministic integer hashes (multiplicative for ids, the rolling
  * fingerprint for strings) so (a) re-runs select the SAME rows — a
  * pipeline restart or a second team member reproduces the corpus
  * bit-for-bit, and (b) the DuckDB oracles replay the hash arithmetic
  * exactly.
  */
object Curation {

  /** The benchmark split: docs with doc_id ≡ 0 (mod 29) play the fixed
    * eval suite in both decontamination ops (the oracle SQL inlines the
    * literal — it IS the contract; this constant exists so the
    * streaming twin cannot drift from it). */
  private[graft] val BenchSplitMod = 29

  private val gram8Cache = new SessionCache.Cache[DataFrame]

  /** Exploded 8-word decontamination shingles with the bench flag —
    * session-cached ([[graft.operators.Dedup.shingleRows]] convention):
    * [[decontaminate]] and [[cleanCorpus]] (which embeds it) both pay
    * this tokenize+explode, and the streaming gate broadcasts its
    * bench slice. Parity with fresh construction is spec-pinned. */
  private[graft] def gramRows8(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    gram8Cache.getOrBuild(spark, dir, "documents.parquet")(
      buildGramRows8(spark, dir).localCheckpoint())

  private[graft] def buildGramRows8(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"),
      (col("doc_id") % BenchSplitMod === 0).as("is_bench"),
      explode(wordShingles(col("text"), 8)).as("g8"))

  /** Deterministic bucket in [0,100) from an id: Knuth multiplicative
    * hash, pre-reduced so the product stays within int64 for ANY id. */
  private def idBucket(id: org.apache.spark.sql.Column) =
    ((id % 1000000007L) * 2654435761L) % 1000000007L % 100L

  private val idBucketSql =
    "(((doc_id % 1000000007) * 2654435761) % 1000000007) % 100"

  /** Stratified deterministic sampling: downsample the dominant
    * language (en → 10%), keep half of everything else — the standard
    * rebalancing pass before training-mix assembly. Hash-gated, not
    * `TABLESAMPLE`: the kept set is a pure function of doc_id, so it is
    * stable across runs, executors, and engines (rerunning at 100 TB
    * after a node loss re-selects identical rows; no RNG state to
    * coordinate). Map-only — the gate rides into the parquet scan as a
    * pushable-shaped predicate, no shuffle at all. */
  val stratifiedSample: Op = Op(
    "q_stratified_sample",
    s"""SELECT doc_id, lang, $idBucketSql AS bucket
       |FROM documents
       |WHERE $idBucketSql < CASE WHEN lang = 'en' THEN 10 ELSE 50 END"""
      .stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
    val bucket = idBucket(col("doc_id"))
    d.filter(bucket < when(col("lang") === "en", 10L).otherwise(50L))
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
  }

  /** Per-class sample size for [[balancedSample]]. */
  val BalancedK = 50

  /** Class-balanced deterministic subsample: exactly k docs per
    * language, chosen by hash lottery — the rebalancing pass that gives
    * a low-resource language the same weight as English in an eval set
    * or a seed corpus. The lottery ticket is the full-resolution
    * multiplicative hash of doc_id (not [[idBucket]]'s percent — ties
    * would make rank k ambiguous), ordered (lot, doc_id) so rank is
    * total and engine-identical.
    *
    * Two-phase at scale: ranking n docs per class to keep k would
    * shuffle and sort the whole corpus on `lang` (and the big-class
    * partitions are exactly the skewed ones). Instead each class's
    * exact count (one map-combinable aggregate, broadcast back) derives
    * a lot threshold at 4k/n — a 4× overselection — so the rank window
    * runs over ~4k survivors per class, not n. The survivor gate is a
    * map-side filter. Shortfall needs the class's k-th smallest lot to
    * exceed 4× its uniform expectation: probability e^-Θ(k) under the
    * hash's spread, and deterministic + engine-identical if it ever
    * happened (both engines replay the same arithmetic — the oracle
    * cannot diverge; the spec pins exactly-k on the corpus). */
  val balancedSample: Op = Op(
    "q_balanced_sample",
    s"""WITH h AS (
       |  SELECT doc_id, lang,
       |    ((doc_id % 1000000007) * 2654435761) % 1000000007 AS lot
       |  FROM documents
       |), c AS (
       |  SELECT lang, COUNT(*) AS n FROM h GROUP BY 1
       |), f AS (
       |  SELECT h.doc_id, h.lang, h.lot FROM h JOIN c USING (lang)
       |  WHERE h.lot < LEAST(1000000007, ${4L * BalancedK * 1000000007L} // c.n)
       |)
       |SELECT doc_id, lang, lot, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
       |    ORDER BY lot, doc_id) AS rk
       |  FROM f) WHERE rk <= $BalancedK""".stripMargin) { (spark, dir) =>
    balancedSampleOf(Tables.documents(spark, dir), BalancedK)
  }

  /** [[balancedSample]] kernel over any (doc_id, lang) frame, k per
    * class. Kept parametric so the spec can exercise the overselect
    * gate on a class LARGER than 4k (the corpus's classes at spec SF
    * are all under it, which would leave the gate untested). */
  def balancedSampleOf(docs: org.apache.spark.sql.DataFrame, k: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = docs.select(col("doc_id"), col("lang"),
      idLot(col("doc_id")).as("lot"))
    val counts = h.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    h.join(broadcast(counts), Seq("lang"))
      .filter(col("lot") < least(lit(1000000007L),
        expr(s"${4L * k * 1000000007L} div n")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("lot"), col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("lot"), col("rk"))
  }

  /** Full-resolution deterministic lottery ticket from an id (the
    * un-bucketed form of [[idBucket]]). */
  def idLot(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((id % 1000000007L) * 2654435761L) % 1000000007L

  /** Leakage-safe train/test split: the split key is the SOURCE (think
    * web domain), not the document — near-duplicates cluster within a
    * source, so splitting per-document would leak eval text into
    * training. All docs of a source land on one side, chosen by the
    * rolling-hash fingerprint of the source name (deterministic, engine-
    * exact) mod 10 → ~10% of sources become test. Map-only per row. */
  val trainTestSplit: Op = Op(
    "q_train_test_split",
    """SELECT doc_id, source,
      |  CASE WHEN list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(coalesce(source, ''), ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) % 10 = 0
      |  THEN 'test' ELSE 'train' END AS split
      |FROM documents""".stripMargin) { (spark, dir) =>
    // NULL source splits as the empty string — spelled with coalesce
    // on BOTH sides (Spark's fingerprint(NULL) is NULL → 'train' while
    // DuckDB's list_prepend over a NULL list folds to 0 → 'test';
    // adversarial dim 7 caught the divergence, r12)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        when(fingerprint(coalesce(col("source"), lit(""))) % 10 === 0,
          "test").otherwise("train").as("split"))
  }

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** PII scrub: redact email addresses and (toll-free-test-prefix)
    * phone numbers to typed placeholders, counting hits per doc. The
    * corpus is synthetic and carries no PII, so the op plants
    * DETERMINISTIC decoys first (doc_id-derived email on every 7th doc,
    * a 555 number on every 11th) — the same injection runs in the
    * oracle, so the scrub kernel is what's actually under test, down to
    * byte-exact output (the fingerprint of the scrubbed text is part of
    * the contract). Both regexes are shared Java/RE2 syntax. Map-only. */
  val piiScrub: Op = Op(
    "q_pii_scrub",
    s"""SELECT doc_id,
       |  len(regexp_extract_all(aug, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(aug, '$PhoneRe')) AS n_phones,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(
       |        regexp_replace(regexp_replace(aug, '$EmailRe', '<EMAIL>', 'g'),
       |          '$PhoneRe', '<PHONE>', 'g'), ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS scrubbed_fp
       |FROM (
       |  SELECT doc_id,
       |    text
       |      || CASE WHEN doc_id % 7 = 0
       |           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |           ELSE '' END
       |      || CASE WHEN doc_id % 11 = 0 THEN ' call 555-0134' ELSE '' END
       |      AS aug
       |  FROM documents)""".stripMargin) { (spark, dir) =>
    val aug = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(""),
      when(col("doc_id") % 11 === 0, " call 555-0134").otherwise(""))
    val scrubbed = regexp_replace(
      regexp_replace(col("aug"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
    Tables.documents(spark, dir)
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        regexp_count(col("aug"), lit(EmailRe)).as("n_emails"),
        regexp_count(col("aug"), lit(PhoneRe)).as("n_phones"),
        fingerprint(scrubbed).as("scrubbed_fp"))
  }

  /** Repetition gate (Rae et al. 2021 §A1.1 "repetition" filters):
    * fraction of duplicate word 3-grams per doc; docs above 20% fail.
    * Degenerate boilerplate ("buy now buy now buy now …") scores near 1
    * and is dropped before it poisons dedup statistics. Pure per-row
    * array work inside codegen; short docs (<3 words) have no 3-grams
    * and pass with ratio 0 by contract in both engines. */
  val repetitionGate: Op = Op(
    "q_repetition",
    """SELECT doc_id, n_3grams, n_distinct_3grams,
      |  CASE WHEN n_3grams > 0
      |    THEN CAST(n_3grams - n_distinct_3grams AS DOUBLE)
      |         / CAST(n_3grams AS DOUBLE)
      |    ELSE CAST(0 AS DOUBLE) END AS dup_ratio,
      |  CASE WHEN n_3grams > 0
      |    THEN CAST(n_3grams - n_distinct_3grams AS DOUBLE)
      |         / CAST(n_3grams AS DOUBLE) <= 0.2
      |    ELSE TRUE END AS rep_pass
      |FROM (
      |  SELECT doc_id,
      |    greatest(len(l) - 2, 0) AS n_3grams,
      |    CASE WHEN len(l) >= 3
      |      THEN len(list_distinct(list_transform(range(len(l) - 2),
      |             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])))
      |      ELSE 0 END AS n_distinct_3grams
      |  FROM (SELECT doc_id,
      |          string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\x0B\f\r]+') AS l
      |        FROM documents))""".stripMargin) { (spark, dir) =>
    val nWords = size(split(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+"))
    val total = greatest(nWords - 2, lit(0)).cast("long")
    val distinct3 = when(nWords >= 3,
      size(wordShingles(col("text"), 3)).cast("long")).otherwise(0L)
    val ratio = when(total > 0,
      (total - distinct3).cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
    Tables.documents(spark, dir)
      .select(col("doc_id"), total.as("n_3grams"),
        distinct3.as("n_distinct_3grams"), ratio.as("dup_ratio"),
        when(total > 0, ratio <= 0.2).otherwise(lit(true)).as("rep_pass"))
  }

  /** Training-mix assembly: rebalance the corpus to a UNIFORM token
    * share per source by giving every doc a deterministic copy count
    * (epochs) — the mixture-weighting pass that turns a curated corpus
    * into a training mix (The Pile / Gopher assign per-source epoch
    * factors exactly like this). factor_s = target_tokens/actual_tokens
    * per source; each doc emits floor(factor) copies plus one more when
    * its id-hash bucket falls under the fractional part — so expected
    * emitted tokens hit the target while every decision is a pure
    * function of doc_id (re-runs and engines agree bit-for-bit; no RNG
    * state to coordinate across 1000 executors).
    *
    * Scale shape: ONE per-source token aggregate (map-side partial,
    * #sources rows); the corpus total and source count derive from that
    * tiny frame via an unpartitioned window (20 rows, not a second
    * corpus scan), and the factors broadcast back over the emission
    * scan — so the corpus is read exactly twice (factor pass + emit
    * pass), each map-only.
    * Float care: the factor is (exact int)/(exact int) double divisions
    * in a pinned order, and the fractional-part comparison is
    * double-vs-double — deterministic in both engines, no cross-row
    * float summation anywhere. */
  val mixAssembly: Op = Op(
    "q_mix_assembly",
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS n_tokens
       |  FROM documents
       |), s AS (
       |  SELECT source, SUM(n_tokens) AS src_tokens FROM d GROUP BY source
       |), f AS (
       |  SELECT source,
       |         (CAST(SUM(src_tokens) OVER () AS DOUBLE)
       |            / CAST(COUNT(*) OVER () AS DOUBLE))
       |           / CAST(src_tokens AS DOUBLE) AS factor
       |  FROM s
       |)
       |SELECT d.doc_id, d.source, d.n_tokens, f.factor,
       |       CAST(floor(f.factor) AS BIGINT)
       |         + CASE WHEN CAST($idBucketSql AS DOUBLE)
       |                     < (f.factor - floor(f.factor)) * 100
       |                THEN 1 ELSE 0 END AS n_copies
       |FROM d JOIN f ON d.source = f.source""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        bpeishTokenCount(col("text")).as("n_tokens"))
    val bySrc = d.groupBy(col("source")).agg(sum(col("n_tokens")).as("src_tokens"))
    // corpus totals as a window over the #sources-row aggregate — NOT a
    // second corpus aggregate: the 100 TB scan happens once for the
    // factor branch, and the "move everything to one partition" window
    // warning applies to 20 rows
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val factors = bySrc
      .select(col("source"),
        ((sum(col("src_tokens")).over(wAll).cast("double")
          / count(lit(1)).over(wAll).cast("double"))
          / col("src_tokens").cast("double")).as("factor"))
    val frac = col("factor") - floor(col("factor")).cast("double")
    d.join(broadcast(factors), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("factor"),
        (floor(col("factor")) +
          when(idBucket(col("doc_id")).cast("double") < frac * 100, 1L)
            .otherwise(0L)).as("n_copies"))
  }

  /** Benchmark-contamination check (the decontamination pass every
    * training pipeline runs before a model ships — e.g. GPT-3 §C /
    * PaLM §C-style 8-gram overlap): flag train docs sharing any word
    * 8-gram with the benchmark/eval set. The benchmark side here is the
    * deterministic doc_id % 29 slice (synthetic stand-in for a fixed
    * eval suite); output = contaminated train docs with how many
    * distinct 8-grams and how many distinct benchmark docs they hit.
    *
    * Scale shape: the benchmark suite is FIXED and small (MBs of eval
    * text vs 100 TB of train), so its exploded 8-grams broadcast — the
    * train side is one map-only scan + broadcast hash join; the only
    * shuffle is the per-doc aggregate over MATCHED rows (∝ contamination
    * found, not corpus size). Short docs (<8 words) degrade to a
    * whole-text gram in both engines, so exact short-dup contamination
    * still registers. */
  val decontaminate: Op = Op(
    "q_decontaminate",
    """WITH d AS (
      |  SELECT doc_id, doc_id % 29 = 0 AS is_bench,
      |         string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\x0B\f\r]+') AS w
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, is_bench,
      |         CASE WHEN len(w) >= 8
      |              THEN list_distinct(list_transform(range(1, len(w)-6),
      |                     i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
      |                          w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]))
      |              ELSE [array_to_string(w, ' ')] END AS gr
      |  FROM d
      |), be AS (
      |  SELECT doc_id AS bench_doc_id, unnest(gr) AS g8 FROM g WHERE is_bench
      |), tr AS (
      |  SELECT doc_id, unnest(gr) AS g8 FROM g WHERE NOT is_bench
      |)
      |SELECT tr.doc_id AS doc_id,
      |       COUNT(DISTINCT tr.g8) AS n_shared_ngrams,
      |       COUNT(DISTINCT be.bench_doc_id) AS n_bench_docs
      |FROM tr JOIN be ON tr.g8 = be.g8
      |GROUP BY tr.doc_id""".stripMargin) { (spark, dir) =>
    val grams = gramRows8(spark, dir)
    val bench = grams.filter(col("is_bench"))
      .select(col("doc_id").as("bench_doc_id"), col("g8"))
    val train = grams.filter(!col("is_bench"))
      .select(col("doc_id"), col("g8"))
    train.join(broadcast(bench), Seq("g8"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g8")).as("n_shared_ngrams"),
        countDistinct(col("bench_doc_id")).as("n_bench_docs"))
  }

  /** Probability-proportional-to-size (PPS) Poisson sampling with
    * Horvitz–Thompson weights: each doc's inclusion probability scales
    * with its token count (clamped to [5%, 95%]), the kept row carries
    * `ht_weight` = 1/p so any downstream SUM(x · ht_weight) is an
    * unbiased estimate of the full-corpus total — the survey-sampling
    * identity that lets a 10% token-weighted sample answer corpus-level
    * questions. Deterministic like [[stratifiedSample]]: the coin is
    * the doc_id hash bucket, not an RNG, so re-runs and engines agree
    * bit-for-bit. Map-only; the gate is a pushable-shaped predicate.
    * The ht_weight division is ONE IEEE double op from exact integers —
    * engine-identical. */
  val weightedSample: Op = Op(
    "q_weighted_sample",
    s"""WITH w AS (
       |  SELECT doc_id, lang,
       |    LEAST(95, GREATEST(5,
       |      len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) // 4)) AS keep_pct
       |  FROM documents
       |)
       |SELECT doc_id, lang, keep_pct,
       |  CAST(100 AS DOUBLE) / keep_pct AS ht_weight
       |FROM w
       |WHERE $idBucketSql < keep_pct""".stripMargin) { (spark, dir) =>
    val keepPct = least(lit(95L), greatest(lit(5L),
      floor(wsTokenCount(col("text")) / 4).cast("long")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), keepPct.as("keep_pct"))
      .filter(idBucket(col("doc_id")) < col("keep_pct"))
      .withColumn("ht_weight", lit(100.0) / col("keep_pct"))
  }

  /** Fuzzy benchmark decontamination: train docs NEAR-duplicate (3-word
    * shingle Jaccard ≥ 0.5) to any benchmark-slice doc — the
    * contamination that exact 8-gram overlap ([[decontaminate]]) can
    * miss once an eval item is lightly paraphrased, whitespace-mangled,
    * or truncated (the n-gram train–test overlap analyses of GPT-3,
    * Brown et al. 2020 §4, motivate exactly this fuzzy widening).
    *
    * Scale shape: MinHash signatures for BOTH sides are map-only over
    * shingle rows (k compiled MIN aggregates — same kernel as
    * `q_minhash_lsh`); the benchmark side is a small fixed eval suite
    * (~3% here, a few thousand docs in production), so its banded
    * buckets BROADCAST and the candidate join never shuffles the train
    * corpus — the only train-scaled work is the map-side signature
    * pass. Candidates verify exactly, so output carries no false
    * positives. Oracle = exact all-cross-pairs Jaccard; banded recall
    * on this corpus is exactly 1 (deterministic xxhash64 signatures;
    * every near-dup pair sits at J≥0.9 where 8×4 banding cannot miss —
    * same measured contract as `q_minhash_lsh`, cross-set subset). */
  val decontaminateFuzzy: Op = Op(
    "q_decontaminate_fuzzy",
    s"""WITH ${Dedup.shingleCtes}, pairs AS (
       |  SELECT t.doc_id AS doc_id, b.doc_id AS bench_doc_id,
       |         len(list_intersect(t.sh, b.sh)) AS i,
       |         len(t.sh) + len(b.sh) - len(list_intersect(t.sh, b.sh)) AS u
       |  FROM sh t JOIN sh b
       |    ON t.doc_id % 29 <> 0 AND b.doc_id % 29 = 0
       |)
       |SELECT doc_id, bench_doc_id,
       |       CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
       |FROM pairs
       |WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.5""".stripMargin) {
    (spark, dir) =>
      val bare = Dedup.shingleRows(spark, dir).select(col("doc_id"), col("s"))
      val isBench = col("doc_id") % 29 === 0
      // k=32 minhash signature, 8 bands × 4 rows — the q_minhash_lsh kernel
      val bands = 8
      val rowsPerBand = 4
      val ex = bare.select(col("doc_id"), xxhash64(col("s")).as("h"))
      val mins = (0 until bands * rowsPerBand)
        .map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
      val bandCols = (0 until bands).map { bnd =>
        struct(lit(bnd).as("band"),
          xxhash64(lit(bnd) +: (0 until rowsPerBand)
            .map(r => col(s"m${bnd * rowsPerBand + r}")): _*).as("bucket"))
      }
      val banded = ex.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
        .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))
      val sizes = bare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val cand = banded.filter(!isBench)
        .select(col("band"), col("bucket"), col("doc_id").as("doc_id_a"))
        .join(broadcast(banded.filter(isBench)
            .select(col("band"), col("bucket"), col("doc_id").as("doc_id_b"))),
          Seq("band", "bucket"))
        .select("doc_id_a", "doc_id_b").distinct()
        .join(sizes.select(col("doc_id").as("doc_id_a"), col("n_sh").as("n_a")),
          Seq("doc_id_a"))
        .join(sizes.select(col("doc_id").as("doc_id_b"), col("n_sh").as("n_b")),
          Seq("doc_id_b"))
      Dedup.verifyExact(cand, Dedup.shingleArrays(spark, dir), Seq.empty)
        .select(col("doc_id_a").as("doc_id"),
          col("doc_id_b").as("bench_doc_id"), col("jaccard"))
  }

  /** Clean-corpus oracle, split for reuse: the CTE chain (shared with
    * the learned-scorer capstone `q_clean_corpus_scored`) … */
  private[graft] val cleanCorpusCtesSql: String =
    s"""WITH RECURSIVE ${Dedup.jaccardPairCtes()},
       |np AS (
       |  SELECT doc_id_a, doc_id_b FROM pairs
       |  WHERE CAST(i AS DOUBLE)/CAST(u AS DOUBLE) >= 0.5
       |), edges AS (
       |  SELECT doc_id_a AS src, doc_id_b AS dst FROM np
       |  UNION ALL SELECT doc_id_b, doc_id_a FROM np
       |), reach AS (
       |  SELECT src AS node, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
       |), losers AS (
       |  SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> MIN(lbl)
       |), toks AS (
       |  SELECT doc_id,
       |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS n_tokens
       |  FROM documents
       |), q AS (
       |  SELECT doc_id,
       |         n_tokens >= (SELECT quantile_cont(n_tokens, 0.25) FROM toks) AS quality_pass
       |  FROM toks
       |), repx AS (
       |  SELECT doc_id,
       |    CASE WHEN n_3grams > 0
       |      THEN CAST(n_3grams - n_distinct_3grams AS DOUBLE)
       |           / CAST(n_3grams AS DOUBLE) <= 0.2
       |      ELSE TRUE END AS rep_pass
       |  FROM (
       |    SELECT doc_id, greatest(len(l) - 2, 0) AS n_3grams,
       |      CASE WHEN len(l) >= 3
       |        THEN len(list_distinct(list_transform(range(len(l) - 2),
       |               i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])))
       |        ELSE 0 END AS n_distinct_3grams
       |    FROM (SELECT doc_id,
       |            string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0B\\f\\r]+') AS l
       |          FROM documents))
       |), gset AS (
       |  SELECT doc_id, doc_id % 29 = 0 AS is_bench,
       |         CASE WHEN len(w) >= 8
       |              THEN list_distinct(list_transform(range(1, len(w)-6),
       |                     i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
       |                          w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]))
       |              ELSE [array_to_string(w, ' ')] END AS gr
       |  FROM d
       |), cont AS (
       |  SELECT DISTINCT tr.doc_id FROM
       |    (SELECT doc_id, unnest(gr) AS g8 FROM gset WHERE NOT is_bench) tr
       |    JOIN (SELECT DISTINCT unnest(gr) AS g8 FROM gset WHERE is_bench) be
       |      ON tr.g8 = be.g8
       |)""".stripMargin

  /** … and the final per-doc gate SELECT. */
  private[graft] val cleanCorpusSelectSql: String =
    """SELECT q.doc_id, q.quality_pass, repx.rep_pass,
      |       q.doc_id IN (SELECT doc_id FROM losers) AS is_dup_loser,
      |       q.doc_id IN (SELECT doc_id FROM cont) AS is_contaminated,
      |       q.quality_pass AND repx.rep_pass
      |         AND q.doc_id NOT IN (SELECT doc_id FROM losers)
      |         AND q.doc_id NOT IN (SELECT doc_id FROM cont) AS kept
      |FROM q JOIN repx ON q.doc_id = repx.doc_id""".stripMargin

  /** The curation capstone — what actually survives the pipeline: every
    * doc flagged by all four independent gates (corpus-relative quality,
    * repetition, near-dup cluster LOSER — the canonical member stays —
    * and benchmark contamination), `kept` = passes all. This is the
    * query a pipeline owner runs before shipping a corpus; it composes
    * the other registered ops' kernels verbatim (the cluster and
    * contamination branches reuse their op builders), and the oracle
    * re-derives all four flags in one recursive-CTE SQL sharing the
    * SAME word-split CTE across the Jaccard and 8-gram branches.
    * Benchmark-slice docs themselves are never 'contaminated' (they ARE
    * the eval set — a real pipeline would exclude them by the split,
    * not this flag). The LEARNED fifth gate is optional and registered
    * separately ([[QualityModel.cleanCorpusScored]]). */
  val cleanCorpus: Op = Op(
    "q_clean_corpus",
    cleanCorpusCtesSql + "\n" + cleanCorpusSelectSql) { (spark, dir) =>
    // quality tokens + repetition ratio in ONE map pass over the text,
    // via the SHARED session-cached metrics frame (the same fused pass
    // the pipeline capstone rides — whoever runs first pays the
    // tokenizer/shingle regexes once per session and corpus)
    val perDoc = pipelineDocMetricsCached(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("rep_pass"))
    val thr = perDoc.agg(expr("percentile(n_tokens, 0.25)").as("p25"))
    // cluster labels come from the INCREMENTAL assembly (standing
    // persisted labels + delta fold — `q_dedup_incr_cc`'s builder, whose
    // oracle proves it ≡ the full recompute), not a fresh corpus-wide
    // CC: at 100 TB the capstone reads yesterday's labels and pays only
    // the delta-sized quotient per run (round-7 task 8)
    val losers = GraphOps.dupClustersIncremental.build(spark, dir)
      .filter(!col("is_canonical"))
      .select(col("doc_id"), lit(true).as("loser"))
    val contaminated = decontaminate.build(spark, dir)
      .select(col("doc_id"), lit(true).as("cont"))
    perDoc.crossJoin(broadcast(thr))
      .select(col("doc_id"), (col("n_tokens") >= col("p25")).as("quality_pass"),
        col("rep_pass"))
      .join(losers, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality_pass"), col("rep_pass"),
        coalesce(col("loser"), lit(false)).as("is_dup_loser"),
        coalesce(col("cont"), lit(false)).as("is_contaminated"),
        (col("quality_pass") && col("rep_pass") &&
          !coalesce(col("loser"), lit(false)) &&
          !coalesce(col("cont"), lit(false))).as("kept"))
  }

  /** Corpus-relative quality gate: keep docs at or above the corpus
    * 25th percentile of BPE-ish token count — thresholds in a real
    * pipeline are set against the corpus distribution, not constants.
    * One global scalar aggregate (map-side partial → single exact
    * percentile), broadcast back over the scan as a literal-shaped
    * filter; everything else is map-only. At 100 TB the exact
    * percentile becomes `approx_percentile` (q_approx_quantile's
    * pinned-bound sketch) with the identical plan shape. */
  val qualityGate: Op = Op(
    "q_quality_gate",
    """SELECT doc_id, n_tokens, p25
      |FROM (SELECT doc_id,
      |        len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]')) AS n_tokens
      |      FROM documents),
      |     (SELECT quantile_cont(
      |        len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]')), 0.25) AS p25
      |      FROM documents)
      |WHERE n_tokens >= p25""".stripMargin) { (spark, dir) =>
    // materialize the (doc_id, n_tokens) projection ONCE: it feeds both
    // the percentile aggregate and the filter pass, and the lazy form
    // re-runs the tokenizing regex over the full text corpus for each —
    // the regex IS this op's cost. Two longs per doc, far below the
    // corpus; same lineage trade as triangle counting.
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), bpeishTokenCount(col("text")).as("n_tokens"))
      .localCheckpoint()
    val thr = d.agg(
      expr("percentile(n_tokens, 0.25)").as("p25"))
    d.crossJoin(broadcast(thr))
      .filter(col("n_tokens") >= col("p25"))
      .select(col("doc_id"), col("n_tokens"), col("p25"))
  }

  /** Budget for one packed training sequence, in BPE-ish tokens. */
  val PackBudget = 512L

  /** Deterministic sequence packing: assign whole documents to
    * fixed-budget context windows — the pass between chunking and
    * batch assembly in a training pipeline. True greedy bin packing is
    * sequential; the distributed-deterministic version packs by
    * PREFIX SUM: within a source, docs in doc_id order go to pack
    * `floor(preceding_tokens / budget)`, so a pack may overflow by at
    * most one document and every engine/run agrees on the assignment
    * (all-integer arithmetic).
    *
    * Scale shape: one window cumsum per source partition (the shuffle
    * key is `source`, so 100 TB spreads across sources) and a final
    * map-only division — no joins, no global sort. */
  val packSequences: Op = Op(
    "q_pack_sequences",
    """WITH d AS (
      |  SELECT doc_id, source,
      |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]')) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, source, n_tokens,
      |         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           - n_tokens AS preceding_tokens
      |  FROM d
      |)
      |SELECT doc_id, source, n_tokens,
      |       CAST(preceding_tokens // 512 AS BIGINT) AS pack_id
      |FROM c""".stripMargin) { (spark, dir) =>
    packByPrefixSum(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        bpeishTokenCount(col("text")).cast("long").as("n_tokens")),
      PackBudget)
  }

  /** Packing-efficiency telemetry over [[packSequences]]' assignment —
    * the padding-waste report a training team reads before burning
    * compute: per source the pack count, the fill rate (permille of
    * the token budget actually used — the remainder is padding the
    * GPUs attend over), and the overflow tail (prefix-sum packing lets
    * a pack overflow by at most ONE document; the count and the max
    * measure how often and how far). All integer arithmetic over the
    * pack assignment ⇒ hash-exact; two metadata-sized aggregates after
    * the shared packing kernel. */
  val packStats: Op = Op(
    "q_pack_stats",
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           - n_tokens AS preceding_tokens
       |  FROM d
       |), p AS (
       |  SELECT source,
       |         CAST(preceding_tokens // $PackBudget AS BIGINT) AS pack_id,
       |         n_tokens
       |  FROM c
       |), g AS (
       |  SELECT source, pack_id,
       |         CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       |         CAST(COUNT(*) AS BIGINT) AS pack_docs
       |  FROM p GROUP BY source, pack_id
       |)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_packs,
       |  CAST(SUM(pack_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(pack_tokens) AS BIGINT) AS sum_tokens,
       |  (1000 * CAST(SUM(pack_tokens) AS BIGINT))
       |    // (COUNT(*) * $PackBudget) AS fill_permille,
       |  CAST(SUM(CASE WHEN pack_tokens > $PackBudget THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_overflow,
       |  CAST(MAX(pack_tokens) AS BIGINT) AS max_pack_tokens
       |FROM g GROUP BY source""".stripMargin) { (spark, dir) =>
    packByPrefixSum(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        bpeishTokenCount(col("text")).cast("long").as("n_tokens")),
      PackBudget)
      .groupBy(col("source"), col("pack_id"))
      .agg(sum(col("n_tokens")).as("pack_tokens"),
        count(lit(1)).as("pack_docs"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("pack_docs")).as("n_docs"),
        sum(col("pack_tokens")).as("sum_tokens"),
        sum(when(col("pack_tokens") > PackBudget, 1L).otherwise(0L))
          .as("n_overflow"),
        max(col("pack_tokens")).as("max_pack_tokens"))
      .select(col("source"), col("n_packs"), col("n_docs"),
        col("sum_tokens"),
        expr(s"(1000 * sum_tokens) div (n_packs * $PackBudget)")
          .as("fill_permille"),
        col("n_overflow"), col("max_pack_tokens"))
  }

  /** Temperature-flattened source mixing, α = 1/2 — the multilingual /
    * multi-source rebalancing rule of mC4 and XLM-R (sample source i
    * with probability ∝ pᵢ^α): where [[mixAssembly]] equalizes token
    * share outright (the α → 0 limit), this compresses shares toward
    * uniform while keeping their order, so low-resource sources are
    * upweighted without drowning the head.
    *
    * Engine-portable arithmetic: the per-source weight is the INTEGER
    * floor(sqrt(src_tokens)·1000) — summing doubles across sources
    * would make Σw order-dependent, summing BIGINTs is exact, and the
    * ×1000 scale keeps the truncation ~1e-5 relative so near-equal
    * sources still compress strictly — and the factor
    * qᵢ/pᵢ = (wᵢ·T)/(Σw·tᵢ) is two exact-int products and one IEEE
    * division, identical in both engines. Fractional copies resolve by
    * the same deterministic id-hash lottery as [[mixAssembly]]. One
    * corpus scan; factors live on a #sources-row aggregate and
    * broadcast back. */
  val temperatureMix: Op = Op(
    "q_temperature_mix",
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS n_tokens
       |  FROM documents
       |), s AS (
       |  SELECT source, SUM(n_tokens) AS src_tokens FROM d GROUP BY source
       |), w AS (
       |  SELECT source, src_tokens,
       |         CAST(floor(sqrt(CAST(src_tokens AS DOUBLE)) * 1000) AS BIGINT) AS wgt
       |  FROM s
       |), f AS (
       |  SELECT source,
       |         (CAST(wgt AS DOUBLE) * CAST(SUM(src_tokens) OVER () AS DOUBLE))
       |           / (CAST(SUM(wgt) OVER () AS DOUBLE) * CAST(src_tokens AS DOUBLE)) AS factor
       |  FROM w
       |)
       |SELECT d.doc_id, d.source, d.n_tokens, f.factor,
       |       CAST(floor(f.factor) AS BIGINT)
       |         + CASE WHEN CAST($idBucketSql AS DOUBLE)
       |                     < (f.factor - floor(f.factor)) * 100
       |                THEN 1 ELSE 0 END AS n_copies
       |FROM d JOIN f ON d.source = f.source""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        bpeishTokenCount(col("text")).as("n_tokens"))
    val bySrc = d.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
      .withColumn("wgt",
        floor(sqrt(col("src_tokens").cast("double")) * 1000).cast("long"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val factors = bySrc.select(col("source"),
      ((col("wgt").cast("double") *
        sum(col("src_tokens")).over(wAll).cast("double"))
        / (sum(col("wgt")).over(wAll).cast("double")
          * col("src_tokens").cast("double"))).as("factor"))
    val frac = col("factor") - floor(col("factor")).cast("double")
    d.join(broadcast(factors), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("factor"),
        (floor(col("factor")) +
          when(idBucket(col("doc_id")).cast("double") < frac * 100, 1L)
            .otherwise(0L)).as("n_copies"))
  }

  /** Pack-bucket width: doc_id ranges of 1024 split each source's
    * running sum into parallel segments (same device as
    * [[ShuffleBucketShift]]; at 100 TB the shift is chosen so one
    * bucket's rows fit an executor while the offsets frame stays
    * metadata-sized). */
  val PackBucketShift = 10

  /** [[packSequences]] kernel over (doc_id, source, n_tokens) rows —
    * the distributed prefix sum: a plain per-source running-sum window
    * funnels each source through ONE partition (a corpus has few
    * sources, so at 100 TB that is a handful of partitions doing all
    * the work). Two-level form instead: doc_id range buckets (monotone
    * in the order key) → per-(source, bucket) token sums (tiny,
    * map-combinable) → broadcast prefix-sum offsets → per-bucket local
    * running sum + offset. Identical to the single-window result —
    * [[packSequences]]' oracle IS that single-window SQL, so the
    * hash-exact row proves the decomposition. */
  def packByPrefixSum(d: org.apache.spark.sql.DataFrame, budget: Long)
      : org.apache.spark.sql.DataFrame =
    precedingBySource(d, "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"preceding_tokens div $budget").as("pack_id"))

  /** The prefix sum itself over any (`ord`, source, n_tokens) frame —
    * shared by the whole-doc packer, the incremental packer (which
    * adds a persisted base offset before dividing) and the
    * chunk-granularity packer (whose order key packs (doc_id,
    * chunk_idx)). Returns the input plus `preceding_tokens`. */
  def precedingBySource(d: org.apache.spark.sql.DataFrame, ord: String,
      shift: Int = PackBucketShift)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = d.withColumn("bucket",
      shiftright(col(ord), shift))
    val counts = keyed.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_tokens")).as("bn"))
    val wOff = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select(col("source"), col("bucket"), col("off"))
    val wLocal = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col(ord)).rowsBetween(Window.unboundedPreceding, 0)
    // null-safe source equality: a USING-columns join would silently
    // DROP null-source rows (NULL = NULL is never true) while the
    // oracle's PARTITION BY keeps them as one group — dimension 7 of
    // the adversarial sweep caught exactly this across the whole
    // packing family (r12)
    val o = offsets.withColumnRenamed("source", "src_o")
      .withColumnRenamed("bucket", "bucket_o")
    keyed.join(broadcast(o),
        col("source") <=> col("src_o") && col("bucket") === col("bucket_o"))
      .withColumn("preceding_tokens",
        col("off") + sum(col("n_tokens")).over(wLocal) - col("n_tokens"))
      .drop("bucket", "off", "src_o", "bucket_o")
  }

  /** Epochs materialized by [[epochShuffle]] (fixed so the oracle can
    * unroll nothing — epochs are data, not loop state). */
  val EpochCount = 2

  /** Fixed global-batch size of [[epochShuffle]]'s batch assignment. */
  val ShuffleBatch = 256

  /** Per-epoch dense-rank bucket width: hash keys are < 2³¹, so
    * `hk >> 21` yields 1024 uniform range buckets — the parallelism of
    * the position-assignment stage (at 100 TB the shift shrinks so a
    * bucket's rows fit one executor; the offsets table stays
    * metadata-sized). */
  val ShuffleBucketShift = 21

  /** Deterministic epoch shuffling — the training-data ORDERING stage:
    * every pretraining pipeline materializes, per epoch, a reshuffled
    * permutation of the kept corpus and cuts it into fixed-size global
    * batches; doing it as data (epoch, pos, batch) is what makes a run
    * resumable and bit-reproducible across restarts and team members.
    * Order key is a portable integer LCG mix of (doc_id, epoch) —
    * `(doc_id·1103515245 + 12345 + epoch·2654435761) mod 2³¹`, exact
    * BIGINT arithmetic in both engines (no xxhash in DuckDB; the
    * documented production swap is xxhash64 with the same plan shape).
    * Valid for doc_id < ~8.3e9 — far past any fixture — and
    * epoch-salted so epochs are DIFFERENT permutations.
    *
    * Scale shape — the distributed dense rank: the naive form (one
    * row_number window per epoch) funnels the whole corpus through ONE
    * partition per epoch. Instead: (1) hash keys split into 1024
    * ordered range buckets (`hk >> 21` — monotone in hk, uniform
    * because hk is a hash, no sampling pass needed); (2) per-(epoch,
    * bucket) counts — map-combinable, metadata-sized result; (3)
    * bucket offsets by prefix sum over that tiny frame, broadcast
    * back; (4) position = offset + row_number within (epoch, bucket) —
    * a window whose partitions are buckets, parallel across all of
    * them. Global order equals the single-window order exactly
    * (buckets are range-ordered; equal keys share a bucket) — the
    * oracle IS the single-window form, so the hash-exact row proves
    * the bucketed construction. */
  val epochShuffle: Op = Op(
    "q_epoch_shuffle",
    s"""WITH e AS (
       |  SELECT doc_id, t.epoch,
       |         (doc_id * 1103515245 + 12345 + t.epoch * 2654435761)
       |           % 2147483648 AS hk
       |  FROM documents
       |  CROSS JOIN (SELECT unnest(range(0, $EpochCount)) AS epoch) t
       |), p AS (
       |  SELECT epoch, doc_id,
       |         row_number() OVER (PARTITION BY epoch ORDER BY hk, doc_id)
       |           AS pos
       |  FROM e
       |)
       |SELECT epoch, doc_id, CAST(pos AS BIGINT) AS pos,
       |       CAST((pos - 1) // $ShuffleBatch AS BIGINT) AS batch_id,
       |       CAST((pos - 1) % $ShuffleBatch AS BIGINT) AS batch_idx
       |FROM p""".stripMargin) { (spark, dir) =>
    epochShuffleOf(Tables.documents(spark, dir).select(col("doc_id")))
  }

  /** Output shard count of [[shardManifest]] (a real run sizes this to
    * target file bytes; the assignment law is shard-count-agnostic). */
  val NumShards = 8

  /** Training-shard manifest — the writer's last mile: packed
    * sequences ([[packSequences]]' kernel) are assigned to output
    * shards by a deterministic pack-level hash, and each shard gets a
    * verifiable manifest row (pack/doc/token counts + an additive
    * content checksum) — what a dataloader validates before training
    * starts, and what makes a re-export byte-auditable without reading
    * the shards back. Assignment hashes (fingerprint(source), pack_id)
    * through the same xorshift-multiply mix as the projection sign
    * ([[Similarity.randProj]]) — pack sizes are budget-bounded, so the
    * hash law balances shards to ~1/√n_packs without a global sort;
    * the measured spread is pinned in the spec.
    *
    * Checksum: per-doc integer mix summed per shard, mod 2³¹ at the
    * end — SUM of BIGINTs is order-independent and exact, so the value
    * is engine-portable (bound: overflows past ~4×10⁹ docs/shard; the
    * production swap is a per-partition modular partial, same law).
    * Shapes: one shared pack kernel, two hash aggregates, an 8-row
    * result — no shuffle carries more than the pack table. */
  val shardManifest: Op = Op(
    "q_shard_manifest",
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           - n_tokens AS preceding_tokens
       |  FROM d
       |), p AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(preceding_tokens // $PackBudget AS BIGINT) AS pack_id,
       |         (doc_id * 2654435761 + n_tokens * 1103515245 + 12345)
       |           % 2147483648 AS hdoc
       |  FROM c
       |), f AS (
       |  SELECT *,
       |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |       list_transform(string_split(coalesce(source, ''), ''),
       |         ch -> CAST(ascii(ch) AS BIGINT))),
       |       (acc, x) -> (acc * 31 + x) % 1000000007)
       |     + pack_id * 1103515245 + 12345) % 2147483648 AS h1
       |  FROM p
       |), s AS (
       |  SELECT source, pack_id,
       |    ((xor(h1, h1 // 8192) * 1274126177) % 2147483648 // 65536)
       |      % $NumShards AS shard_id,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       |    CAST(SUM(hdoc) AS BIGINT) AS pack_sum
       |  FROM f GROUP BY source, pack_id, 3
       |)
       |SELECT CAST(shard_id AS BIGINT) AS shard_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_packs,
       |       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |       CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
       |       CAST(SUM(pack_sum) % 2147483648 AS BIGINT) AS checksum
       |FROM s GROUP BY 1""".stripMargin) { (spark, dir) =>
    shardManifestOf(packByPrefixSum(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        bpeishTokenCount(col("text")).cast("long").as("n_tokens")),
      PackBudget))
  }

  /** [[shardManifest]] kernel over (doc_id, source, n_tokens, pack_id)
    * rows. */
  def shardManifestOf(packs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.TextAnalysis.fingerprint
    // NULL source fingerprints as the empty string — the same
    // coalesce is spelled in every shard oracle (adversarial dim 7)
    val h1 = (fingerprint(coalesce(col("source"), lit(""))) +
      col("pack_id") * 1103515245L + 12345L) % 2147483648L
    val h2 = h1.bitwiseXOR(shiftright(h1, 13))
    val shard = (shiftright((h2 * 1274126177L) % 2147483648L, 16)
      % NumShards).as("shard_id")
    packs
      .withColumn("hdoc", (col("doc_id") * 2654435761L +
        col("n_tokens") * 1103515245L + 12345L) % 2147483648L)
      .groupBy(col("source"), col("pack_id"), shard)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"),
        sum(col("hdoc")).as("pack_sum"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_packs"), sum(col("n_docs")).as("n_docs"),
        sum(col("pack_tokens")).as("total_tokens"),
        (sum(col("pack_sum")) % 2147483648L).as("checksum"))
      .select(col("shard_id"), col("n_packs"), col("n_docs"),
        col("total_tokens"), col("checksum"))
  }

  /** [[epochShuffle]] kernel over any (doc_id) frame. */
  def epochShuffleOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), lit(EpochCount - 1L))).as("epoch"))
      .withColumn("hk", (col("doc_id") * 1103515245L + 12345L +
        col("epoch") * 2654435761L) % 2147483648L)
      .withColumn("bucket", shiftright(col("hk"), ShuffleBucketShift))
    val counts = keyed.groupBy(col("epoch"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val wOff = Window.partitionBy(col("epoch")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ≤ EpochCount×1024 rows — metadata; the window here sorts buckets,
    // never documents
    val offsets = counts
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select(col("epoch"), col("bucket"), col("off"))
    val wLocal = Window.partitionBy(col("epoch"), col("bucket"))
      .orderBy(col("hk"), col("doc_id"))
    keyed.join(broadcast(offsets), Seq("epoch", "bucket"))
      .withColumn("pos", col("off") + row_number().over(wLocal))
      .select(col("epoch"), col("doc_id"), col("pos"),
        expr(s"(pos - 1) div $ShuffleBatch").as("batch_id"),
        ((col("pos") - 1) % ShuffleBatch).as("batch_idx"))
  }
  /** END-TO-END pipeline capstone — the whole LLM training-data line
    * as ONE registered op composing the existing kernels: clean
    * (quality percentile + repetition gate, [[cleanCorpus]]'s fused
    * text pass) → dedup (incremental standing labels,
    * [[GraphOps.dupClustersIncremental]]) → decontaminate (8-gram
    * benchmark overlap, [[decontaminate]] — the eval slice itself is
    * also excluded from packing: a training pipeline never trains on
    * its benchmark) → mix (equalize per-source token share over the
    * CLEANED corpus, [[mixAssembly]]'s law; docs whose deterministic
    * copy count reaches 0 drop) → pack ([[packByPrefixSum]], budget
    * [[PackBudget]]) → shard manifest ([[shardManifestOf]]):
    * 8 shard rows with doc/token/checksum totals — the artifact a
    * training run actually consumes.
    *
    * Scan discipline (the shared-index architecture's payoff, gated in
    * CurationSpec): the TEXT is read once by this op's fused metrics
    * pass (checkpointed (doc_id, source, n_tokens, rep_pass) — three
    * longs + bool per doc — feeds the percentile, the mix factors, the
    * packing and the manifest); the dup labels come from the PERSISTED
    * standing-label store + delta fold, and the contamination pass
    * rides the session-cached 8-gram rows — at steady state the whole
    * pipeline re-reads the corpus text at most twice, and every other
    * stage input is metadata-sized or an at-rest index.
    *
    * The oracle replays the ENTIRE line as one SQL statement — the
    * [[cleanCorpus]] recursive-CTE gates, the mix law, the
    * single-window pack form, the shard hash/checksum tail — so the
    * hash-exact row proves the composed distributed pipeline against
    * the naive single-engine formulation end to end. */
  /** The capstone's fused per-document metrics pass — the pipeline's
    * ONE text read (exactly one documents scan, plan-gated):
    * (doc_id, source, n_tokens, rep_pass). */
  private[graft] def pipelineDocMetrics(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val nWords = size(split(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+"))
    val total3 = greatest(nWords - 2, lit(0)).cast("long")
    val distinct3 = when(nWords >= 3,
      size(wordShingles(col("text"), 3)).cast("long")).otherwise(0L)
    val ratio = when(total3 > 0,
      (total3 - distinct3).cast("double") / total3.cast("double"))
      .otherwise(lit(0.0))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"),
      bpeishTokenCount(col("text")).cast("long").as("n_tokens"),
      when(total3 > 0, ratio <= 0.2).otherwise(lit(true)).as("rep_pass"))
  }

  private[graft] val pipelineMetricsCache = new SessionCache.Cache[DataFrame]

  /** [[pipelineDocMetrics]] session-cached (source-listing signature,
    * the shared-index device): the fused text pass — token counts +
    * repetition gate, the capstone's single heaviest stage — runs
    * once per (session, corpus) and every later evaluation reuses the
    * checkpointed skinny frame. Cache ≡ fresh parity is spec-pinned. */
  private[graft] def pipelineDocMetricsCached(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    pipelineMetricsCache.getOrBuild(spark, dir, "documents.parquet") {
      pipelineDocMetrics(spark, dir).localCheckpoint()
    }

  /** The incremental split of the packing family: standing = the
    * first ¾ of the corpus' doc_id range, delta = the rest — arrivals
    * append in id order, exactly the regime where a per-source token
    * HIGH-WATER MARK lets a delta pack CONTINUE the prefix sum
    * instead of recomputing it (SUM is the monoid, so incremental ≡
    * batch EXACTLY — the `chunkDedupIncrOf` proof shape on the
    * packing law). One 1-row aggregate, bounded metadata. */
  private[graft] def packSplitId(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long =
    Tables.documents(spark, dir)
      .agg(expr("(max(doc_id) * 3) div 4").as("s"))
      .collect()(0).getLong(0)

  private val packHwmCache = new SessionCache.Cache[DataFrame]

  /** The per-source packing high-water mark AT REST (`pack_hwm`
    * store): Σ tokens and doc count over the STANDING slice — the
    * only state a delta pack needs. At 100 TB this is a
    * #sources-row table updated once per ingest window; the delta
    * pass never rescans the standing corpus. */
  private[graft] def standingPackHwm(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    packHwmCache.getOrBuild(spark, dir, "documents.parquet") {
      val store = PersistedStore.ensure(spark, dir, "documents.parquet",
        "pack_hwm", "v2") { root => // v2: ascii-casefold law
        val split = packSplitId(spark, dir)
        Tables.documents(spark, dir).filter(col("doc_id") < split)
          .select(col("source"),
            bpeishTokenCount(col("text")).cast("long").as("n_tokens"))
          .groupBy(col("source"))
          .agg(sum(col("n_tokens")).as("standing_tokens"),
            count(lit(1)).as("standing_docs"))
          .write.mode("overwrite").parquet(s"$root/hwm")
      }
      Tables.parquet(spark, s"$store/hwm").localCheckpoint()
    }

  private val packIncrCache = new SessionCache.Cache[DataFrame]

  /** [[packIncr]]'s kernel: the delta slice packed by CONTINUING each
    * source's prefix sum from the persisted high-water mark — shared
    * with the incremental shard manifest (session-cached so the two
    * consumers pay the delta scan once). */
  private[graft] def packIncrRows(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    packIncrCache.getOrBuild(spark, dir, "documents.parquet") {
      val split = packSplitId(spark, dir)
      val delta = Tables.documents(spark, dir)
        .filter(col("doc_id") >= split)
        .select(col("doc_id"), col("source"),
          bpeishTokenCount(col("text")).cast("long").as("n_tokens"))
      packContinuing(delta, standingPackHwm(spark, dir))
        .localCheckpoint()
    }

  /** The CONTINUATION kernel shared by the incremental packer and its
    * streaming leg ([[StreamingOps.streamPack]]): pack a delta slice of
    * (doc_id, source, n_tokens) rows by continuing each source's token
    * prefix sum from a high-water frame (source, standing_tokens).
    * Because the high-water mark is a SUM monoid, folding ANY id-ordered
    * batching of the delta through this kernel — each batch continuing
    * from the previous batch's advanced marks — yields EXACTLY the
    * single-pass assignment (spec-pinned in CurationSpec; the stream
    * op's oracle is the batch law itself). Scale shape per batch: one
    * delta-sized window pass + a #sources-row broadcast. */
  def packContinuing(delta: org.apache.spark.sql.DataFrame,
      hwm: org.apache.spark.sql.DataFrame, budget: Long = PackBudget)
      : org.apache.spark.sql.DataFrame =
    // null-safe source equality: a USING-columns left join would leave
    // a NULL-source delta packing from offset 0 while its standing
    // high-water row sits unmatched — the batch law (PARTITION BY
    // keeps NULL as one group) disagrees (adversarial dim 7, r12)
    precedingBySource(delta, "doc_id")
      .join(broadcast(hwm.select(col("source").as("src_h"),
          col("standing_tokens"))),
        col("source") <=> col("src_h"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"(coalesce(standing_tokens, 0L) + preceding_tokens) " +
          s"div $budget").as("pack_id"))

  /** Advance a (source, standing_tokens) high-water frame by a packed
    * batch's per-source token sums — the monoid fold step of
    * [[packContinuing]]. Sources unseen in the batch pass through. */
  def advancePackHwm(hwm: org.apache.spark.sql.DataFrame,
      packedBatch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // null-safe merge: a USING-columns full outer splits the NULL
    // source into TWO rows (standing + batch), corrupting every
    // source-count-dependent consumer (adversarial dim 7, r12)
    hwm.select(col("source"), col("standing_tokens"))
      .join(packedBatch.groupBy(col("source")).agg(
          sum(col("n_tokens")).as("batch_tokens"))
          .withColumnRenamed("source", "src_b"),
        col("source") <=> col("src_b"), "full_outer")
      .select(
        // a NULL<=>NULL match leaves both sides NULL → coalesce yields
        // the correct NULL source for the merged row
        coalesce(col("source"), col("src_b")).as("source"),
        (coalesce(col("standing_tokens"), lit(0L)) +
          coalesce(col("batch_tokens"), lit(0L))).as("standing_tokens"))

  /** INCREMENTAL sequence packing — the batch/incremental sibling the
    * packing family was missing (every other flagship family has
    * one): the delta's pack assignment continues each source's token
    * prefix sum from the persisted [[standingPackHwm]], so pack ids
    * agree with a full recompute EXACTLY (the oracle IS the batch law
    * filtered to the delta) and yesterday's packed shards are never
    * touched or re-read. Scale shape: one delta scan + a
    * #sources-row broadcast — the standing corpus contributes only
    * its high-water row per source. */
  val packIncr: Op = Op(
    "q_pack_incr",
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           - n_tokens AS preceding_tokens
       |  FROM d
       |), t AS (
       |  SELECT (MAX(doc_id) * 3) // 4 AS split FROM documents
       |)
       |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(preceding_tokens // $PackBudget AS BIGINT) AS pack_id
       |FROM c CROSS JOIN t WHERE c.doc_id >= t.split""".stripMargin) {
    (spark, dir) => packIncrRows(spark, dir)
  }

  /** INCREMENTAL mix factors — [[mixAssembly]]'s counters carried the
    * high-water-mark way: the equalizing factor needs only per-source
    * corpus token totals, and those are a SUM monoid over
    * (standing hwm + delta aggregate), so the delta emission computes
    * factors IDENTICAL to the full recompute (oracle = the batch law
    * filtered to the delta) from a #sources-row fold — the standing
    * corpus is never rescanned. Sources seen only in the standing
    * slice still shape the factors (outer fold, delta 0). */
  val mixIncr: Op = Op(
    "q_mix_incr",
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS n_tokens
       |  FROM documents
       |), s AS (
       |  SELECT source, SUM(n_tokens) AS src_tokens FROM d GROUP BY source
       |), f AS (
       |  SELECT source,
       |         (CAST(SUM(src_tokens) OVER () AS DOUBLE)
       |            / CAST(COUNT(*) OVER () AS DOUBLE))
       |           / CAST(src_tokens AS DOUBLE) AS factor
       |  FROM s
       |), t AS (
       |  SELECT (MAX(doc_id) * 3) // 4 AS split FROM documents
       |)
       |SELECT d.doc_id, d.source, d.n_tokens, f.factor,
       |       CAST(floor(f.factor) AS BIGINT)
       |         + CASE WHEN CAST($idBucketSql AS DOUBLE)
       |                     < (f.factor - floor(f.factor)) * 100
       |                THEN 1 ELSE 0 END AS n_copies
       |FROM d JOIN f ON d.source = f.source
       |CROSS JOIN t WHERE d.doc_id >= t.split""".stripMargin) {
    (spark, dir) =>
      val split = packSplitId(spark, dir)
      val delta = Tables.documents(spark, dir)
        .filter(col("doc_id") >= split)
        .select(col("doc_id"), col("source"),
          bpeishTokenCount(col("text")).as("n_tokens"))
      val deltaSums = delta.groupBy(col("source"))
        .agg(sum(col("n_tokens")).cast("long").as("delta_tokens"))
      // null-safe merge (adversarial dim 7, r12): USING-columns full
      // outer splits the NULL source into two rows and every factor
      // shifts through the COUNT(*) OVER () mean
      val full = standingPackHwm(spark, dir)
        .select(col("source"), col("standing_tokens"))
        .join(deltaSums.withColumnRenamed("source", "src_d"),
          col("source") <=> col("src_d"), "full_outer")
        .select(coalesce(col("source"), col("src_d")).as("source"),
          (coalesce(col("standing_tokens"), lit(0L)) +
            coalesce(col("delta_tokens"), lit(0L))).as("src_tokens"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      val factors = full
        .select(col("source"),
          ((sum(col("src_tokens")).over(wAll).cast("double")
            / count(lit(1)).over(wAll).cast("double"))
            / col("src_tokens").cast("double")).as("factor"))
      val frac = col("factor") - floor(col("factor")).cast("double")
      delta.join(broadcast(factors), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("factor"),
          (floor(col("factor")) +
            when(idBucket(col("doc_id")).cast("double") < frac * 100, 1L)
              .otherwise(0L)).as("n_copies"))
  }

  /** INCREMENTAL shard manifest — today's shipment: the manifest rows
    * of the DELTA's pack assignment ([[packIncrRows]], pack ids
    * continued from the high-water mark so they agree with the batch
    * law), grouped to shards by the same hash. Checksums and token
    * totals are modular/plain SUMs, so standing manifest + delta
    * manifest FOLD to the full manifest per shard (spec-pinned) —
    * the manifest is maintained, never recomputed. */
  val shardManifestIncr: Op = Op(
    "q_shard_manifest_incr",
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           - n_tokens AS preceding_tokens
       |  FROM d
       |), t AS (
       |  SELECT (MAX(doc_id) * 3) // 4 AS split FROM documents
       |), p AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(preceding_tokens // $PackBudget AS BIGINT) AS pack_id,
       |         (doc_id * 2654435761 + n_tokens * 1103515245 + 12345)
       |           % 2147483648 AS hdoc
       |  FROM c CROSS JOIN t WHERE c.doc_id >= t.split
       |), f AS (
       |  SELECT *,
       |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |       list_transform(string_split(coalesce(source, ''), ''),
       |         ch -> CAST(ascii(ch) AS BIGINT))),
       |       (acc, x) -> (acc * 31 + x) % 1000000007)
       |     + pack_id * 1103515245 + 12345) % 2147483648 AS h1
       |  FROM p
       |), s AS (
       |  SELECT source, pack_id,
       |    ((xor(h1, h1 // 8192) * 1274126177) % 2147483648 // 65536)
       |      % $NumShards AS shard_id,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       |    CAST(SUM(hdoc) AS BIGINT) AS pack_sum
       |  FROM f GROUP BY source, pack_id, 3
       |)
       |SELECT CAST(shard_id AS BIGINT) AS shard_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_packs,
       |       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |       CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
       |       CAST(SUM(pack_sum) % 2147483648 AS BIGINT) AS checksum
       |FROM s GROUP BY 1""".stripMargin) { (spark, dir) =>
    shardManifestOf(packIncrRows(spark, dir))
  }

  /** Stride of the chunk-granularity packer: the budget minus
    * headroom for the largest atom ([[TextOps.ChunkWords]]-word
    * chunks), so a pack can NEVER exceed [[PackBudget]]: chunks
    * assigned by `preceding div stride` span at most
    * (stride - 1) + ChunkWords = PackBudget tokens. The reserved
    * headroom caps the fill ceiling at stride/budget ≈ 94% — the
    * price of a HARD budget, vs the whole-doc law whose packs
    * overflow by up to a whole document (q_pack_stats measures 28/60
    * packs over budget at sf0.01). */
  val ChunkPackStride: Long = PackBudget - (TextOps.ChunkWords - 1)

  /** SPLIT-AT-CHUNK-BOUNDARY packing — the sibling that never
    * overflows: long documents split across packs at
    * [[TextOps.chunksOf]] boundaries (chunks stay atomic), each chunk
    * goes to pack `preceding_words div stride` with the stride
    * reserving headroom for one maximal chunk, so every pack fits the
    * budget BY LAW — zero overflow, while the whole-doc law
    * overflows by ≤ 1 document (unbounded in tokens at 100 TB: one
    * 1M-token document blows a 512 budget 2000×). Output is the PACK
    * manifest with a reassembly witness: the rolling hash over the
    * pack's chunk fingerprints in (doc_id, chunk_idx) order — the
    * `kept_fp` device — proves pack CONTENT and ORDER cross-engine,
    * so a training job can re-derive exactly what each context
    * window contains. */
  val packChunks: Op = Op(
    "q_pack_chunks",
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0B\\f\\r]+') AS w
       |  FROM documents
       |), ch AS (
       |  SELECT doc_id, source, i AS chunk_idx,
       |         len(list_slice(w, i*${TextOps.ChunkWords}+1, i*${TextOps.ChunkWords}+${TextOps.ChunkWords})) AS n_words,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(string_split(
       |               array_to_string(list_slice(w, i*${TextOps.ChunkWords}+1, i*${TextOps.ChunkWords}+${TextOps.ChunkWords}), ' '), ''),
       |               ch -> CAST(ascii(ch) AS BIGINT))),
       |           (acc, x) -> (acc * 31 + x) % 1000000007) AS chunk_fp
       |  FROM d, unnest(range(CAST(ceil(len(w)/${TextOps.ChunkWords}.0) AS BIGINT))) AS t(i)
       |), c AS (
       |  SELECT doc_id, source, chunk_idx, n_words, chunk_fp,
       |         CAST(SUM(n_words) OVER (PARTITION BY source
       |           ORDER BY doc_id, chunk_idx
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           - n_words AS prec
       |  FROM ch
       |)
       |SELECT source,
       |  CAST(prec // $ChunkPackStride AS BIGINT) AS pack_id,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(n_words) AS BIGINT) AS pack_words,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list(chunk_fp ORDER BY doc_id, chunk_idx)),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pack_fp
       |FROM c GROUP BY source, pack_id""".stripMargin) { (spark, dir) =>
    // the prefix-sum pass scans the frame twice (bucket counts + the
    // offset join) — the session-cached chunk index (r14) pins the
    // chunk explode once per (session, corpus) instead of per run
    val chunks = TextOps.chunkIndex(spark, dir)
      .withColumn("k",
        col("doc_id") * TextOps.ChunkPack + col("chunk_idx"))
      .select(col("k"), col("source"), col("doc_id"),
        col("chunk_idx"), col("chunk_fp"),
        col("n_words").as("n_tokens"))
    // bucket shift widened by ~log2(ChunkPack): the packed order key
    // multiplies doc_id by 10⁶, so the default shift would give each
    // DOC its own bucket and a doc-scaled offsets frame
    precedingBySource(chunks, "k",
      shift = PackBucketShift + 20)
      .select(col("source"), col("k"), col("chunk_fp"),
        col("n_tokens").as("n_words"), col("doc_id"),
        expr(s"preceding_tokens div $ChunkPackStride").as("pack_id"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_words")).as("pack_words"),
        array_sort(collect_list(struct(col("k"), col("chunk_fp"))))
          .as("ordered"))
      // n_docs from the already-collected order keys (k − k mod
      // ChunkPack = doc_id·ChunkPack, exact integer ops) instead of a
      // countDistinct — avoids the Expand double-scan a distinct
      // aggregate plans next to plain ones
      .select(col("source"), col("pack_id"),
        size(array_distinct(transform(col("ordered"),
          e => e.getField("k") -
            pmod(e.getField("k"), lit(TextOps.ChunkPack)))))
          .cast("long").as("n_docs"),
        col("n_chunks"), col("pack_words"),
        aggregate(
          transform(col("ordered"), e => e.getField("chunk_fp")),
          lit(0L),
          (acc, x) => (acc * 31 + x) % 1000000007L).as("pack_fp"))
  }

  /** Stride of [[packChunksFill]]'s PARTIAL class: partial chunks are
    * ≤ [[TextOps.ChunkWords]] − 1 words, so reserving that headroom
    * bounds a partial pack at (stride − 1) + (ChunkWords − 1) =
    * [[PackBudget]] exactly. */
  val ChunkFillPartialStride: Long = PackBudget - (TextOps.ChunkWords - 2)

  // the full-class law is exact only because whole chunks tile the
  // budget — a geometry change must be caught at init, not as overflow
  require(PackBudget % TextOps.ChunkWords == 0,
    s"ChunkWords ${TextOps.ChunkWords} must divide PackBudget $PackBudget")

  /** Source label of [[packChunksFill]]'s cross-source tail pool. */
  val PoolSource = "(pool)"

  /** BACKFILLED chunk packing — [[packChunks]] without the ~8% fill
    * ceiling, in three laws that are each still a prefix sum:
    *
    *  1. FULL chunks (exactly [[TextOps.ChunkWords]] words — the
    *     corpus' mass) pack 16-to-a-pack per source at stride =
    *     [[PackBudget]], EXACT because ChunkWords divides the budget
    *     (the object-init `require`): every committed full pack holds
    *     precisely `budget` words — fill 1000‰.
    *  2. PARTIAL chunks (doc-final, < ChunkWords) prefix-sum per
    *     source at [[ChunkFillPartialStride]].
    *  3. Each (source, class)'s LAST pack — the per-source remainder,
    *     the waste that dominates at small pack counts (40 half-empty
    *     tails at sf0.1 cost ~3% aggregate fill) — dissolves into a
    *     cross-source TAIL POOL, repacked by one more prefix sum over
    *     (source, doc order) at [[ChunkPackStride]] (headroom for a
    *     maximal chunk: the pool mixes sizes). The pool is
    *     metadata-sized BY CONSTRUCTION — ≤ 2 packs' worth of chunks
    *     per source, ∝ sources, not corpus — so its single-partition
    *     window is as scale-free as the #sources-row offsets frame.
    *
    * Zero overflow holds BY LAW in all three (max pack =
    * (stride − 1) + max item ≤ budget in each class), packs stay
    * source-pure except the explicitly labeled pool remainder, and
    * the reassembly witness is unchanged — pack_fp folds chunk
    * fingerprints in (doc_id, chunk_idx) order, so content AND order
    * stay provable per pack. Measured fill at sf0.1: ≥ 970‰ vs the
    * single-class law's 923‰ (PERF.md round 10). */
  val packChunksFill: Op = Op(
    "q_pack_chunks_fill",
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0B\\f\\r]+') AS w
       |  FROM documents
       |), ch AS (
       |  SELECT doc_id, source, i AS chunk_idx,
       |         len(list_slice(w, i*${TextOps.ChunkWords}+1, i*${TextOps.ChunkWords}+${TextOps.ChunkWords})) AS n_words,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(string_split(
       |               array_to_string(list_slice(w, i*${TextOps.ChunkWords}+1, i*${TextOps.ChunkWords}+${TextOps.ChunkWords}), ' '), ''),
       |               ch -> CAST(ascii(ch) AS BIGINT))),
       |           (acc, x) -> (acc * 31 + x) % 1000000007) AS chunk_fp
       |  FROM d, unnest(range(CAST(ceil(len(w)/${TextOps.ChunkWords}.0) AS BIGINT))) AS t(i)
       |), cls AS (
       |  SELECT *, CASE WHEN n_words = ${TextOps.ChunkWords}
       |              THEN 0 ELSE 1 END AS pc
       |  FROM ch
       |), c AS (
       |  SELECT doc_id, source, chunk_idx, n_words, chunk_fp, pc,
       |         CAST(SUM(n_words) OVER (PARTITION BY source, pc
       |           ORDER BY doc_id, chunk_idx
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           - n_words AS prec
       |  FROM cls
       |), p AS (
       |  SELECT *, CAST(CASE WHEN pc = 0 THEN prec // $PackBudget
       |                      ELSE prec // $ChunkFillPartialStride END
       |              AS BIGINT) AS pid,
       |         MAX(CAST(CASE WHEN pc = 0 THEN prec // $PackBudget
       |                       ELSE prec // $ChunkFillPartialStride END
       |               AS BIGINT))
       |           OVER (PARTITION BY source, pc) AS tail_id
       |  FROM c
       |), pool AS (
       |  SELECT doc_id, chunk_idx, n_words, chunk_fp,
       |         CAST(SUM(n_words) OVER (ORDER BY source NULLS LAST, doc_id, chunk_idx
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           - n_words AS prec2
       |  FROM p WHERE pid = tail_id
       |), u AS (
       |  SELECT source, CAST(pc AS BIGINT) AS pack_class, pid AS pack_id,
       |         doc_id, chunk_idx, n_words, chunk_fp
       |  FROM p WHERE pid < tail_id
       |  UNION ALL
       |  SELECT '$PoolSource' AS source, CAST(2 AS BIGINT) AS pack_class,
       |         CAST(prec2 // ${ChunkPackStride} AS BIGINT) AS pack_id,
       |         doc_id, chunk_idx, n_words, chunk_fp
       |  FROM pool
       |)
       |SELECT source, pack_class, pack_id,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(n_words) AS BIGINT) AS pack_words,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list(chunk_fp ORDER BY doc_id, chunk_idx)),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pack_fp
       |FROM u GROUP BY source, pack_class, pack_id""".stripMargin) {
    (spark, dir) =>
      val W = org.apache.spark.sql.expressions.Window
      // the frame feeds two class filters and each prefix-sum pass
      // scans twice (bucket counts + the offset join) — the session-
      // cached chunk index (r14) pins the text→words→chunks explode
      // once per (session, corpus) instead of per run (the frame is
      // chunk METADATA, ~5% of the text bytes)
      val chunks = TextOps.chunkIndex(spark, dir)
        .withColumn("k",
          col("doc_id") * TextOps.ChunkPack + col("chunk_idx"))
        .select(col("k"), col("source"), col("chunk_fp"),
          col("n_words").cast("long").as("n_tokens"))
      def packed(df: org.apache.spark.sql.DataFrame, stride: Long,
          cls: Long) =
        precedingBySource(df, "k", shift = PackBucketShift + 20)
          .select(col("source"), lit(cls).as("pack_class"), col("k"),
            col("chunk_fp"), col("n_tokens").as("n_words"),
            expr(s"preceding_tokens div $stride").as("pack_id"))
      val full = packed(
        chunks.filter(col("n_tokens") === TextOps.ChunkWords.toLong),
        PackBudget, 0L)
      val part = packed(
        chunks.filter(col("n_tokens") =!= TextOps.ChunkWords.toLong),
        ChunkFillPartialStride, 1L)
      val assigned = full.unionByName(part)
        .withColumn("tail_id", max(col("pack_id")).over(
          W.partitionBy(col("source"), col("pack_class"))))
      val main = assigned.filter(col("pack_id") < col("tail_id"))
        .select(col("source"), col("pack_class"), col("pack_id"),
          col("k"), col("chunk_fp"), col("n_words"))
      // the tail pool is ≤ 2 packs of chunks per (source), ∝ sources —
      // a single-partition window over metadata, never the corpus
      // NULL ordering spelled explicitly on BOTH sides: Spark's asc
      // default is NULLS FIRST, DuckDB's is NULLS LAST — a nullable
      // sort key silently reorders the pool prefix sum (dim 7, r12)
      val pool = assigned.filter(col("pack_id") === col("tail_id"))
        .withColumn("prec2",
          coalesce(sum(col("n_words")).over(
            W.orderBy(col("source").asc_nulls_last, col("k"))
              .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .select(lit(PoolSource).as("source"),
          lit(2L).as("pack_class"),
          expr(s"prec2 div $ChunkPackStride").as("pack_id"),
          col("k"), col("chunk_fp"), col("n_words"))
      main.unionByName(pool)
        .groupBy(col("source"), col("pack_class"), col("pack_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_words")).as("pack_words"),
          array_sort(collect_list(struct(col("k"), col("chunk_fp"))))
            .as("ordered"))
        .select(col("source"), col("pack_class"), col("pack_id"),
          size(array_distinct(transform(col("ordered"),
            e => e.getField("k") -
              pmod(e.getField("k"), lit(TextOps.ChunkPack)))))
            .cast("long").as("n_docs"),
          col("n_chunks"), col("pack_words"),
          aggregate(
            transform(col("ordered"), e => e.getField("chunk_fp")),
            lit(0L),
            (acc, x) => (acc * 31 + x) % 1000000007L).as("pack_fp"))
  }

  val pipelineE2e: Op = Op(
    "q_pipeline_e2e",
    s"""WITH RECURSIVE ${Dedup.jaccardPairCtes()},
       |np AS (
       |  SELECT doc_id_a, doc_id_b FROM pairs
       |  WHERE CAST(i AS DOUBLE)/CAST(u AS DOUBLE) >= 0.5
       |), edges AS (
       |  SELECT doc_id_a AS src, doc_id_b AS dst FROM np
       |  UNION ALL SELECT doc_id_b, doc_id_a FROM np
       |), reach AS (
       |  SELECT src AS node, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
       |), losers AS (
       |  SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> MIN(lbl)
       |), toks AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS n_tokens
       |  FROM documents
       |), repx AS (
       |  SELECT doc_id,
       |    CASE WHEN n_3grams > 0
       |      THEN CAST(n_3grams - n_distinct_3grams AS DOUBLE)
       |           / CAST(n_3grams AS DOUBLE) <= 0.2
       |      ELSE TRUE END AS rep_pass
       |  FROM (
       |    SELECT doc_id, greatest(len(l) - 2, 0) AS n_3grams,
       |      CASE WHEN len(l) >= 3
       |        THEN len(list_distinct(list_transform(range(len(l) - 2),
       |               i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])))
       |        ELSE 0 END AS n_distinct_3grams
       |    FROM (SELECT doc_id,
       |            string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0B\\f\\r]+') AS l
       |          FROM documents))
       |), gset AS (
       |  SELECT doc_id, doc_id % $BenchSplitMod = 0 AS is_bench,
       |         CASE WHEN len(w) >= 8
       |              THEN list_distinct(list_transform(range(1, len(w)-6),
       |                     i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
       |                          w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]))
       |              ELSE [array_to_string(w, ' ')] END AS gr
       |  FROM d
       |), cont AS (
       |  SELECT DISTINCT tr.doc_id FROM
       |    (SELECT doc_id, unnest(gr) AS g8 FROM gset WHERE NOT is_bench) tr
       |    JOIN (SELECT DISTINCT unnest(gr) AS g8 FROM gset WHERE is_bench) be
       |      ON tr.g8 = be.g8
       |), kept AS (
       |  SELECT t.doc_id, t.source, t.n_tokens
       |  FROM toks t JOIN repx ON repx.doc_id = t.doc_id
       |  WHERE t.n_tokens >= (SELECT quantile_cont(n_tokens, 0.25) FROM toks)
       |    AND repx.rep_pass
       |    AND t.doc_id % $BenchSplitMod <> 0
       |    AND t.doc_id NOT IN (SELECT doc_id FROM losers)
       |    AND t.doc_id NOT IN (SELECT doc_id FROM cont)
       |), ms AS (
       |  SELECT source, SUM(n_tokens) AS src_tokens FROM kept GROUP BY source
       |), mf AS (
       |  SELECT source,
       |         (CAST(SUM(src_tokens) OVER () AS DOUBLE)
       |            / CAST(COUNT(*) OVER () AS DOUBLE))
       |           / CAST(src_tokens AS DOUBLE) AS factor
       |  FROM ms
       |), sel AS (
       |  SELECT k.doc_id, k.source, k.n_tokens
       |  FROM kept k JOIN mf ON k.source = mf.source
       |  WHERE CAST(floor(mf.factor) AS BIGINT)
       |        + CASE WHEN CAST($idBucketSql AS DOUBLE)
       |                    < (mf.factor - floor(mf.factor)) * 100
       |               THEN 1 ELSE 0 END >= 1
       |), pc AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           - n_tokens AS preceding_tokens
       |  FROM sel
       |), pp AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(preceding_tokens // $PackBudget AS BIGINT) AS pack_id,
       |         (doc_id * 2654435761 + n_tokens * 1103515245 + 12345)
       |           % 2147483648 AS hdoc
       |  FROM pc
       |), ph AS (
       |  SELECT *,
       |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |       list_transform(string_split(coalesce(source, ''), ''),
       |         ch -> CAST(ascii(ch) AS BIGINT))),
       |       (acc, x) -> (acc * 31 + x) % 1000000007)
       |     + pack_id * 1103515245 + 12345) % 2147483648 AS h1
       |  FROM pp
       |), ps AS (
       |  SELECT source, pack_id,
       |    ((xor(h1, h1 // 8192) * 1274126177) % 2147483648 // 65536)
       |      % $NumShards AS shard_id,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       |    CAST(SUM(hdoc) AS BIGINT) AS pack_sum
       |  FROM ph GROUP BY source, pack_id, 3
       |)
       |SELECT CAST(shard_id AS BIGINT) AS shard_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_packs,
       |       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |       CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
       |       CAST(SUM(pack_sum) % 2147483648 AS BIGINT) AS checksum
       |FROM ps GROUP BY 1""".stripMargin) { (spark, dir) =>
    // ONE text pass: token count + repetition gate + source (plan-gated
    // single scan in CurationSpec), checkpointed AND session-cached —
    // everything after consumes these four skinny columns, never the
    // text again, and a warm session never re-pays the pass
    val perDoc = pipelineDocMetricsCached(spark, dir)
    val thr = perDoc.agg(expr("percentile(n_tokens, 0.25)").as("p25"))
    val losers = GraphOps.dupClustersIncremental.build(spark, dir)
      .filter(!col("is_canonical"))
      .select(col("doc_id"), lit(true).as("loser"))
    val contaminated = decontaminate.build(spark, dir)
      .select(col("doc_id"), lit(true).as("cont"))
    val kept = perDoc.crossJoin(broadcast(thr))
      .join(losers, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .filter(col("n_tokens") >= col("p25") && col("rep_pass") &&
        col("doc_id") % BenchSplitMod =!= 0 &&
        !coalesce(col("loser"), lit(false)) &&
        !coalesce(col("cont"), lit(false)))
      .select(col("doc_id"), col("source"), col("n_tokens"))
    // mix: equalize per-source token share over the CLEANED corpus
    val bySrc = kept.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val factors = bySrc.select(col("source"),
      ((sum(col("src_tokens")).over(wAll).cast("double")
        / count(lit(1)).over(wAll).cast("double"))
        / col("src_tokens").cast("double")).as("factor"))
    val frac = col("factor") - floor(col("factor")).cast("double")
    val sel = kept.join(broadcast(factors), Seq("source"))
      .filter((floor(col("factor")) +
        when(idBucket(col("doc_id")).cast("double") < frac * 100, 1L)
          .otherwise(0L)) >= 1L)
      .select(col("doc_id"), col("source"), col("n_tokens"))
    shardManifestOf(packByPrefixSum(sel, PackBudget))
  }

}
