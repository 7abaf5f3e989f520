package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalysis.{asciiLower, bpeishTokenCount, fingerprint, wordShingles}

/** The LEARNED quality scorer — the trained stage a production curation
  * pipeline runs next to the heuristic gates (CCNet, Wenzek et al. 2020;
  * GPT-3's quality classifier, Brown et al. 2020 Appendix A): a linear
  * classifier over hashed text features, trained distributed, then
  * applied as a stateless per-document score.
  *
  * Here the teacher is the corpus-relative Gopher-style gate the engine
  * already runs (`q_quality_gate`'s P25 token-count rule + the
  * repetition rule, Rae et al. 2022) — the trained model DISTILLS it:
  * the teacher needs a corpus-wide percentile pass per evaluation, the
  * student is a fixed weight vector any stream can apply at ingest with
  * zero corpus state. That operational shape (corpus-pass teacher →
  * stateless student) is the whole point of trained quality filters.
  *
  * Training is full-batch subgradient descent on the perceptron loss
  * with a 1/t decaying step (Robbins–Monro schedule), EXACT in integer
  * arithmetic so the DuckDB oracle replays every update bit-for-bit:
  *  - features x: signed hashed unigram counts ([[QualityDim]] buckets,
  *    the `q_hash_embed` kernel), a scaled bias (bucket −1), the BPE-ish
  *    token count (bucket −2), and the repetition percentage (bucket −3)
  *    — all BIGINT;
  *  - epoch 1: w₁[b] = (S·Σᵢ yᵢxᵢ[b]) div n  (every doc misclassified
  *    at w₀ = 0);
  *  - epoch t: margins mᵢ = Σ_b xᵢ[b]·w[b]; misclassified = {yᵢmᵢ ≤ 0};
  *    w_t[b] = w_{t−1}[b] + ((S div t)·Σ_miss yᵢxᵢ[b]) div |miss|.
  * Both engines truncate integer division toward zero (Spark `div`,
  * DuckDB `//`), so negative update sums agree exactly.
  *
  * Scale shape: per epoch ONE delta-free pass — features join a
  * broadcast ≤(D+3)-row weight table, one map-combinable per-doc margin
  * aggregate, one map-combinable per-bucket update aggregate; the
  * misclassified-count denominator rides a broadcast 1-row aggregate
  * (no driver sync inside the loop). [[QualityEpochs]] epochs = that
  * many passes, each over the skinny (doc, bucket, x) frame, which is
  * built once and checkpointed. The trained weights persist AT REST
  * ([[PersistedStore]] `quality_model`), so scoring — the only stage
  * that runs per-ingest — never retrains; the ops' oracles replay the
  * FULL training from SQL, proving persisted ≡ fresh.
  *
  * Convergence at fixed epochs is measured, not assumed: the constant-
  * rate form oscillates (all-keep/all-drop flips between epochs on this
  * corpus); the 1/t schedule lands a stable non-degenerate boundary at
  * 93–96% teacher agreement across sf0.001/0.01/0.1 (QualityModelSpec
  * pins non-degeneracy and agreement ≥ 85%).
  */
object QualityModel {

  /** Hashed-feature buckets (0 .. dim−1); stat features sit below 0. */
  val QualityDim = 64

  /** Fixed-point step scale S: epoch t's step is S div t. */
  val QualityScale = 1024L

  /** Full-batch epochs (training cost = this many passes). */
  val QualityEpochs = 8

  /** Bias feature value — scaled to the stat features' magnitude so
    * the boundary can translate (a bias of 1 moves ~1000× slower than
    * the token-count coordinate and never catches up). */
  val QualityBias = 32L

  /** Teacher rule, integer form: repetition percent ≤ this. */
  val RepPctMax = 20L

  // ------------------------------------------------------------------
  // shared frames
  // ------------------------------------------------------------------

  /** Per-doc integer stats behind both the teacher label and the stat
    * features: (doc_id, n_tokens, n3, nd3) — BPE-ish token count,
    * 3-gram count and distinct-3-gram count (the repetition-gate
    * ingredients, integer so the rep feature/label replay exactly). */
  private def docStats(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(split(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      bpeishTokenCount(col("text")).cast("long").as("n_tokens"),
      greatest(nWords - 2, lit(0)).cast("long").as("n3"),
      when(nWords >= 3, size(wordShingles(col("text"), 3)).cast("long"))
        .otherwise(0L).as("nd3"))
  }

  /** The teacher: +1 iff the doc passes BOTH Gopher-style rules —
    * token count at/above the corpus P25 AND repetition percent ≤
    * [[RepPctMax]] (integer percent, so the oracle's rule is the same
    * arithmetic, not a double comparison). */
  private def labels(stats: DataFrame): DataFrame = {
    val p25 = stats.agg(expr("percentile(n_tokens, 0.25)").as("p25"))
    stats.crossJoin(broadcast(p25))
      .select(col("doc_id"),
        when(col("n_tokens") >= col("p25") &&
          (col("n3") === 0L ||
            expr(s"(100 * (n3 - nd3)) div n3") <= RepPctMax), 1L)
          .otherwise(-1L).as("y"))
  }

  /** Feature rows (doc_id, bucket, x): signed hashed unigram counts
    * (the `q_hash_embed` kernel at [[QualityDim]]) plus the three stat
    * features. Every doc gets the stat rows, so zero-text documents
    * still score (margin from bias/stat weights alone). */
  private def features(spark: SparkSession, dir: String,
      stats: DataFrame): DataFrame = {
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(asciiLower(col("text")), lit("[a-z]+"),
          lit(0))).as("tok"))
      .select(col("doc_id"), fingerprint(col("tok")).as("fp"))
      .select(col("doc_id"), (col("fp") % QualityDim).as("bucket"),
        when(expr(s"(fp div $QualityDim) % 2") === 0, 1L)
          .otherwise(-1L).as("sign"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign")).as("x"))
      .filter(col("x") =!= 0)
    hashed
      .unionByName(stats.select(col("doc_id"), lit(-1L).as("bucket"),
        lit(QualityBias).as("x")))
      .unionByName(stats.select(col("doc_id"), lit(-2L).as("bucket"),
        col("n_tokens").as("x")))
      .unionByName(stats.select(col("doc_id"), lit(-3L).as("bucket"),
        when(col("n3") === 0L, 0L)
          .otherwise(expr("(100 * (n3 - nd3)) div n3")).as("x")))
  }

  // ------------------------------------------------------------------
  // training
  // ------------------------------------------------------------------

  /** Run the full training fold and return the final weights
    * (bucket, w), zero weights dropped. Each epoch's weight table is
    * checkpointed (≤ [[QualityDim]]+3 rows) so the plan stays flat. */
  private[graft] def trainWeights(
      spark: SparkSession, dir: String): DataFrame = {
    val stats = docStats(spark, dir)
    val feat = features(spark, dir, stats).localCheckpoint()
    val lab = labels(stats).localCheckpoint()
    val nDocs = lab.count() // bounded: one scalar, once per training
    var w = lab.join(feat, Seq("doc_id"))
      .groupBy(col("bucket"))
      .agg(expr(s"($QualityScale * sum(y * x)) div $nDocs").as("w"))
      .localCheckpoint()
    for (t <- 2 to QualityEpochs) {
      val step = QualityScale / t
      val margins = feat.join(broadcast(w), Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg(sum(col("x") * col("w")).as("margin"))
      val miss = lab.join(margins, Seq("doc_id"), "left")
        .filter(col("y") * coalesce(col("margin"), lit(0L)) <= 0)
        .select(col("doc_id"), col("y"))
      // the |miss| denominator enters as a broadcast 1-row aggregate —
      // no driver round-trip per epoch
      val nm = miss.agg(greatest(count(lit(1)), lit(1L)).as("nm"))
      val upd = miss.join(feat, Seq("doc_id")).crossJoin(broadcast(nm))
        .groupBy(col("bucket"))
        .agg(expr(s"($step * sum(y * x)) div min(nm)").as("du"))
      w = w.join(upd, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("w"), lit(0L)) + coalesce(col("du"), lit(0L)))
            .as("w"))
        .localCheckpoint()
    }
    w.filter(col("w") =!= 0)
  }

  private val modelCache = new SessionCache.Cache[DataFrame]

  /** The trained weights AT REST (`quality_model` store) — trained once
    * per corpus, read by every scorer; session-cached on top. */
  private[graft] def standingModel(
      spark: SparkSession, dir: String): DataFrame =
    modelCache.getOrBuild(spark, dir, "documents.parquet") {
      val store = PersistedStore.ensure(spark, dir, "documents.parquet",
        "quality_model", "v2") { root => // v2: ascii-casefold law
        trainWeights(spark, dir).write.mode("overwrite")
          .parquet(s"$root/w")
      }
      Tables.parquet(spark, s"$store/w").localCheckpoint()
    }

  /** Score any (doc_id, …features-derivable) corpus against a weight
    * frame: (doc_id, margin, keep). One broadcast join + one
    * map-combinable per-doc aggregate — the stateless ingest shape. */
  private[graft] def scoreDocs(spark: SparkSession, dir: String,
      weights: DataFrame): DataFrame = {
    val stats = docStats(spark, dir)
    val margins = features(spark, dir, stats)
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * col("w")).as("m"))
    // LEFT from the corpus: a doc whose every feature bucket carries
    // zero weight has no margin row but must still score (margin 0,
    // dropped) — same law on the oracle side
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(margins, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("m"), lit(0L)).as("margin"),
        (coalesce(col("m"), lit(0L)) > 0L).as("keep"))
  }

  /** ROW-LOCAL scoring of any (doc_id, text) frame against a weight
    * frame — the streaming leg's kernel, usable on a stream because it
    * is stateless by construction: the weights enter as ONE broadcast
    * one-row map (many probes per row — the amortized placement), the
    * hashed-feature margin folds per TOKEN (Σ_tokens sign·w[bucket] ≡
    * Σ_buckets x_b·w_b — integer addition commutes, so the row-local
    * fold equals the batch group-by EXACTLY), and the stat features
    * are per-row expressions. [[QualityDim]] = 64 = 2⁶, so bucket and
    * sign decompose by mask/shift on the nonnegative fingerprint. */
  private[graft] def scoreRowLocal(spark: SparkSession, dir: String,
      docs: DataFrame): DataFrame = {
    require(QualityDim == 64,
      "scoreRowLocal's shift-6 sign decomposition assumes QualityDim = 64")
    import graft.functions.TextAnalysis.fingerprint
    val wmap = standingModel(spark, dir)
      .agg(map_from_entries(collect_list(
        struct(col("bucket"), col("w")))).as("wm"))
    def probe(b: Column): Column =
      coalesce(element_at(col("wm"), b), lit(0L))
    val toks = regexp_extract_all(asciiLower(col("text")), lit("[a-z]+"), lit(0))
    def tokTerm(t: Column): Column = {
      val fp = fingerprint(t)
      val sign = when(pmod(shiftright(fp, 6), lit(2)) === 0, 1L)
        .otherwise(-1L)
      sign * probe(pmod(fp, lit(QualityDim)))
    }
    val nW = size(split(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+"))
    docs.crossJoin(broadcast(wmap))
      .select(col("doc_id"),
        aggregate(transform(toks, t => tokTerm(t)), lit(0L),
          (a, x) => a + x)
          .as("tok_sum"),
        (lit(QualityBias) * probe(lit(-1L))).as("bias_term"),
        (bpeishTokenCount(col("text")).cast("long") * probe(lit(-2L)))
          .as("len_term"),
        greatest(nW - 2, lit(0)).cast("long").as("n3"),
        when(nW >= 3, size(wordShingles(col("text"), 3)).cast("long"))
          .otherwise(0L).as("nd3"),
        probe(lit(-3L)).as("w_rep"))
      .select(col("doc_id"),
        (col("tok_sum") + col("bias_term") + col("len_term") +
          when(col("n3") === 0L, 0L)
            .otherwise(expr("(100 * (n3 - nd3)) div n3")) * col("w_rep"))
          .as("margin"))
      .select(col("doc_id"), col("margin"),
        (col("margin") > 0L).as("keep"))
  }

  // ------------------------------------------------------------------
  // oracle SQL — the FULL training replay, shared by all three ops.
  // Multiply-referenced CTEs are AS MATERIALIZED: DuckDB otherwise
  // inlines each reference, and the epoch fold references w_{t-1}
  // twice, which would expand the chain exponentially.
  // ------------------------------------------------------------------

  private val tokRe = """[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]"""

  /** The scorer's CTE chain (all names `qm_`-prefixed so it composes
    * into the clean-corpus oracle without collisions). Emits
    * `qm_feat`, `qm_lab`, the final weights `qm_w` and per-doc scores
    * `qm_sc (doc_id, margin)`. `head` must be "WITH" or a prior CTE
    * list ending in ",". */
  private[graft] def scorerSql: String = {
    val b = new StringBuilder
    b ++= s"""qm_stats AS MATERIALIZED (
      |  SELECT doc_id,
      |    len(regexp_extract_all(text, '$tokRe')) AS n_tokens,
      |    greatest(len(l) - 2, 0) AS n3,
      |    CASE WHEN len(l) >= 3
      |      THEN len(list_distinct(list_transform(range(len(l) - 2),
      |             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])))
      |      ELSE 0 END AS nd3
      |  FROM (SELECT doc_id, text,
      |          string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0B\\f\\r]+') AS l
      |        FROM documents)
      |), qm_p AS (
      |  SELECT quantile_cont(n_tokens, 0.25) AS p25 FROM qm_stats
      |), qm_lab AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN n_tokens >= (SELECT p25 FROM qm_p)
      |          AND (n3 = 0 OR (100 * (n3 - nd3)) // n3 <= $RepPctMax)
      |         THEN 1 ELSE -1 END AS y
      |  FROM qm_stats
      |), qm_fh AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(tok, ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
      |  FROM (SELECT doc_id,
      |          unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS tok
      |        FROM documents)
      |), qm_hf AS (
      |  SELECT doc_id, fp % $QualityDim AS bucket,
      |    CAST(SUM(CASE WHEN (fp // $QualityDim) % 2 = 0
      |                  THEN 1 ELSE -1 END) AS BIGINT) AS x
      |  FROM qm_fh GROUP BY 1, 2
      |  HAVING SUM(CASE WHEN (fp // $QualityDim) % 2 = 0
      |             THEN 1 ELSE -1 END) <> 0
      |), qm_feat AS MATERIALIZED (
      |  SELECT doc_id, bucket, x FROM qm_hf
      |  UNION ALL SELECT doc_id, CAST(-1 AS BIGINT),
      |    CAST($QualityBias AS BIGINT) FROM qm_stats
      |  UNION ALL SELECT doc_id, CAST(-2 AS BIGINT),
      |    CAST(n_tokens AS BIGINT) FROM qm_stats
      |  UNION ALL SELECT doc_id, CAST(-3 AS BIGINT),
      |    CAST(CASE WHEN n3 = 0 THEN 0
      |              ELSE (100 * (n3 - nd3)) // n3 END AS BIGINT)
      |    FROM qm_stats
      |), qm_w1 AS MATERIALIZED (
      |  SELECT qm_feat.bucket,
      |    CAST(($QualityScale * SUM(qm_lab.y * qm_feat.x))
      |         // (SELECT COUNT(*) FROM qm_lab) AS BIGINT) AS w
      |  FROM qm_lab JOIN qm_feat ON qm_feat.doc_id = qm_lab.doc_id
      |  GROUP BY qm_feat.bucket
      |)""".stripMargin
    for (t <- 2 to QualityEpochs) {
      val step = QualityScale / t
      b ++= s""", qm_m$t AS (
        |  SELECT qm_feat.doc_id, SUM(qm_feat.x * qm_w${t - 1}.w) AS margin
        |  FROM qm_feat JOIN qm_w${t - 1}
        |    ON qm_feat.bucket = qm_w${t - 1}.bucket
        |  GROUP BY qm_feat.doc_id
        |), qm_miss$t AS MATERIALIZED (
        |  SELECT qm_lab.doc_id, qm_lab.y
        |  FROM qm_lab LEFT JOIN qm_m$t ON qm_lab.doc_id = qm_m$t.doc_id
        |  WHERE qm_lab.y * COALESCE(qm_m$t.margin, 0) <= 0
        |), qm_u$t AS (
        |  SELECT qm_feat.bucket,
        |    CAST(($step * SUM(qm_miss$t.y * qm_feat.x))
        |      // GREATEST((SELECT COUNT(*) FROM qm_miss$t), 1)
        |      AS BIGINT) AS du
        |  FROM qm_miss$t JOIN qm_feat
        |    ON qm_feat.doc_id = qm_miss$t.doc_id
        |  GROUP BY qm_feat.bucket
        |), qm_w$t AS MATERIALIZED (
        |  SELECT COALESCE(w.bucket, u.bucket) AS bucket,
        |    CAST(COALESCE(w.w, 0) + COALESCE(u.du, 0) AS BIGINT) AS w
        |  FROM qm_w${t - 1} w FULL JOIN qm_u$t u ON w.bucket = u.bucket
        |)""".stripMargin
    }
    b ++= s""", qm_w AS MATERIALIZED (
      |  SELECT bucket, w FROM qm_w$QualityEpochs WHERE w <> 0
      |), qm_sc AS MATERIALIZED (
      |  SELECT qm_feat.doc_id,
      |    CAST(SUM(qm_feat.x * qm_w.w) AS BIGINT) AS margin
      |  FROM qm_feat JOIN qm_w ON qm_feat.bucket = qm_w.bucket
      |  GROUP BY qm_feat.doc_id
      |)""".stripMargin
    b.toString
  }

  // ------------------------------------------------------------------
  // registered ops
  // ------------------------------------------------------------------

  /** The trained weight vector itself (the persisted model, full
    * training replayed by the oracle ⇒ persisted ≡ fresh). */
  val qualityModel: Op = Op(
    "q_quality_model",
    s"WITH $scorerSql\nSELECT bucket, w FROM qm_w") { (spark, dir) =>
    standingModel(spark, dir).select(col("bucket"), col("w"))
  }

  /** Every document scored by the standing model — the stateless
    * per-ingest stage: (doc_id, margin, keep). */
  /** The clean-corpus capstone WITH the learned gate folded in — the
    * optional fifth stage: heuristic `kept` (all four
    * [[Curation.cleanCorpus]] gates) alongside the trained model's
    * verdict and their conjunction. Full-recompute oracle: the
    * clean-corpus recursive-CTE chain AND the whole training replay in
    * one statement — a green row proves the composed pipeline end to
    * end, persisted model included. */
  val cleanCorpusScored: Op = Op(
    "q_clean_corpus_scored",
    Curation.cleanCorpusCtesSql +
      ",\nccres AS MATERIALIZED (\n" + Curation.cleanCorpusSelectSql +
      "\n),\n" + scorerSql + s"""
      |SELECT ccres.doc_id, ccres.kept AS heuristic_kept,
      |       COALESCE(qm_sc.margin, 0) > 0 AS scored_keep,
      |       ccres.kept AND COALESCE(qm_sc.margin, 0) > 0 AS kept_final
      |FROM ccres LEFT JOIN qm_sc ON qm_sc.doc_id = ccres.doc_id"""
        .stripMargin) { (spark, dir) =>
    val heuristic = Curation.cleanCorpus.build(spark, dir)
      .select(col("doc_id"), col("kept"))
    val scored = scoreDocs(spark, dir, standingModel(spark, dir))
      .select(col("doc_id"), col("keep"))
    heuristic.join(scored, Seq("doc_id"))
      .select(col("doc_id"), col("kept").as("heuristic_kept"),
        col("keep").as("scored_keep"),
        (col("kept") && col("keep")).as("kept_final"))
  }

  val qualityScore: Op = Op(
    "q_quality_score",
    s"""WITH $scorerSql
       |SELECT d.doc_id,
       |       CAST(COALESCE(qm_sc.margin, 0) AS BIGINT) AS margin,
       |       COALESCE(qm_sc.margin, 0) > 0 AS keep
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN qm_sc ON qm_sc.doc_id = d.doc_id""".stripMargin) {
    (spark, dir) =>
    scoreDocs(spark, dir, standingModel(spark, dir))
  }
}
