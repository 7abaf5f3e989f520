package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextAnalysis.fingerprint

/** Retrieval fusion and importance-weighted data selection — the two
  * passes between "we can retrieve" (q_bm25, q_ann_cosine) and "we can
  * pick training data with it":
  *
  *  - [[rrfFusion]]: hybrid lexical+vector retrieval via reciprocal
  *    rank fusion (Cormack, Clarke & Buettcher, SIGIR'09) — the
  *    standard zero-training way to combine a BM25 list with an
  *    embedding list. RRF works on RANKS only, so the fused score is
  *    exact integer arithmetic and the two systems' incomparable score
  *    scales never meet.
  *  - [[dsirWeights]]: hashed n-gram importance weights for data
  *    selection (the DSIR shape, Xie et al., NeurIPS'23): score every
  *    raw document by how target-like its hashed bigram features are
  *    under two smoothed feature models, and keep the top quartile.
  *
  * (North-star LLM-pipeline extensions; the reference has no retrieval
  * surface — its closest op is the ILIKE name lookup in
  * scripts/search/searchPricecharting.js.)
  */
object Retrieval {

  /** RRF dampening constant k — 60 in the original paper and in every
    * production default since (Elasticsearch, OpenSearch, Vespa). */
  val RrfK = 60L

  /** Integer RRF contribution scale: floor(1e12 / (k + rank)). At
    * 1e12 the rank-1 vs rank-2 gap is ~2.7e8 units — individual rank
    * positions never alias, and 2 systems × rank 1 stays far under
    * BIGINT. */
  val RrfScale = 1000000000000L

  /** Fused lists go this deep; the fused output keeps the top 5. */
  val RrfTopK = 5

  /** Vector-list queries: every embedding whose vec_id matches the
    * BM25 query set ([[TextOps.Bm25QueryMod]]) — doc_id and vec_id are
    * the same id space, so the two systems rank candidates for the
    * same query documents. */
  private[graft] def vectorRanks(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val e = Similarity.quantized(spark, dir)
    val q = e.filter(col("vec_id") % TextOps.Bm25QueryMod === 0).select(
      col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        Similarity.cosine(
          Similarity.idot(col("qv"), col("v")),
          col("qn"), col("n2")).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("doc_id").asc)
    scored.withColumn("vrk", row_number().over(w).cast("long"))
      .filter(col("vrk") <= TextOps.Bm25K)
      .select(col("qid"), col("doc_id"), col("vrk"))
  }

  /** Hybrid retrieval by reciprocal rank fusion: the registered BM25
    * top-10 lexical list and an exact-cosine top-10 vector list, fused
    * per (query, candidate) by `Σ floor(1e12 / (60 + rank))` over the
    * systems that ranked the candidate, top-[[RrfTopK]] kept.
    *
    * The lexical list IS [[TextOps.bm25]]'s registered build — shared
    * code, not a twin, so the fusion can never desynchronize from the
    * component op. Queries are the union of both systems' query sets
    * (a query doc with no embedding row still fuses — its vector list
    * is just empty), and candidates the union of both lists, the
    * standard RRF convention.
    *
    * Scale shape: both component lists are top-k frames — |queries|×k
    * rows, METADATA-sized next to the corpora they were distilled from
    * — so the full-outer fuse join and the final window both run on
    * k-bounded inputs. The expensive work is inside the component ops,
    * whose 100 TB shapes are their own (broadcast query terms / rare
    * postings for BM25; broadcast query vectors for the vector list —
    * swap in [[Similarity.pqAdcTrained]]'s index at corpus scale).
    * Fusion adds NOTHING data-scaled. */
  val rrfFusion: Op = Op(
    "q_rrf_fusion",
    s"""WITH lex AS (
       |  SELECT qid, doc_id, rnk FROM (${TextOps.bm25.oracle.get})
       |), e AS (
       |  SELECT vec_id, ${Similarity.QuantSql} AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |), q AS (
       |  SELECT vec_id AS qid, v AS qv, n2 AS qn FROM n
       |  WHERE vec_id % ${TextOps.Bm25QueryMod} = 0 AND n2 > 0
       |), vscored AS (
       |  SELECT qid, c.vec_id AS doc_id,
       |         CAST(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*c.v[i])) AS DOUBLE)
       |           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS cos
       |  FROM q, n c WHERE c.vec_id <> qid AND c.n2 > 0
       |), vr AS (
       |  SELECT qid, doc_id, vrk FROM (
       |    SELECT qid, doc_id, ROW_NUMBER() OVER (
       |      PARTITION BY qid ORDER BY cos DESC, doc_id ASC) AS vrk
       |    FROM vscored) WHERE vrk <= ${TextOps.Bm25K}
       |), fused AS (
       |  SELECT COALESCE(l.qid, v.qid) AS qid,
       |         COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |         COALESCE($RrfScale // (${RrfK} + l.rnk), 0)
       |           + COALESCE($RrfScale // (${RrfK} + v.vrk), 0) AS rrf_score
       |  FROM lex l FULL JOIN vr v ON l.qid = v.qid AND l.doc_id = v.doc_id
       |)
       |SELECT qid, doc_id, rrf_score, rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |            ORDER BY rrf_score DESC, doc_id ASC) AS rnk
       |  FROM fused) WHERE rnk <= $RrfTopK""".stripMargin) { (spark, dir) =>
    val lex = TextOps.bm25.build(spark, dir).select("qid", "doc_id", "rnk")
    val vr = vectorRanks(spark, dir)
    val fused = lex.join(vr, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(expr(s"$RrfScale div ($RrfK + rnk)"), lit(0L))
          + coalesce(expr(s"$RrfScale div ($RrfK + vrk)"), lit(0L)))
          .as("rrf_score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    fused.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= RrfTopK)
      .select("qid", "doc_id", "rrf_score", "rnk")
  }

  /** Hashed feature space for the DSIR models: buckets of the portable
    * rolling hash. Fixed and corpus-independent — the model tables are
    * O(DsirDim) broadcasts no matter the corpus size. */
  val DsirDim = 512L

  /** Fixed-point scale of the per-bucket likelihood ratio. */
  val DsirScale = 1000000L

  /** Documents whose `lang` equals this are the target distribution. */
  val DsirTargetLang = "en"

  /** Kept fraction: scores at or above the corpus p75 survive. */
  val DsirQuantile = 0.75

  /** DSIR-shaped importance weights over hashed bigram features: score
    * raw documents by target-likeness and keep the top quartile — the
    * data-selection pass of Xie et al. (NeurIPS'23), with the target
    * distribution stood in by the corpus' `lang = 'en'` slice.
    *
    * Features are word bigrams ([[TextOps.bigramArray]], the corpus
    * tokenizer convention) hashed into [[DsirDim]] buckets by the
    * portable rolling hash. Both feature models use add-one smoothing;
    * the per-bucket importance ratio is the single BIGINT floor
    * division
    * `(SCALE·(c_t+1)·(T_r+D)) div ((c_r+1)·(T_t+D))`
    * — the paper's log-likelihood-ratio sum is replaced by a
    * LINEAR-ratio sum (Σ c_doc(b)·ratio(b)), because `ln` carries no
    * cross-engine bit-exactness guarantee while floor division is
    * exact everywhere; the ordering it induces is the documented
    * contract. Product form stays in range while
    * `SCALE·T_t·T_r < 2^63` (≈3·10⁶ corpus bigrams per side at this
    * SCALE); past that, drop SCALE or move the ratio to DECIMAL(38,0).
    * Selection is the corpus-p75 broadcast-scalar device of
    * [[Curation.qualityGate]].
    *
    * Scale shape: the token stream reduces through ONE map-combinable
    * (doc, bucket) count; the feature models aggregate that frame to
    * [[DsirDim]] rows and broadcast back; scoring is a broadcast join
    * + one per-doc sum. Nothing downstream of the first aggregate is
    * corpus-scaled, and the models are fixed-size by construction —
    * the whole point of hashed features. */
  /** Per-(doc, bucket) hashed-bigram counts with the target flag — the
    * one corpus-scaled aggregate every DSIR surface builds from. */
  private val dsirDcCache = new SessionCache.Cache[DataFrame]

  /** [[dsirDocCounts]] session-cached (r14): the tokenize+hash pass is
    * the one corpus-scaled stage under BOTH the batch op and the
    * streaming leg's model build — the shared-index split every cache
    * in this stack makes. Parity is trivial (the cache stores the same
    * deterministic frame, localCheckpointed). */
  private[graft] def dsirDocCountsCached(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    dsirDcCache.getOrBuild(spark, dir, "documents.parquet", "dsir-dc")(
      dsirDocCounts(spark, dir).localCheckpoint())

  private[graft] def dsirDocCounts(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("lang") === DsirTargetLang).as("tgt"),
        col("text"))
    docs
      .select(col("doc_id"), col("tgt"), explode(TextOps.bigramArray).as("bg"))
      .select(col("doc_id"), col("tgt"),
        (fingerprint(concat_ws(" ", col("bg.w1"), col("bg.w2")))
          % DsirDim).as("bucket"))
      .groupBy(col("doc_id"), col("tgt"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The smoothed per-bucket importance-ratio table ([[DsirDim]] rows)
    * from a (doc, bucket) count frame. */
  private[graft] def dsirRatio(dc: DataFrame): DataFrame = {
    val m = dc.groupBy(col("bucket")).agg(
      sum(col("cnt")).as("c_r"),
      sum(when(col("tgt"), col("cnt")).otherwise(0L)).as("c_t"))
    val tot = m.agg(sum(col("c_r")).as("t_r"), sum(col("c_t")).as("t_t"))
    m.crossJoin(broadcast(tot)).select(col("bucket"),
      expr(s"($DsirScale * (c_t + 1) * (t_r + $DsirDim)) div " +
        s"((c_r + 1) * (t_t + $DsirDim))").as("ratio"))
  }

  /** Per-doc scores from the counts and the ratio table. */
  private[graft] def dsirScores(dc: DataFrame, ratio: DataFrame): DataFrame =
    dc.join(broadcast(ratio), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("ratio")).as("dsir_score"))

  val dsirWeights: Op = Op(
    "q_dsir_weights",
    s"""WITH t AS (
       |  SELECT doc_id, lang = '$DsirTargetLang' AS tgt,
       |         regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+') AS w
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, tgt, w[i] || ' ' || w[i+1] AS f
       |  FROM t, unnest(range(1, len(w))) AS x(i)
       |), h AS (
       |  SELECT doc_id, tgt,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(f, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) % $DsirDim AS bucket
       |  FROM b
       |), dc AS (
       |  SELECT doc_id, tgt, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM h GROUP BY 1, 2, 3
       |), m AS (
       |  SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS c_r,
       |         CAST(SUM(CASE WHEN tgt THEN cnt ELSE 0 END) AS BIGINT) AS c_t
       |  FROM dc GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(c_r) AS BIGINT) AS t_r, CAST(SUM(c_t) AS BIGINT) AS t_t
       |  FROM m
       |), r AS (
       |  SELECT bucket,
       |         ($DsirScale * (c_t + 1) * (t_r + $DsirDim))
       |           // ((c_r + 1) * (t_t + $DsirDim)) AS ratio
       |  FROM m, tot
       |), s AS (
       |  SELECT dc.doc_id, CAST(SUM(dc.cnt * r.ratio) AS BIGINT) AS dsir_score
       |  FROM dc JOIN r USING (bucket) GROUP BY 1
       |), thr AS (SELECT quantile_cont(dsir_score, $DsirQuantile) AS p75 FROM s)
       |SELECT doc_id, dsir_score, dsir_score >= p75 AS kept FROM s, thr""".stripMargin) {
    (spark, dir) =>
    // (doc, bucket) counts feed BOTH the models and the scoring join —
    // pinned once AND session-cached (shared with the streaming leg's
    // model build); the frame is ≤ docs×DsirDim rows.
    val dc = dsirDocCountsCached(spark, dir)
    val s = dsirScores(dc, dsirRatio(dc))
    val thr = s.agg(expr(s"percentile(dsir_score, $DsirQuantile)").as("p75"))
    s.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("dsir_score"),
        (col("dsir_score") >= col("p75")).as("kept"))
  }
}
