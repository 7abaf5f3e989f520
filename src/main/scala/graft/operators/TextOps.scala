package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextAnalysis._

/** Text-analysis operators over the `documents` table (north-star
  * extensions, SURVEY §7.4): quality scoring, language ID, token
  * counting, fingerprinting. All per-row expression work — zero
  * shuffles except the caller's aggregation, so these scale linearly
  * with input bytes at 100 TB.
  */
object TextOps {

  /** Quality scoring: whitespace + BPE-ish token counts, punctuation
    * ratio, stopword hits, and a pass/fail gate — the standard cheap
    * pre-filter before expensive LLM-data processing. */
  val textQuality: Op = Op(
    "q_text_quality",
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]')) AS n_bpeish_tokens,
      |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
      |  len(regexp_extract_all(text, '\bthe\b')) + len(regexp_extract_all(text, '\ba\b'))
      |    + len(regexp_extract_all(text, '\bof\b')) + len(regexp_extract_all(text, '\band\b'))
      |    + len(regexp_extract_all(text, '\bto\b')) + len(regexp_extract_all(text, '\bin\b'))
      |    + len(regexp_extract_all(text, '\bis\b')) AS stop_hits,
      |  (len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) >= 5
      |    AND CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      |        / CAST(greatest(length(text), 1) AS DOUBLE) < 0.2) AS quality_pass
      |FROM documents""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
    val nWs = wsTokenCount(col("text"))
    val pr = punctRatio(col("text"))
    d.select(col("doc_id"),
      nWs.as("n_ws_tokens"),
      bpeishTokenCount(col("text")).as("n_bpeish_tokens"),
      pr.as("punct_ratio"),
      stopwordCount(col("text"), EnglishStopwords).as("stop_hits"),
      (nWs >= 5 && pr < 0.2).as("quality_pass"))
  }

  /** Language ID via function-word markers + CJK codepoint class,
    * argmax with fixed tie order (en,es,fr,de), 'und' fallback. */
  val langIdOp: Op = Op(
    "q_lang_id", {
      def hits(ws: Seq[String]) = ws
        .map(w => s"len(regexp_extract_all(text, '\\b$w\\b'))").mkString(" + ")
      val scores = LangMarkers
        .map { case (l, ws) => s"${hits(ws)} AS s_$l" }.mkString(",\n      ")
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |      $scores,
         |      len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
         |  FROM documents
         |), g AS (SELECT *, greatest(s_en, s_es, s_fr, s_de) AS best FROM scored)
         |SELECT doc_id, lang,
         |  CASE WHEN s_zh > 0 THEN 'zh'
         |       WHEN s_en = best AND s_en > 0 THEN 'en'
         |       WHEN s_es = best AND s_es > 0 THEN 'es'
         |       WHEN s_fr = best AND s_fr > 0 THEN 'fr'
         |       WHEN s_de = best AND s_de > 0 THEN 'de'
         |       ELSE 'und' END AS lang_pred
         |FROM g""".stripMargin
    }) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), langId(col("text")).as("lang_pred"))
  }

  /** TF-IDF top-3 keyword extraction per document. The score keeps the
    * idf RATIO form `tf·(N+1)/(df+1)` instead of the log form: log is
    * not guaranteed correctly-rounded across libm implementations (an
    * ulp of divergence breaks a hash-exact oracle), the ratio is one
    * exact integer product and one IEEE division (deterministic
    * everywhere), and log is monotone so the per-doc RANKING — the
    * actual contract — is identical.
    *
    * Scale shape: tf is a (doc,term)-keyed hash aggregate (map-side
    * partial — each mapper emits one row per distinct term it saw); df
    * re-aggregates tf by term (vocab-sized, Zipf-concentrated — partial
    * aggs absorb the head); N is one broadcast scalar. The tf⋈df join
    * shuffles on term, and the final top-3 window partitions by doc_id —
    * high-cardinality, skew-free keys throughout. */
  val tfidfTerms: Op = Op(
    "q_tfidf_terms",
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\x0B\f\r]+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY doc_id, term
      |), df AS (
      |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         CAST(tf.tf * (n.n_docs + 1) AS DOUBLE)
      |           / CAST(df.df + 1 AS DOUBLE) AS score
      |  FROM tf JOIN df ON tf.term = df.term, n
      |)
      |SELECT doc_id, term, tf, df, score, rnk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |            ORDER BY score DESC, term ASC) AS rnk
      |  FROM scored)
      |WHERE rnk <= 3""".stripMargin) { (spark, dir) =>
    // the (doc, term) counts are a projection of the session-cached tf
    // index (r15 — the index groups by (doc_id, dl, term), and dl is
    // functionally determined by doc_id, so the groups are identical);
    // the former build re-tokenized and re-aggregated the corpus per
    // run. n_docs is the cached corpus scalar (count of documents —
    // the same law as the inline count it replaces).
    val tf = tfIndex(spark, dir).select(col("doc_id"), col("term"), col("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = bm25Stats(spark, dir)._1
    val scored = tf.join(df, Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        ((col("tf") * (lit(nDocs) + 1)).cast("double") /
          (col("df") + 1).cast("double")).as("score"))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)).cast("long"))
      .filter(col("rnk") <= 3)
      .select("doc_id", "term", "tf", "df", "score", "rnk")
  }

  /** Long-document chunking: split each doc into contiguous
    * [[ChunkWords]]-word training chunks (the pre-tokenization pass that
    * turns raw docs into sequence-budget-sized pieces). Pure map-only
    * generator work — the chunk list is built from array slices inside
    * the scan stage and exploded, zero shuffles; content is pinned by
    * the integer rolling-hash fingerprint of each chunk, so the oracle
    * is byte-exact, not count-only. The per-chunk `transform` lambda is
    * interpreted, but the chunk count per doc is n_words/32 (4 at this
    * corpus' max), not O(n_words) — unlike the shingle case, the inlined
    * split subtree re-evaluates a constant handful of times per row. */
  val ChunkWords = 32

  /** The doc → chunk-rows oracle CTEs (`d`, `chunks`) shared by
    * [[docChunks]] and [[chunkDedup]] — one SQL source for the
    * chunking law so a chunk-construction fix cannot diverge. */
  private[operators] def chunkCtes: String =
    s"""d AS (
       |  SELECT doc_id, string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0B\\f\\r]+') AS w
       |  FROM documents
       |), chunks AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |         len(list_slice(w, i*$ChunkWords+1, i*$ChunkWords+$ChunkWords)) AS n_words,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(string_split(
       |             array_to_string(list_slice(w, i*$ChunkWords+1, i*$ChunkWords+$ChunkWords), ' '), ''),
       |             c -> CAST(ascii(c) AS BIGINT))),
       |           (acc, x) -> (acc * 31 + x) % 1000000007) AS chunk_fp
       |  FROM d, unnest(range(CAST(ceil(len(w)/$ChunkWords.0) AS BIGINT))) AS t(i)
       |)""".stripMargin

  val docChunks: Op = Op(
    "q_doc_chunks",
    s"""WITH $chunkCtes
       |SELECT doc_id, chunk_idx, n_words, chunk_fp FROM chunks""".stripMargin) {
    (spark, dir) => chunksOf(Tables.documents(spark, dir))
  }

  /** [[docChunks]] kernel over any (doc_id, text) frame: map-only
    * chunking, (doc_id, chunk_idx, n_words, chunk_fp) rows. */
  def chunksOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val words = split(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+")
    val nChunks = ceil(size(words).cast("double") / ChunkWords).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1), i =>
      struct(i.cast("long").as("chunk_idx"),
        slice(words, i * ChunkWords + 1, lit(ChunkWords)).as("arr")))
    docs
      .select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        size(col("c.arr")).cast("long").as("n_words"),
        fingerprint(concat_ws(" ", col("c.arr"))).as("chunk_fp"))
  }

  /** Pack (doc_id, chunk_idx) into one orderable int64 — chunk_idx <
    * 10⁶ by construction ([[ChunkWords]]-word chunks ⇒ a 32M-word
    * per-doc bound, documented), the pack-the-ordering device shared
    * with the as-of oracles. */
  private[graft] val ChunkPack = 1000000L

  private val chunkIndexCache = new SessionCache.Cache[DataFrame]

  /** Full-corpus (doc_id, source, chunk_idx, n_words, chunk_fp) chunk
    * metadata — session-cached (r14): the text→words→chunks explode +
    * per-chunk fingerprint is the dominant map-stage cost under THREE
    * registered consumers (chunk dedup references the frame twice in
    * one plan — keeper aggregate + membership probe; both packing ops
    * re-built and re-checkpointed it per run). One build per
    * (session, corpus), localCheckpointed — chunk METADATA, ~5% of the
    * text bytes. `q_doc_chunks` deliberately does NOT ride this: its
    * contract (and plan gate) is the shuffle-free in-scan Generate.
    * Parity with fresh construction spec-pinned. */
  private[graft] def chunkIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    chunkIndexCache.getOrBuild(spark, dir, "documents.parquet",
      "chunk-index")(
      chunksWithSource(graft.Tables.documents(spark, dir)).localCheckpoint())

  /** [[chunksOf]] with the document's `source` carried through — the
    * packing siblings key their prefix sums on it. */
  private[graft] def chunksWithSource(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val words = split(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+")
    val nChunks = ceil(size(words).cast("double") / ChunkWords).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1), i =>
      struct(i.cast("long").as("chunk_idx"),
        slice(words, i * ChunkWords + 1, lit(ChunkWords)).as("arr")))
    docs
      .select(col("doc_id"), col("source"), explode(chunks).as("c"))
      .select(col("doc_id"), col("source"),
        col("c.chunk_idx").as("chunk_idx"),
        size(col("c.arr")).cast("long").as("n_words"),
        fingerprint(concat_ws(" ", col("c.arr"))).as("chunk_fp"))
  }

  /** Chunk-level (paragraph) dedup — the CCNet recipe at chunk
    * granularity: a chunk SURVIVES iff it is the corpus-wide FIRST
    * occurrence of its content fingerprint, first = smallest
    * (doc_id, chunk_idx). Per document: chunks in, chunks kept, and
    * the rolling hash over the surviving chunk fingerprints in
    * chunk order — the reassembled-document witness, so the contract
    * is byte-exact, not count-only.
    *
    * Distinct from `q_dedup_exact` (whole-document granularity) and
    * `q_span_dedup` (substring granularity): this is the granularity
    * that strips boilerplate paragraphs shared between otherwise
    * distinct documents while leaving the rest of each document
    * intact.
    *
    * Scale shape: chunking is map-only ([[chunksOf]]); the
    * first-keeper table is ONE map-combinable MIN aggregate on
    * chunk_fp; membership is an equi-join on fp (AQE broadcasts the
    * keeper table when it fits); the per-doc rollup folds the doc's
    * own ≤ n_chunks fingerprints. All integer, no windows, nothing
    * pairwise — a duplicate group of any size costs one aggregate
    * row, the group-style contract. */
  val chunkDedup: Op = Op(
    "q_chunk_dedup",
    s"""WITH $chunkCtes,
       |k AS (
       |  SELECT chunk_fp,
       |         MIN(doc_id * $ChunkPack + chunk_idx) AS first_key
       |  FROM chunks GROUP BY chunk_fp
       |), m AS (
       |  SELECT c.doc_id, c.chunk_idx, c.chunk_fp,
       |         c.doc_id * $ChunkPack + c.chunk_idx = k.first_key AS kept
       |  FROM chunks c JOIN k USING (chunk_fp)
       |)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    COALESCE(list(chunk_fp ORDER BY chunk_idx) FILTER (WHERE kept),
       |      CAST([] AS BIGINT[]))),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS kept_fp
       |FROM m GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    // rides the session-cached chunk index (r14): the op's plan
    // references the chunk frame twice (keeper aggregate + membership
    // probe), so lazily the chunk explode ran twice per run
    chunkDedupOf(chunkIndex(spark, dir).drop("source"))
  }

  /** [[chunkDedup]]'s first-keeper table over any chunk frame:
    * (chunk_fp, first_key) — ONE map-combinable MIN aggregate. The
    * MIN monoid is what makes the incremental sibling exact: corpus
    * keeper = min(standing keeper, delta keeper). */
  def chunkKeepersOf(chunks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    chunks.groupBy(col("chunk_fp"))
      .agg(min(col("doc_id") * ChunkPack + col("chunk_idx"))
        .as("first_key"))

  /** [[chunkDedup]]'s per-doc rollup of `chunks` against a supplied
    * first-keeper table — shared by the batch op (keepers from the
    * same chunks) and the incremental sibling (keepers = persisted
    * standing table folded with the delta's own). */
  def chunkDedupRollup(chunks: org.apache.spark.sql.DataFrame,
      keepers: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val key = col("doc_id") * ChunkPack + col("chunk_idx")
    chunks.join(keepers, Seq("chunk_fp"))
      .withColumn("kept", key === col("first_key"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        aggregate(
          transform(array_sort(collect_list(
            when(col("kept"),
              struct(col("chunk_idx"), col("chunk_fp"))))),
            e => e.getField("chunk_fp")),
          lit(0L),
          (acc, x) => (acc * 31 + x) % 1000000007L).as("kept_fp"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        col("kept_fp"))
  }

  /** [[chunkDedup]] kernel over any (doc_id, chunk_idx, chunk_fp)
    * chunk frame. */
  def chunkDedupOf(chunks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    chunkDedupRollup(chunks, chunkKeepersOf(chunks))

  private[graft] val chunkKeepersCache = new SessionCache.Cache[DataFrame]

  /** The STANDING corpus' first-keeper table — session-cached AND at
    * rest (`chunk_keepers` store): (chunk_fp, first_key) over the
    * standing slice, the artifact a delta batch probes. */
  private[graft] def standingChunkKeepers(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    chunkKeepersCache.getOrBuild(spark, dir, "documents.parquet") {
      val store = graft.operators.PersistedStore.ensure(spark, dir,
        "documents.parquet", "chunk_keepers", "v2") { root => // v2: ascii-casefold law
        chunkKeepersOf(chunksOf(Tables.documents(spark, dir)
          .filter(col("doc_id") % Dedup.IncrementalDeltaMod =!= 0)))
          .write.mode("overwrite").parquet(s"$root/keepers")
      }
      Tables.parquet(spark, s"$store/keepers")
    }

  /** [[chunkDedupIncr]]'s kernel over any delta chunk frame + standing
    * first-keeper table: the delta's own keeper MIN folds against the
    * standing artifact via `least` (missing standing fp = +∞), and the
    * rollup runs on the folded corpus keepers — MIN is a monoid, so
    * corpus keeper = min(standing, delta) EXACTLY, never a corpus
    * rescan. */
  def chunkDedupIncrOf(deltaChunks: org.apache.spark.sql.DataFrame,
      standingKeepers: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val corpusK = chunkKeepersOf(deltaChunks)
      .select(col("chunk_fp"), col("first_key").as("delta_first"))
      .join(standingKeepers
        .select(col("chunk_fp"), col("first_key").as("standing_first")),
        Seq("chunk_fp"), "left")
      .select(col("chunk_fp"),
        least(col("delta_first"),
          coalesce(col("standing_first"), lit(Long.MaxValue)))
          .as("first_key"))
    chunkDedupRollup(deltaChunks, corpusK)
  }

  /** Shared oracle of the incremental/bucketed chunk-dedup twins: the
    * BATCH law restricted to delta documents (a def, not a val — both
    * registered ops interpolate it at their own init). */
  private def chunkDedupIncrOracle: String =
    s"""WITH $chunkCtes,
       |k AS (
       |  SELECT chunk_fp,
       |         MIN(doc_id * $ChunkPack + chunk_idx) AS first_key
       |  FROM chunks GROUP BY chunk_fp
       |), m AS (
       |  SELECT c.doc_id, c.chunk_idx, c.chunk_fp,
       |         c.doc_id * $ChunkPack + c.chunk_idx = k.first_key AS kept
       |  FROM chunks c JOIN k USING (chunk_fp)
       |)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    COALESCE(list(chunk_fp ORDER BY chunk_idx) FILTER (WHERE kept),
       |      CAST([] AS BIGINT[]))),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS kept_fp
       |FROM m WHERE doc_id % ${Dedup.IncrementalDeltaMod} = 0
       |GROUP BY doc_id""".stripMargin

  /** The BUCKETED-LAYOUT form of the standing keeper table — the
    * probe that survives a keeper table too big to broadcast (the
    * `q_dedup_incr_bucketed` device): the (chunk_fp, first_key) rows
    * are PERSISTED as a hash-clustered, sorted managed table on
    * chunk_fp, so the delta's keeper-fold left join plans as a
    * sort-merge join whose keeper side reads straight from the bucket
    * files — NO keeper-side Exchange, ever (plan-gated); the only
    * shuffle is the (small) aggregated delta keeper frame
    * repartitioning to the layout. Written once per (session, corpus)
    * and reused; the merge hint pins SMJ so a bench-scale keeper
    * table can't silently flip the demonstration back to a
    * broadcast. */
  private[graft] def bucketedChunkKeepers(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    // the table name embeds the chunk_keepers STORE GENERATION (its
    // versioned root dir name), not just the corpus path: a corpus
    // regenerated at the same path within a session rebuilds the
    // store under a fresh ver-* dir, which misses here and re-buckets
    // — without this the bucketed probe silently served stale keepers
    val keepers = standingChunkKeepers(spark, dir) // ensures the store
    val ver = {
      val root = PersistedStore.currentRoot(spark, dir, "chunk_keepers")
      root.substring(root.lastIndexOf('/') + 1)
    }
    // the dir component is a FIXED-WIDTH digest, not the sanitized path:
    // sanitized paths are prefix-ambiguous (dir "data/web" prefixes
    // "data/web/clean", and "data/x.y" collides with "data/x_y"), so a
    // prefix-matched stale-table drop could hit ANOTHER corpus' live
    // table; an 8-hex md5 key is self-delimiting
    val dirKey = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
    val prefix = s"gb_chunk_keepers_${dirKey}_"
    val table = (prefix + ver).replaceAll("[^a-zA-Z0-9]", "_")
    if (!spark.catalog.tableExists(table)) {
      // a regenerated corpus re-buckets under the NEW store generation;
      // the previous generation's table (and warehouse dir) would
      // otherwise accumulate forever in a long-lived session — drop
      // every older generation of THIS corpus before writing the new one
      spark.catalog.listTables().collect()
        .map(_.name)
        .filter(t => t.startsWith(prefix) && t != table)
        .foreach { stale =>
          spark.sql(s"DROP TABLE IF EXISTS $stale")
          SinkOps.deleteDir(spark,
            s"${spark.conf.get("spark.sql.warehouse.dir")}/$stale")
        }
      SinkOps.deleteDir(spark,
        s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
      graft.sources.Bucketing.writeBucketed(
        keepers, table, "chunk_fp", 16)
    }
    spark.table(table).hint("merge")
  }

  /** [[chunkDedupIncr]] through the persisted bucketed keeper layout —
    * same oracle (identical output by construction: same keeper fold,
    * same rollup; only the probe join's physical layout differs).
    * Registered so the bench measures the bucketed probe as its own
    * steady-state number. */
  val chunkDedupBucketed: Op = Op(
    "q_chunk_dedup_bucketed",
    chunkDedupIncrOracle) { (spark, dir) =>
    chunkDedupIncrOf(
      chunksOf(Tables.documents(spark, dir)
        .filter(col("doc_id") % Dedup.IncrementalDeltaMod === 0))
        .localCheckpoint(),
      bucketedChunkKeepers(spark, dir))
  }

  /** INCREMENTAL chunk dedup — the `q_dedup_incremental` shape at
    * chunk granularity: the standing corpus' first-keeper table is
    * yesterday's PERSISTED artifact ([[standingChunkKeepers]]); an
    * arriving delta chunks map-only and folds through
    * [[chunkDedupIncrOf]]. The oracle is the BATCH law restricted to
    * delta documents — the green row proves incremental ≡ batch, the
    * standing-labels device. */
  val chunkDedupIncr: Op = Op(
    "q_chunk_dedup_incr",
    chunkDedupIncrOracle) { (spark, dir) =>
    // the delta chunk frame feeds BOTH the keeper fold and the rollup
    // join — pin it once (the dsirDocCounts device) so the delta is
    // scanned once and the final plan touches no documents scan at all
    chunkDedupIncrOf(
      chunksOf(Tables.documents(spark, dir)
        .filter(col("doc_id") % Dedup.IncrementalDeltaMod === 0))
        .localCheckpoint(),
      standingChunkKeepers(spark, dir))
  }

  /** Deterministic rolling-hash fingerprint per document (integer-only
    * polynomial hash — bit-identical across engines). */
  val docFingerprint: Op = Op(
    "q_doc_fingerprint",
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
      |FROM documents""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
  }

  /** DATA CARD — the dataset-datasheet stage every training-data
    * pipeline publishes with a corpus (per (lang, source): document /
    * token / char volumes, distinct-content count, quality-pass
    * count). Composes the engine's standing text laws — the
    * dialect-free whitespace token count, the integer rolling-hash
    * content fingerprint (distinct CONTENT, not distinct doc_id), and
    * `q_text_quality`'s exact gate — into one map-side-combinable
    * aggregate.
    *
    * Scale shape: everything per-doc computes inside the scan stage
    * (codegen, no UDFs); the only shuffles are the (lang, source, fp)
    * partial aggregate feeding the exact distinct-content count (rows
    * bounded by distinct corpus content per group — the approx sibling
    * at 100 TB is `q_approx_distinct`'s HLL) and the final tiny
    * (lang, source) rollup. A Zipf language mix skews one group large,
    * but each group's row is one aggregate — no per-group iteration,
    * no window. */
  val dataCard: Op = Op(
    "q_data_card",
    """WITH d AS (
      |  SELECT lang, source,
      |    len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS n_tok,
      |    length(text) AS n_ch,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp,
      |    (len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) >= 5
      |      AND CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      |          / CAST(greatest(length(text), 1) AS DOUBLE) < 0.2) AS pass
      |  FROM documents
      |)
      |SELECT lang, source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_ch) AS BIGINT) AS n_chars,
      |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
      |  CAST(COUNT(CASE WHEN pass THEN 1 END) AS BIGINT) AS n_quality_pass
      |FROM d GROUP BY lang, source""".stripMargin) { (spark, dir) =>
    val nWs = wsTokenCount(col("text"))
    val pr = punctRatio(col("text"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        nWs.cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_ch"),
        fingerprint(col("text")).as("fp"),
        (nWs >= 5 && pr < 0.2).as("pass"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_ch")).as("n_chars"),
        countDistinct(col("fp")).as("n_distinct"),
        count(when(col("pass"), lit(1))).as("n_quality_pass"))
  }

  /** Bigram language-model counts: top-3 next words per head word by
    * corpus frequency — the n-gram statistics pass behind perplexity
    * filters and repetition diagnostics in a training-data pipeline.
    *
    * Bigrams are built WITHOUT a per-document window shuffle: the token
    * array is zipped against itself shifted by one (`zip_with(w[1..n-1],
    * w[2..n])`) inside the scan stage, so the plan is scan → Generate →
    * one map-side-combinable (w1, w2) aggregate → a window over the
    * aggregated (vocab²-bounded, tiny) count table. At 100 TB the only
    * event-scaled shuffle is the pre-aggregated bigram count. */
  val bigramLm: Op = Op(
    "q_bigram_lm",
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+') AS w FROM documents
      |), b AS (
      |  SELECT w[i] AS w1, w[i+1] AS w2 FROM t, unnest(range(1, len(w))) AS x(i)
      |), c AS (
      |  SELECT w1, w2, COUNT(*) AS cnt FROM b GROUP BY 1, 2
      |)
      |SELECT w1, w2, cnt, rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2) AS rk
      |  FROM c) WHERE rk <= 3""".stripMargin) { (spark, dir) =>
    // counts from the session-cached occurrence rows (r15); the
    // generic kernel [[bigramTopK]] stays for ad-hoc frames
    val counts = bigramRows(spark, dir).filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("w1")).orderBy(col("cnt").desc, col("w2").asc)))
      .filter(col("rk") <= 3)
  }

  /** [[bigramLm]] kernel: top-k next words per head over `text`. */
  def bigramTopK(docs: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val counts = docBigrams(docs)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("w1")).orderBy(col("cnt").desc, col("w2").asc)))
      .filter(col("rk") <= k)
  }

  /** The word-bigram array of `text`: the token array zipped against
    * its own shift-by-one inside the scan stage — the ONE definition
    * both the LM counts and the novelty gate tokenize with (a tokenizer
    * tweak applied to a single consumer would silently desynchronize
    * the rarity stats from the counts they're supposed to share). */
  def bigramArray: org.apache.spark.sql.Column = {
    val w = regexp_extract_all(asciiLower(col("text")), lit("[a-z]+"), lit(0))
    zip_with(
      slice(w, lit(1), greatest(size(w) - 1, lit(0))),
      slice(w, lit(2), greatest(size(w) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** (doc_id, w1, w2) word-bigram stream over [[bigramArray]], built
    * WITHOUT a per-document window shuffle (see [[bigramLm]]). */
  def docBigrams(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(bigramArray).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  private val bigramRowCache = new SessionCache.Cache[DataFrame]

  /** (doc_id, lang, w1, w2) word-bigram occurrence rows of the corpus,
    * with one NULL-marker row per document with < 2 tokens
    * (explode_outer — the [[bigramNoveltyOf]] device) — session-cached
    * (r15): FOUR registered consumers (`q_bigram_lm`,
    * `q_bigram_novelty`, `q_ppl_buckets`, `q_collocations`) each
    * re-tokenized + re-exploded the corpus per run to build this exact
    * stream. Columnar `persist()` (the window-rows footprint device):
    * the word columns dictionary-encode, bounding the resident size.
    * Consumers that need only real bigrams filter `w1 IS NOT NULL`
    * (bigram structs never carry null words, so null w1 ⇔ marker). */
  private[graft] def bigramRows(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    bigramRowCache.getOrBuild(spark, dir, "documents.parquet",
      "bigram-rows") {
      val df = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), explode_outer(bigramArray).as("bg"))
        .select(col("doc_id"), col("lang"),
          col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .persist()
      df.count()
      df
    }

  /** A bigram is "rare" below this corpus frequency. */
  val RareBelow = 3

  /** Fluency gate from the corpus's own bigram statistics — the
    * zero-external-model form of a perplexity filter (CCNet filters on
    * a KenLM score; the signal is the same "how unusual are this
    * document's word transitions"): a document whose bigrams are mostly
    * unseen elsewhere in the corpus is likelier noise than fluent text.
    * Per doc: bigram total, rare-transition count (corpus frequency
    * < [[RareBelow]]), and the gate as an integer cross-multiplication
    * (rare·20 > total ⇔ rare fraction > 5%) — no IEEE division anywhere
    * in the contract, so the flag is bit-identical across engines.
    *
    * Scale shape: by Zipf's law the FREQUENT bigram set (count ≥
    * [[RareBelow]]) is the small head of the distribution — broadcast
    * it and detect rarity as a left-join null probe. The hapax-heavy
    * rare tail (the large half of vocab²) is never a join side at all,
    * and the doc-scaled stream never shuffles on bigram text: the only
    * doc-scaled exchange carries per-doc partial counts. The count
    * build itself ships map-combined (w1, w2) partials, exactly like
    * [[bigramLm]]. */
  val bigramNovelty: Op = Op(
    "q_bigram_novelty",
    s"""WITH t AS (
      |  SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+') AS w FROM documents
      |), b AS (
      |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM t, unnest(range(1, len(w))) AS x(i)
      |), c AS (
      |  SELECT w1, w2, COUNT(*) AS cnt FROM b GROUP BY 1, 2
      |), d AS (
      |  SELECT b.doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN c.cnt < $RareBelow THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      |  FROM b JOIN c USING (w1, w2) GROUP BY 1
      |)
      |SELECT doc_id,
      |  coalesce(n_bigrams, 0) AS n_bigrams,
      |  coalesce(n_rare, 0) AS n_rare,
      |  coalesce(n_rare * 20 > n_bigrams, FALSE) AS novelty_flag
      |FROM documents LEFT JOIN d USING (doc_id)""".stripMargin) { (spark, dir) =>
    // occurrence rows from the session cache (r15) — marker rows for
    // zero-bigram docs are already in the cached frame
    bigramNoveltyOfRows(
      bigramRows(spark, dir).select(col("doc_id"), col("w1"), col("w2")))
  }

  /** [[bigramNovelty]] kernel over any (doc_id, text) frame.
    *
    * `explode_outer` (not `explode`) keeps a null marker row for docs
    * with < 2 tokens, so zero-bigram docs come out of the SAME per-doc
    * aggregate with (0, 0, false) — no re-join against the corpus to
    * restore them (an earlier draft paid a second documents scan and a
    * doc-keyed join for exactly that). Null bigram keys never match the
    * frequent set, and `count(w1)` counts only real bigrams.
    *
    * The frequent set is corpus-derived, so its size grows with the
    * corpus: at 100 TB the count>=RareBelow head can be far larger than
    * any broadcast budget. No broadcast hint here on purpose — AQE
    * sees the aggregate's actual runtime size and picks broadcast when
    * it fits, falling back to a shuffle join when it doesn't, instead
    * of a hinted hard driver/executor OOM. */
  def bigramNoveltyOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bigramNoveltyOfRows(
      docs.select(col("doc_id"), explode_outer(bigramArray).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2")))

  /** [[bigramNoveltyOf]] over a PREPARED (doc_id, w1, w2) occurrence
    * frame carrying the explode_outer marker rows — the registered op
    * passes the session-cached [[bigramRows]]. */
  private[graft] def bigramNoveltyOfRows(b: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val frequent = b.filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= RareBelow)
      .select(col("w1"), col("w2"), lit(1).as("is_freq"))
    b.join(frequent, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(col("w1")).as("n_bigrams"),
        sum(when(col("w1").isNotNull && col("is_freq").isNull, 1L)
          .otherwise(0L)).as("n_rare"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("n_rare"),
        (col("n_rare") * 20 > col("n_bigrams")).as("novelty_flag"))
  }

  /** Perplexity terciles per language. */
  val PplBuckets = 3

  /** CCNet-style head/middle/tail perplexity bucketing (Wenzek et al.
    * 2019: score every document with a per-language LM, split each
    * language's corpus into perplexity terciles, train preferentially
    * on the head). The LM is the engine's own per-language bigram
    * count table (the zero-external-model stance of [[bigramNovelty]],
    * upgraded from a rare-fraction flag to a real per-transition
    * score), and the score is the integer SELF-INFORMATION of each
    * transition: `bitlen(N_lang) − bitlen(c(w1,w2))` with `bitlen(n) =
    * length(bin(n))` — the floor-log2 form of `−log2 P(w1,w2)`, exact
    * integer arithmetic instead of a transcendental `log` (the
    * lift-instead-of-PMI device of [[collocations]], applied to
    * surprisal). The JOINT form is deliberate: the self-trained
    * conditional MLE `−log2 c12/c1` assigns ZERO information to hapax
    * transitions (a gibberish doc of unique word pairs would score as
    * head — CCNet dodges that degeneracy only because its KenLM is
    * trained on an external reference corpus with smoothing), while
    * joint self-information is maximal exactly there. Per doc:
    * `mbits` = milli-bits per transition = `(1000·Σ bits) div
    * n_bigrams`; bucket = `ntile(3)` per language over (mbits asc,
    * doc_id) — 1 = head (most typical), 3 = tail. Docs with < 2 LM
    * tokens are unmodelable → tail by definition, NULL mbits.
    *
    * Scale shape: the scoring join touches per-doc bigram TYPES (not
    * occurrences) against the aggregate-bounded per-language count
    * table (vocab²-bounded head — AQE broadcasts when it fits, same
    * stance as [[bigramNoveltyOf]]); the only other doc-scaled
    * exchanges are map-combinable aggregates. The tercile window sorts
    * ONE ROW PER DOCUMENT partitioned BY LANGUAGE — the smallest
    * data-scaled frame in the pipeline, and exactly how CCNet shards
    * the split in production. */
  val pplBuckets: Op = Op(
    "q_ppl_buckets",
    s"""WITH t AS (
      |  SELECT doc_id, lang, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+') AS w
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
      |  FROM t, unnest(range(1, len(w))) AS x(i)
      |), ty AS (
      |  SELECT lang, doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
      |  FROM b GROUP BY 1, 2, 3, 4
      |), c12 AS (
      |  SELECT lang, w1, w2, CAST(SUM(k) AS BIGINT) AS c12
      |  FROM ty GROUP BY 1, 2, 3
      |), nl AS (
      |  SELECT lang, CAST(SUM(c12) AS BIGINT) AS n_lang
      |  FROM c12 GROUP BY 1
      |), sc AS (
      |  SELECT ty.lang, ty.doc_id,
      |    CAST(SUM(k) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(k * (length(bin(nl.n_lang)) - length(bin(c12.c12)))) AS BIGINT) AS bits
      |  FROM ty JOIN c12 USING (lang, w1, w2) JOIN nl USING (lang)
      |  GROUP BY 1, 2
      |), bk AS (
      |  SELECT lang, doc_id, n_bigrams,
      |    (1000 * bits) // n_bigrams AS mbits,
      |    CAST(ntile($PplBuckets) OVER (PARTITION BY lang
      |      ORDER BY (1000 * bits) // n_bigrams, doc_id) AS BIGINT) AS bucket
      |  FROM sc
      |)
      |SELECT d.doc_id, d.lang,
      |  CAST(COALESCE(bk.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  bk.mbits,
      |  CAST(COALESCE(bk.bucket, $PplBuckets) AS BIGINT) AS bucket
      |FROM documents d LEFT JOIN bk ON bk.doc_id = d.doc_id""".stripMargin) {
    (spark, dir) =>
    // occurrence rows from the session cache (r15); the final left
    // join still reads (doc_id, lang) from documents — a 2-column
    // projection, never the text
    pplBucketsFrom(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
      bigramRows(spark, dir).filter(col("w1").isNotNull))
  }

  /** (doc_id, lang, w1, w2) bigram OCCURRENCE rows of a docs frame. */
  private def docLangBigrams(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("lang"), explode(bigramArray).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Model aggregates over an occurrence frame — the only
    * occurrence-scaled exchange ships map-combined (lang, w1, w2)
    * partials ([[bigramLm]]'s shape). */
  private def pplModelFrom(b: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val c12 = b.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    (c12, c12.groupBy(col("lang")).agg(sum(col("c12")).as("n_lang")))
  }

  /** Scoring over occurrence rows and a (c12, n_lang) model —
    * (lang, doc_id, n_bigrams, mbits) per doc with ≥ 1 LM bigram.
    *
    * The [[bigramNoveltyOf]] Zipf shape, upgraded to a score:
    * `Σ bits = n·bitlen(N_lang) − Σ bitlen(c12)`, and `bitlen(c12) = 1`
    * for BOTH hapax (c12 = 1) and unseen (c12 = 0 — `bin(0) = '0'`)
    * transitions — so only the c12 ≥ 2 HEAD (the small end of the
    * Zipf distribution) ever joins the occurrence stream, as a
    * broadcast left join when it fits (no hint — AQE decides); the
    * hapax-heavy tail is never a join side, and the occurrence stream
    * never shuffles on bigram text: the only data-scaled exchange
    * carries per-doc partial (count, Σ bitlen) pairs. Measured at
    * sf0.1: types-join form 1.95 s → this form 1.25 s. */
  private def pplScoresFrom(b: org.apache.spark.sql.DataFrame,
      c12: org.apache.spark.sql.DataFrame,
      nLang: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val head = c12.filter(col("c12") >= 2)
    b.join(head, Seq("lang", "w1", "w2"), "left")
      .groupBy(col("lang"), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(length(bin(col("c12"))).cast("long"), lit(1L)))
          .as("c12_bits"))
      .join(nLang, Seq("lang"))
      .select(col("lang"), col("doc_id"), col("n_bigrams"),
        expr("""(1000 * (n_bigrams * cast(length(bin(n_lang)) as bigint)
                 - c12_bits)) div n_bigrams""").as("mbits"))
  }

  /** The per-language bigram LM of a docs frame: ((lang, w1, w2, c12),
    * (lang, n_lang)) — the [[pplBuckets]] model, exposed so the
    * streaming leg can train on the STANDING slice only. */
  def pplModelOf(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    pplModelFrom(docLangBigrams(docs))

  /** Model AND scores of one docs frame — the store build's shape
    * (model persists, scores derive the cuts) off one shared
    * occurrence tree. */
  def pplModelAndScores(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val b = docLangBigrams(docs)
    val (c12, nLang) = pplModelFrom(b)
    (c12, nLang, pplScoresFrom(b, c12, nLang))
  }

  /** Per-doc LM scores of [[pplBuckets]] — (lang, doc_id, n_bigrams,
    * mbits) for every doc with at least one LM bigram, scored against
    * the frame's own per-language model. */
  def pplScores(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val b = docLangBigrams(docs)
    val (c12, nLang) = pplModelFrom(b)
    pplScoresFrom(b, c12, nLang)
  }

  /** [[pplBuckets]] kernel over any (doc_id, lang, text) frame. */
  def pplBucketsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    pplBucketsFrom(docs.select(col("doc_id"), col("lang")),
      docLangBigrams(docs))

  /** [[pplBucketsOf]] over a PREPARED (doc_id, lang) frame and a
    * (doc_id, lang, w1, w2) occurrence frame — the registered op
    * passes the session-cached [[bigramRows]]. */
  private[graft] def pplBucketsFrom(
      docsIdLang: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("mbits").asc, col("doc_id").asc)
    val (c12, nLang) = pplModelFrom(b)
    val bucketed = pplScoresFrom(b, c12, nLang)
      .withColumn("bucket", ntile(PplBuckets).over(w).cast("long"))
    docsIdLang
      .join(bucketed.select(col("doc_id"), col("n_bigrams"),
        col("mbits"), col("bucket")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mbits"),
        coalesce(col("bucket"), lit(PplBuckets.toLong)).as("bucket"))
  }

  /** A bigram qualifies as a collocation candidate at this corpus
    * count — the published practice (Manning & Schütze ch. 5: raw-count
    * floors kill the hapax noise that dominates PMI's top ranks). */
  val CollocMinCount = 5

  /** Collocations reported. */
  val CollocTopK = 50

  /** Collocation extraction — the corpus-analysis pass behind
    * tokenizer/vocab decisions (which adjacent-word pairs behave as
    * units): rank bigrams by association LIFT
    * `N·c(w1,w2) / (c(w1)·c(w2))` — the exponential of PMI, so the
    * ranking is PMI's ranking without a cross-engine `log` (no bit
    * guarantee for transcendentals; products and one division of
    * exactly-represented counts are IEEE-identical in both engines,
    * the cosine device). Count floor [[CollocMinCount]] applies first.
    *
    * Scale shape: token/bigram counts are the same map-combinable
    * aggregates as [[bigramLm]] (the only corpus-scaled shuffle
    * carries pre-aggregated counts); the floored bigram head joins the
    * vocab-sized unigram table (AQE broadcasts when it fits); the
    * global top-[[CollocTopK]] is a `TakeOrderedAndProject`, and the
    * rank window runs on those [[CollocTopK]] rows only — bounded
    * metadata, never the corpus. */
  val collocations: Op = Op(
    "q_collocations",
    s"""WITH t AS (
      |  SELECT regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+') AS w FROM documents
      |), u AS (
      |  SELECT x AS w, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT unnest(w) AS x FROM t) GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS tot FROM u
      |), b AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM (
      |    SELECT w[i] AS w1, w[i+1] AS w2
      |    FROM t, unnest(range(1, len(w))) AS x(i))
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $CollocMinCount
      |), j AS (
      |  SELECT b.w1, b.w2, b.n12, u1.n AS n1, u2.n AS n2,
      |    (CAST(tot.tot AS DOUBLE) * CAST(b.n12 AS DOUBLE))
      |      / (CAST(u1.n AS DOUBLE) * CAST(u2.n AS DOUBLE)) AS lift
      |  FROM b JOIN u u1 ON u1.w = b.w1 JOIN u u2 ON u2.w = b.w2, tot
      |)
      |SELECT w1, w2, n12, n1, n2, lift, rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS rk
      |  FROM j) WHERE rk <= $CollocTopK""".stripMargin) { (spark, dir) =>
    // bigram counts from the session-cached occurrence rows (r15);
    // the unigram table still scans documents (the bigram stream
    // misses each doc's last token by construction)
    collocationsFrom(Tables.documents(spark, dir),
      bigramRows(spark, dir).filter(col("w1").isNotNull))
  }

  /** [[collocations]] kernel over any (doc_id, text) frame. */
  def collocationsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    collocationsFrom(docs, docBigrams(docs))

  /** [[collocationsOf]] with the bigram occurrences supplied — the
    * registered op passes the session-cached [[bigramRows]]. */
  private[graft] def collocationsFrom(docs: org.apache.spark.sql.DataFrame,
      bigrams: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(explode(regexp_extract_all(asciiLower(col("text")),
      lit("[a-z]+"), lit(0))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("n"))
    val total = uni.agg(sum(col("n")).as("tot"))
    val big = bigrams
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= CollocMinCount)
    val ranked = big
      .join(uni.select(col("w").as("w1"), col("n").as("n1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n").as("n2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("lift",
        (col("tot").cast("double") * col("n12").cast("double")) /
          (col("n1").cast("double") * col("n2").cast("double")))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(CollocTopK)
    // rank window over the CollocTopK-row TakeOrderedAndProject output
    // only — bounded metadata
    ranked
      .withColumn("rk", row_number().over(
        Window.orderBy(col("lift").desc, col("w1"), col("w2"))))
      .select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"),
        col("lift"), col("rk"))
  }

  /** Feature-hash dimensionality of [[hashEmbed]]. */
  val HashDim = 32

  /** Feature hashing (the hashing trick, Weinberger et al. ICML'09):
    * each document becomes a fixed-[[HashDim]]-dimension signed
    * token-count vector with NO vocabulary build — bucket =
    * fingerprint(token) mod D, sign from the next hash bit, counts
    * summed per (doc, bucket). The zero-state featurizer: unlike
    * TF-IDF there is no corpus pass to learn a vocabulary, so it
    * works on an unbounded stream and never needs re-fitting.
    * Emitted relationally as (doc_id, bucket, w) sparse rows, w ≠ 0.
    *
    * Deterministic across engines because the fingerprint is the
    * integer rolling hash ([[graft.functions.TextAnalysis.fingerprint]],
    * replayed in the oracle via list_reduce) and everything after is
    * integer arithmetic. Scale shape: map-only hash + ONE
    * map-combinable (doc, bucket) aggregate — the shuffle carries at
    * most D rows per document. */
  val hashEmbed: Op = Op(
    "q_hash_embed",
    s"""WITH t AS (
       |  SELECT doc_id, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS tok
       |  FROM documents
       |), f AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
       |  FROM t
       |)
       |SELECT doc_id, fp % $HashDim AS bucket,
       |  CAST(SUM(CASE WHEN (fp // $HashDim) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w
       |FROM f GROUP BY 1, 2
       |HAVING SUM(CASE WHEN (fp // $HashDim) % 2 = 0 THEN 1 ELSE -1 END) <> 0""".stripMargin) {
    (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(regexp_extract_all(asciiLower(col("text")), lit("[a-z]+"),
            lit(0))).as("tok"))
        .select(col("doc_id"), fingerprint(col("tok")).as("fp"))
        .select(col("doc_id"), (col("fp") % HashDim).as("bucket"),
          when(expr(s"(fp div $HashDim) % 2") === 0, 1L)
            .otherwise(-1L).as("sign"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(sum(col("sign")).as("w"))
        .filter(col("w") =!= 0)
  }

  /** Docs per ingestion batch of [[vocabGrowth]]. */
  val VocabBatchSize = 100

  /** Vocabulary-growth telemetry over ingestion order — the Heaps-law
    * curve a continuous-ingest pipeline watches: per batch of
    * [[VocabBatchSize]] docs (doc_id order = arrival order), the token
    * volume, the batch-distinct vocabulary, the NEW tokens (corpus
    * first-seen in this batch) and the cumulative vocabulary. A corpus
    * whose n_new stops decaying is drifting (new domain, new language,
    * or garbage); one whose curve flattens early is saturating.
    * Tokenization is the corpus-wide `[a-z]+` convention of
    * [[bigramArray]].
    *
    * Scale shape: the token stream reduces through two map-combinable
    * aggregates — (batch, tok) distinct, then min(batch) per token —
    * so the shuffle carries one row per distinct (batch, token) and
    * one per token; everything after is METADATA-sized (one row per
    * batch), where the running total's window sort is free. At 100 TB
    * the first-seen frame IS the incremental vocabulary index: persist
    * it keyed by token and each new batch anti-joins it instead of
    * recomputing history. */
  val vocabGrowth: Op = Op(
    "q_vocab_growth",
    s"""WITH d AS (
       |  SELECT doc_id // $VocabBatchSize AS batch, translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS lt FROM documents
       |), t AS (
       |  SELECT batch, unnest(regexp_extract_all(lt, '[a-z]+')) AS tok FROM d
       |), bt AS (
       |  SELECT DISTINCT batch, tok FROM t
       |), fs AS (
       |  SELECT tok, MIN(batch) AS fb FROM bt GROUP BY 1
       |), nn AS (
       |  SELECT fb AS batch, COUNT(*) AS n_new FROM fs GROUP BY 1
       |), dc AS (
       |  SELECT batch, COUNT(*) AS n_distinct FROM bt GROUP BY 1
       |), ti AS (
       |  SELECT batch, COUNT(*) AS n_tokens FROM t GROUP BY 1
       |), dd AS (
       |  SELECT batch, COUNT(*) AS n_docs FROM d GROUP BY 1
       |)
       |SELECT dd.batch AS batch, n_docs,
       |  COALESCE(n_tokens, 0) AS n_tokens,
       |  COALESCE(n_distinct, 0) AS n_distinct,
       |  COALESCE(nn.n_new, 0) AS n_new,
       |  CAST(SUM(COALESCE(nn.n_new, 0)) OVER (ORDER BY dd.batch) AS BIGINT)
       |    AS vocab_cum
       |FROM dd
       |LEFT JOIN ti ON ti.batch = dd.batch
       |LEFT JOIN dc ON dc.batch = dd.batch
       |LEFT JOIN nn ON nn.batch = dd.batch""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
      .select(expr(s"doc_id div $VocabBatchSize").as("batch"),
        asciiLower(col("text")).as("lt"))
    val t = docs.select(col("batch"),
      explode(regexp_extract_all(col("lt"), lit("[a-z]+"), lit(0)))
        .as("tok"))
    val bt = t.select(col("batch"), col("tok")).distinct()
    val nNew = bt.groupBy(col("tok")).agg(min(col("batch")).as("batch"))
      .groupBy(col("batch")).agg(count(lit(1)).as("n_new"))
    val nDistinct = bt.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_distinct"))
    val nTokens = t.groupBy(col("batch")).agg(count(lit(1)).as("n_tokens"))
    val nDocs = docs.groupBy(col("batch")).agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nDocs
      .join(nTokens, Seq("batch"), "left")
      .join(nDistinct, Seq("batch"), "left")
      .join(nNew, Seq("batch"), "left")
      .select(col("batch"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("vocab_cum", sum(col("n_new")).over(w))
  }

  /** BM25 top-k retrieval over the corpus — the lexical half of a
    * retrieval stack next to the ANN family (north-star extension; the
    * reference's closest surface is its ILIKE product search,
    * scripts/feeds/buildGoogleFeed.js:53-57, which scans unranked).
    *
    * Contract: every doc with `doc_id % 101 = 0` is a query; its query
    * terms are its distinct tokens of length ≥ 7 (the rare-term tail —
    * short tokens are stopword-dominated and would drag in every doc).
    * Each query retrieves the top-[[Bm25K]] OTHER docs by a rational-idf
    * BM25 with k1 = 6/5, b = 3/4, evaluated in INTEGER fixed-point
    * (the PageRank device: float BM25 sums are shuffle-order-dependent
    * and can never hash-match an oracle):
    *
    *  - idf_fp     = ⌊10⁶ · (N − df + ½)/(df + ½)⌋
    *                 = (10⁶ · (2N − 2df + 1)) div (2df + 1)
    *    — Robertson's idf argument without the log wrap; exactly
    *    representable, same df-monotonicity, no transcendentals.
    *  - tfnorm_fp  = ⌊10⁶ · tf(k1+1) / (tf + k1(1−b+b·dl/avgdl))⌋ with
    *    avgdl = T/N substituted and the fraction cleared:
    *                 (10⁶ · 44·tf·T) div (20·tf·T + 6·T + 18·dl·N)
    *  - score(q,d) = Σ_t idf_fp(t) · tfnorm_fp(d,t)  — BIGINT-exact in
    *    both engines (≤ ~2·10¹⁷ at any tested scale).
    *
    * Plan shape at 100 TB: the query-term table is tiny by construction
    * (|queries| · rare terms), so candidate generation is a BROADCAST
    * join against the postings — the corpus never shuffles to meet the
    * queries. Document length rides the tokenize pass as a fused
    * `size(tokens)` column (no per-doc join), per-term df is computed
    * only for query terms, and the one real shuffle is the final
    * (query, doc) score aggregate, whose volume is bounded by postings
    * of matched terms. Top-k runs agg-before-window: the window sees
    * one row per (query, doc), never raw postings.
    */
  val Bm25K = 10
  val Bm25QueryMod = 101

  /** The fixed-point BM25 term contribution — shared verbatim by the
    * batch op and the streaming probe so the two paths cannot drift.
    * Expects columns tf, df, dl, n_docs, t_tokens in scope.
    */
  private[graft] val bm25PartCol =
    (expr("(1000000 * (2*n_docs - 2*df + 1)) div (2*df + 1)") *
      expr("(1000000 * 44 * tf * t_tokens) div " +
        "(20*tf*t_tokens + 6*t_tokens + 18*dl*n_docs)")).as("part")

  val bm25: Op = Op(
    "q_bm25",
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0B\\f\\r]+') AS w
       |  FROM documents
       |), words AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term FROM toks
       |), tf AS (
       |  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM words GROUP BY doc_id, dl, term
       |), df AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
       |), stats AS (
       |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |         CAST(SUM(dl) AS BIGINT) AS t_tokens
       |  FROM (SELECT doc_id, ANY_VALUE(dl) AS dl FROM tf GROUP BY doc_id)
       |), qterms AS (
       |  SELECT doc_id AS qid, term FROM tf
       |  WHERE doc_id % $Bm25QueryMod = 0 AND length(term) >= 7
       |), hits AS (
       |  SELECT q.qid, tf.doc_id,
       |         ((CAST(1000000 AS BIGINT) * (2*s.n_docs - 2*df.df + 1)) // (2*df.df + 1))
       |         * ((CAST(1000000 AS BIGINT) * 44 * tf.tf * s.t_tokens)
       |            // (20*tf.tf*s.t_tokens + 6*s.t_tokens + 18*tf.dl*s.n_docs)) AS part
       |  FROM qterms q
       |  JOIN tf ON tf.term = q.term AND tf.doc_id <> q.qid
       |  JOIN df ON df.term = q.term
       |  CROSS JOIN stats s
       |), scored AS (
       |  SELECT qid, doc_id, CAST(SUM(part) AS BIGINT) AS score
       |  FROM hits GROUP BY qid, doc_id
       |)
       |SELECT qid, doc_id, score, rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |            ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |WHERE rnk <= $Bm25K""".stripMargin) { (spark, dir) =>
    // every branch here is a SLICE of the session-cached df-annotated
    // rare index (r15): query terms are ≥7 chars by contract, so the
    // query-term extraction, the per-term df AND the candidate postings
    // all live inside the rare slice — the former build re-scanned the
    // full tf index three times per run (qterm df aggregate, corpus
    // stats, posting join). Corpus stats are cached scalars (bounded
    // metadata), inlined as literals.
    val rare = bm25RareIndex(spark, dir)
    val qterms = rare.filter(col("doc_id") % Bm25QueryMod === 0)
      .select(col("doc_id").as("qid"), col("term"))
    val (nDocs, tTokens) = bm25TfStats(spark, dir)
    val hits = rare.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("t_tokens", lit(tTokens))
      .select(col("qid"), col("doc_id"), bm25PartCol)
    val scored = hits.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("part")).as("score"))
    scored.withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rnk") <= Bm25K)
      .select("qid", "doc_id", "score", "rnk")
  }

  /** Standing BM25 index for the streaming probe: postings restricted
    * to terms of length ≥ 7 — by contract the ONLY terms a query can
    * carry — each row already joined with its term df and the doc's dl.
    * Rare-term postings are a small fraction of the corpus (the Zipf
    * head is all short tokens), which is what makes the index
    * broadcastable where full postings never would be; a df cap is the
    * documented second bound if a corpus breaks that assumption.
    */
  private val rareIndexCache = new SessionCache.Cache[DataFrame]

  private[graft] def bm25RareIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    // session-cached (r15): the df-annotated rare slice is the shared
    // probe-side index of q_bm25, q_bm25_pruned (via the pruned index)
    // and the streaming probe — each consumer was re-running the slice
    // + df aggregate + join (two tf passes) per run
    rareIndexCache.getOrBuild(spark, dir, "documents.parquet", "bm25-rare") {
      // (doc, term) groups are per-term, so restricting to ≥7-char terms
      // AFTER the shared tf aggregate leaves every kept group's tf/df
      // untouched — the rare index is a slice of the session tf index
      val tf = tfIndex(spark, dir).filter(length(col("term")) >= 7)
      tf.join(tf.groupBy(col("term")).agg(count(lit(1)).as("df")), Seq("term"))
        .localCheckpoint()
    }

  private[graft] val tfIndexCache = new SessionCache.Cache[DataFrame]

  /** Whole-vocabulary term-frequency index — (doc_id, dl, term, tf),
    * the tokenize + first aggregate EVERY lexical-retrieval surface
    * starts from ([[bm25]], [[bm25Pruned]], the streaming probe's rare
    * index, RRF fusion's lexical list). Session-cached AND at rest
    * ([[PersistedStore]], round-7): this is the persisted
    * inverted-index split made literal — the index is written once per
    * corpus and probed by every query and every later session, never
    * rebuilt per query. */
  private[graft] def tfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    tfIndexCache.getOrBuild(spark, dir, "documents.parquet") {
      val store = graft.operators.PersistedStore.ensure(spark, dir,
        "documents.parquet", "tf_index", "v2") { root => // v2: ascii-casefold law
        val toks = Tables.documents(spark, dir)
          .select(col("doc_id"),
            split(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+").as("w"))
        toks.select(col("doc_id"),
            size(col("w")).cast("long").as("dl"), explode(col("w")).as("term"))
          .groupBy(col("doc_id"), col("dl"), col("term"))
          .agg(count(lit(1)).as("tf"))
          .write.mode("overwrite").parquet(s"$root/tf")
      }
      Tables.parquet(spark, s"$store/tf")
    }

  private val bm25StatsCache = new SessionCache.Cache[(Long, Long)]

  /** Corpus scalars the probe needs: (n_docs, t_tokens) over ALL tokens
    * (dl counts every token, not just rare ones). One driver-side row —
    * bounded metadata, same device as the derived watermark; session-
    * cached (r15): every pruned/streaming consumer re-tokenized the
    * corpus per run just to re-derive the same two scalars. */
  private[graft] def bm25Stats(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Long) =
    bm25StatsCache.getOrBuild(spark, dir, "documents.parquet", "docstats") {
      val r = Tables.documents(spark, dir)
        .select(size(split(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+")).cast("long").as("dl"))
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).head()
      (r.getLong(0), r.getLong(1))
    }

  /** (n_docs, t_tokens) derived from the tf index exactly the way
    * [[bm25]]'s former inline `stats` frame derived them (count of
    * docs with a tf row + sum of their dl) — cached corpus metadata.
    * Kept as its own derivation rather than aliasing [[bm25Stats]]:
    * the two agree on every corpus whose docs all tokenize to ≥ 1
    * term, but the law here is "stats over the tf index", and the
    * oracle replays this form. */
  private[graft] def bm25TfStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Long) =
    bm25StatsCache.getOrBuild(spark, dir, "documents.parquet", "tfstats") {
      val r = tfIndex(spark, dir)
        .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).head()
      (r.getLong(0), r.getLong(1))
    }

  /** Impact-ordered index pruning (Anh & Moffat's static pruning,
    * re-expressed relationally): keep only the top-[[Bm25PrunePostings]]
    * postings per term by fixed-point impact (the tfnorm factor — the
    * per-posting score ceiling, since idf is constant within a term).
    *
    * Why it exists: the soak measured the UNPRUNED match log at
    * exponent ~2.1 across sf0.01→sf0.1 — the query set grows with the
    * corpus AND each query term's posting list grows with the corpus,
    * so the log is quadratic even though per-query work is "only"
    * linear. Capping postings per term bounds per-query candidates at
    * |query terms| · P regardless of corpus size, which turns the
    * match log linear in the number of queries — the sparse-output
    * sibling move (fuzzyBest, embedNearDupAnn) applied to retrieval.
    * True df still scores idf (standard static pruning: stats are
    * corpus stats, only the traversal is truncated).
    */
  val Bm25PrunePostings = 32

  private val prunedIndexCache = new SessionCache.Cache[DataFrame]

  private[graft] def bm25PrunedIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    // session-cached (r15): the impact prune is the STATIC half of
    // Anh & Moffat pruning — at 100 TB it is a persisted index build
    // like tf_index itself, not per-query work; the query-side probe
    // below still computes per run
    prunedIndexCache.getOrBuild(spark, dir, "documents.parquet",
      "bm25-pruned") {
      val (nDocs, tTokens) = bm25Stats(spark, dir)
      bm25RareIndex(spark, dir)
        .withColumn("n_docs", lit(nDocs))
        .withColumn("t_tokens", lit(tTokens))
        .withColumn("impact",
          expr("(1000000 * 44 * tf * t_tokens) div " +
            "(20*tf*t_tokens + 6*t_tokens + 18*dl*n_docs)"))
        .withColumn("pr", row_number().over(Window.partitionBy(col("term"))
          .orderBy(col("impact").desc, col("doc_id").asc)))
        .filter(col("pr") <= Bm25PrunePostings)
        .drop("pr", "impact", "n_docs", "t_tokens")
        .localCheckpoint()
    }

  /** BM25 over the impact-pruned index — the registered 100 TB
    * retrieval shape. Contract identical to [[bm25]] except postings
    * truncated to the top-[[Bm25PrunePostings]] impacts per term
    * (deterministic: impact desc, doc_id asc), which the oracle
    * replays exactly. Rank quality vs the unpruned op is pinned in
    * Bm25Spec (measured rank-1 agreement).
    */
  val bm25Pruned: Op = Op(
    "q_bm25_pruned",
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0B\\f\\r]+') AS w
       |  FROM documents
       |), words AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term FROM toks
       |), tf AS (
       |  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM words GROUP BY doc_id, dl, term
       |), df AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
       |), stats AS (
       |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |         CAST(SUM(dl) AS BIGINT) AS t_tokens
       |  FROM (SELECT doc_id, ANY_VALUE(dl) AS dl FROM tf GROUP BY doc_id)
       |), imp AS (
       |  SELECT tf.doc_id, tf.dl, tf.term, tf.tf,
       |         ((CAST(1000000 AS BIGINT) * 44 * tf.tf * s.t_tokens)
       |          // (20*tf.tf*s.t_tokens + 6*s.t_tokens + 18*tf.dl*s.n_docs)) AS impact
       |  FROM tf CROSS JOIN stats s
       |  WHERE length(tf.term) >= 7
       |), pruned AS (
       |  SELECT doc_id, dl, term, tf FROM (
       |    SELECT imp.*, ROW_NUMBER() OVER (PARTITION BY term
       |              ORDER BY impact DESC, doc_id ASC) AS pr
       |    FROM imp)
       |  WHERE pr <= $Bm25PrunePostings
       |), qterms AS (
       |  SELECT doc_id AS qid, term FROM tf
       |  WHERE doc_id % $Bm25QueryMod = 0 AND length(term) >= 7
       |), hits AS (
       |  SELECT q.qid, p.doc_id,
       |         ((CAST(1000000 AS BIGINT) * (2*s.n_docs - 2*df.df + 1)) // (2*df.df + 1))
       |         * ((CAST(1000000 AS BIGINT) * 44 * p.tf * s.t_tokens)
       |            // (20*p.tf*s.t_tokens + 6*s.t_tokens + 18*p.dl*s.n_docs)) AS part
       |  FROM qterms q
       |  JOIN pruned p ON p.term = q.term AND p.doc_id <> q.qid
       |  JOIN df ON df.term = q.term
       |  CROSS JOIN stats s
       |), scored AS (
       |  SELECT qid, doc_id, CAST(SUM(part) AS BIGINT) AS score
       |  FROM hits GROUP BY qid, doc_id
       |)
       |SELECT qid, doc_id, score, rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |            ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |WHERE rnk <= $Bm25K""".stripMargin) { (spark, dir) =>
    val (nDocs, tTokens) = bm25Stats(spark, dir)
    val idx = bm25PrunedIndex(spark, dir)
    val qterms = bm25RareIndex(spark, dir)
      .filter(col("doc_id") % Bm25QueryMod === 0)
      .select(col("doc_id").as("qid"), col("term"))
    val hits = idx.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("t_tokens", lit(tTokens))
      .select(col("qid"), col("doc_id"), bm25PartCol)
    val scored = hits.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("part")).as("score"))
    scored.withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rnk") <= Bm25K)
      .select("qid", "doc_id", "score", "rnk")
  }

  /** Stateless streaming BM25 probe: arriving query docs explode to
    * their distinct rare terms map-side and broadcast-join the standing
    * index — no state store, no stream-side shuffle before the sink.
    * Emits the (qid, doc_id, part) match log; the registered op rolls
    * up scores and ranks in batch (the stream-incr-dedup pattern).
    */
  private[graft] def bm25ProbeRows(spark: org.apache.spark.sql.SparkSession,
      dir: String, arrivals: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val (nDocs, tTokens) = bm25Stats(spark, dir)
    val qterms = arrivals.select(col("doc_id").as("qid"),
      explode(array_distinct(filter(
        split(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+"),
        t => length(t) >= 7))).as("term"))
    qterms.join(broadcast(bm25RareIndex(spark, dir)), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("t_tokens", lit(tTokens))
      .select(col("qid"), col("doc_id"), bm25PartCol)
  }
}
