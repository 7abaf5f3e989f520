package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Structured Streaming surfaced through the driver contract: the
  * incremental tumbling-window pipeline must produce EXACTLY the batch
  * answer, so it registers with the same DuckDB oracle as the batch
  * twin [[Windows.tumblingWindow]] — the strongest statement of
  * batch/stream parity the harness can express (SURVEY §2.10).
  */
object StreamingOps {

  /** Streaming content-key dedup ≡ batch DISTINCT (see
    * [[EventStream.runDedupToParquet]] for why the watermark makes the
    * parity exact here, and why the sink is an at-rest parquet file
    * sink rather than driver memory — the r14 second-decade catch). */
  val streamDedup: Op = Op(
    "q_stream_dedup",
    """SELECT DISTINCT user_id, event_type,
      |       CAST(ROUND(value*100) AS BIGINT) AS value_cents
      |FROM events""".stripMargin) { (spark, dir) =>
    val root = SinkOps.stagingDir(dir,
      s"stream_dedup_${SessionCache.sessionId(spark).take(8)}")
    EventStream.runDedupToParquet(spark, dir, root)
    graft.Tables.parquet(spark, s"$root/out")
  }

  /** The flagship pipeline run incrementally: per-micro-batch day-merge
    * through foreachBatch + Sinks.upsertByDay
    * ([[EventStream.runBestOfDayIncremental]]), registered with the SAME
    * oracle as the batch [[Pricing.bestOfDay]] — the engine's headline
    * kernel provably produces the batch answer when driven by a stream
    * of snapshot files with idempotent day replay (ref
    * 03_build_market_price_daily.js:106-170 + the cron cadence,
    * SURVEY §2.10). */
  val streamBestOfDay: Op = Op(
    "q_stream_best_of_day",
    Pricing.bestOfDay.oracle.get) { (spark, dir) =>
    // base = the amortized backfill layout (kept across runs, like the
    // bucketed tables); the stream-merge of the 30-day tail replays on
    // the first call per session (hot + checkpoint reset), later calls
    // drain the live query — see EventStream.runBestOfDayLive
    val base = SinkOps.stagingDir(dir, "stream_bod_base")
    val hot = SinkOps.stagingDir(dir, "stream_bod_hot")
    EventStream.runBestOfDayLive(
      spark, dir, "lineitem.parquet", base, hot)
    EventStream.readBestOfDayStore(spark, base, hot)
      .select(col("market_item_id"),
        col("as_of_date").cast("date").as("as_of_date"),
        col("source"), col("price_type"), col("value_cents"))
  }

  /** Stream-stream watermarked attribution join (click→purchase within
    * 1 hour, per user) ≡ the batch interval self-join the oracle runs. */
  val streamJoin: Op = Op(
    "q_stream_join",
    """SELECT c.user_id,
      |       c.event_id AS click_id,
      |       p.event_id AS purchase_id,
      |       CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
      |       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
      |       CAST(ROUND(p.value*100) AS BIGINT) AS purchase_cents
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR""".stripMargin) {
    (spark, dir) =>
    spark.table(
      EventStream.runAttributionToMemory(spark, dir, "q_stream_join_mem"))
  }

  /** Streaming session windows (native `session_window` state-store
    * merge) ≡ the batch gap-sessionization the oracle computes. The
    * window end is last-event + gap by definition; half-open windows ⇒
    * `>=` on the gap test. */
  val streamSessionize: Op = Op(
    "q_stream_sessionize",
    """WITH ev AS (
      |  SELECT user_id, event_id,
      |         CAST(epoch_us(ts) AS BIGINT) AS us,
      |         CAST(ROUND(value*100) AS BIGINT) AS cents
      |  FROM events
      |), flagged AS (
      |  SELECT *,
      |         CASE WHEN lag(us) OVER w IS NULL
      |                OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |), numbered AS (
      |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged
      |)
      |SELECT user_id,
      |       MIN(us) AS start_us,
      |       MAX(us) + 1800000000 AS end_us,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(cents) AS BIGINT) AS value_cents
      |FROM numbered
      |GROUP BY user_id, session_idx""".stripMargin) { (spark, dir) =>
    val root = SinkOps.stagingDir(dir,
      s"stream_sess_${SessionCache.sessionId(spark).take(8)}")
    EventStream.runSessionizeToParquet(spark, dir, root)
    graft.Tables.parquet(spark, s"$root/out")
      .select("user_id", "start_us", "end_us", "n_events", "value_cents")
  }

  /** Streaming incremental dedup ≡ the batch delta-vs-corpus op — the
    * SAME oracle as [[Dedup.dedupIncremental]]. The stream emits the
    * verified match log (stateless probe of the static MinHash index —
    * [[EventStream.runIncrDedupToMemory]]); the op rolls the log up per
    * delta doc in batch (distinct first: a pair verified in several
    * bands appears once per band in the log). */
  val streamIncrDedup: Op = Op(
    "q_stream_incr_dedup",
    Dedup.dedupIncremental.oracle.get) { (spark, dir) =>
    spark.table(EventStream.runIncrDedupToMemory(
        spark, dir, "q_stream_incr_dedup_mem"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(min(col("corpus_id")).as("dup_of"),
        count(lit(1)).as("n_matches"),
        max(col("jaccard")).as("best_j"))
  }

  /** Streaming chunk-level dedup ≡ the incremental batch twin — the
    * SAME oracle as [[TextOps.chunkDedupIncr]], completing the
    * batch/incremental/streaming triple on ONE kernel
    * ([[TextOps.chunkDedupIncrOf]]). The stream emits the stateless
    * per-chunk probe log against the persisted standing keeper store
    * ([[EventStream.runChunkDedupToMemory]]); the op re-derives the
    * standing keepers it needs from the log itself (standing_first is
    * a function of chunk_fp, so MIN per fp recovers it exactly) and
    * folds through the shared incremental kernel in batch. */
  val streamChunkDedup: Op = Op(
    "q_stream_chunk_dedup",
    TextOps.chunkDedupIncr.oracle.get) { (spark, dir) =>
    // the memory sink's MemoryPlan is not a MultiInstanceRelation, so
    // the kernel's log ⋈ agg(log) self-join can't deduplicate its
    // attribute ids — checkpoint the delta-sized log into a LogicalRDD
    // first (eager, one pass; in production the log is a parquet sink
    // and this is just a scan)
    val log = spark.table(EventStream.runChunkDedupToMemory(
      spark, dir, "q_stream_chunk_dedup_mem")).localCheckpoint()
    TextOps.chunkDedupIncrOf(
      log.select(col("doc_id"), col("chunk_idx"), col("chunk_fp")),
      log.filter(col("standing_first").isNotNull)
        .groupBy(col("chunk_fp"))
        .agg(min(col("standing_first")).as("first_key")))
  }

  /** Streaming benchmark decontamination ≡ the batch gate — the SAME
    * oracle as [[Curation.decontaminate]]. The stream emits the
    * (doc_id, g8, bench_doc_id) match log statelessly
    * ([[EventStream.runDecontaminateToMemory]]); the rollup counts
    * distinct grams / bench docs per train doc in batch. */
  val streamDecontaminate: Op = Op(
    "q_stream_decontaminate",
    Curation.decontaminate.oracle.get) { (spark, dir) =>
    spark.table(EventStream.runDecontaminateToMemory(
        spark, dir, "q_stream_decontaminate_mem"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g8")).as("n_shared_ngrams"),
        countDistinct(col("bench_doc_id")).as("n_bench_docs"))
  }

  /** Streaming drift telemetry ≡ the batch statistic on the same
    * split: arriving delta docs emit hashed-bigram bucket rows
    * statelessly ([[EventStream.runDriftToMemory]]); the op rolls the
    * log into bucket counts (sum monoid ⇒ batching-invariant) and
    * scores them against the standing corpus' model with
    * [[Introspect.driftStat]]. The data-observability companion of
    * the streaming hygiene gates — drift at ingest, before a skewed
    * batch pollutes the corpus. */
  val streamDrift: Op = Op(
    "q_stream_drift",
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+') AS w
       |  FROM documents
       |), b AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(w[i] || ' ' || w[i+1], ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007)
       |      % ${Retrieval.DsirDim} AS bucket
       |  FROM t, unnest(range(1, len(w))) AS x(i)
       |), c AS (
       |  SELECT doc_id % ${graft.operators.Dedup.IncrementalDeltaMod} = 0
       |           AS is_delta, bucket,
       |         CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM b GROUP BY 1, 2
       |), tot AS (
       |  SELECT is_delta, CAST(SUM(cnt) AS BIGINT) AS t FROM c GROUP BY 1
       |), f AS (
       |  SELECT (${Introspect.DriftScale} * COALESCE(ca.cnt, 0)) // ta.t AS fa,
       |         (${Introspect.DriftScale} * COALESCE(cb.cnt, 0)) // tb.t AS fb
       |  FROM (SELECT * FROM c WHERE is_delta) ca
       |  FULL JOIN (SELECT * FROM c WHERE NOT is_delta) cb
       |    ON ca.bucket = cb.bucket
       |  JOIN tot ta ON ta.is_delta
       |  JOIN tot tb ON NOT tb.is_delta
       |)
       |SELECT 'delta_vs_standing' AS split,
       |       CAST(SUM(((fa - fb) * (fa - fb)) // (fa + fb + 2)) AS BIGINT)
       |         AS chi2_scaled,
       |       SUM(((fa - fb) * (fa - fb)) // (fa + fb + 2))
       |         > ${Introspect.DriftThreshold} AS drifted
       |FROM f""".stripMargin) { (spark, dir) =>
    val delta = spark.table(
        EventStream.runDriftToMemory(spark, dir, "q_stream_drift"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    Introspect.driftStat(delta, standingDriftModel(spark, dir))
      .select(lit("delta_vs_standing").as("split"), col("chi2_scaled"),
        (col("chi2_scaled") > Introspect.DriftThreshold).as("drifted"))
  }

  private[graft] val driftModelCache = new SessionCache.Cache[DataFrame]

  /** The STANDING corpus' drift bucket model — session-cached (round-7
    * task 5) AND at rest ([[PersistedStore]]): the model is
    * O([[Retrieval.DsirDim]]) rows but computing it is a corpus-sized
    * bigram pass, and in the incremental contract it is yesterday's
    * artifact — a NEW process monitoring today's ingest reads the
    * persisted model, never re-scans the standing corpus. Counts are a
    * sum monoid, so cached ≡ fresh ≡ persisted exactly. */
  private[graft] def standingDriftModel(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    driftModelCache.getOrBuild(spark, dir, "documents.parquet") {
      val store = PersistedStore.ensure(spark, dir, "documents.parquet",
        "drift_model", "v2") { root => // v2: ascii-casefold law
        import graft.functions.TextAnalysis.fingerprint
        val mod = graft.operators.Dedup.IncrementalDeltaMod
        graft.Tables.documents(spark, dir)
          .filter(col("doc_id") % mod =!= 0)
          .select(explode(TextOps.bigramArray).as("bg"))
          .select((fingerprint(concat_ws(" ", col("bg.w1"), col("bg.w2")))
            % Retrieval.DsirDim).as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").parquet(s"$root/model")
      }
      graft.Tables.parquet(spark, s"$store/model").localCheckpoint()
    }

  /** CONTINUOUS cluster maintenance ≡ the full batch recompute: delta
    * docs arrive as a stream, each micro-batch probes the growing
    * band index, folds its matches into the standing labels through
    * the delta-sized quotient CC, and appends itself to the index
    * ([[EventStream.runIncrCcLabels]]). The oracle is
    * `q_dup_clusters`' whole-corpus recursive CTE — only a fold that
    * misses no cross-batch pair and keeps every label at the global
    * min can match it. */
  val streamIncrCc: Op = Op(
    "q_stream_incr_cc",
    GraphOps.dupClusters.oracle.get) { (spark, dir) =>
    val lab = EventStream.runIncrCcLabels(spark, dir, "q_stream_incr_cc")
    val sizes = lab.groupBy(col("lbl").as("cid"))
      .agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, col("lbl") === col("cid"))
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"), (col("node") === col("lbl")).as("is_canonical"))
  }

  /** Streaming DSIR selection ≡ the batch importance-weighting op:
    * arriving docs scored statelessly against the standing hashed-bigram
    * model ([[EventStream.runDsirToMemory]]); same oracle — only
    * possible if the per-row lookup sum reproduces the batch
    * aggregate exactly. */
  /** STATELESS tokenize-on-arrival against the persisted standing
    * tokenizer — see [[graft.streaming.EventStream.runBpeEncodeToMemory]];
    * oracle = the batch encode op's (stream ≡ batch). */
  val streamBpeEncode: Op = Op(
    "q_stream_bpe_encode",
    Bpe.bpeEncode.oracle.get) { (spark, dir) =>
    spark.table(graft.streaming.EventStream.runBpeEncodeToMemory(
      spark, dir, "q_stream_bpe_encode_mem"))
  }

  /** Streaming token-id emission ≡ the batch dataloader artifact —
    * the SAME oracle as [[Bpe.bpeTokens]]: the green row proves the
    * row-local HOF fold (merge rounds as literal expressions, the
    * inventory as a broadcast map) equals the batch op's
    * broadcast-join form, token identity AND order, cross-engine. */
  val streamBpeTokens: Op = Op(
    "q_stream_bpe_tokens",
    Bpe.bpeTokens.oracle.get) { (spark, dir) =>
    spark.table(graft.streaming.EventStream.runBpeTokensToMemory(
      spark, dir, "q_stream_bpe_tokens_mem"))
  }

  val streamDsir: Op = Op(
    "q_stream_dsir",
    Retrieval.dsirWeights.oracle.get) { (spark, dir) =>
    spark.table(EventStream.runDsirToMemory(spark, dir, "q_stream_dsir_mem"))
  }

  /** Streaming ANN probe ≡ the batch kNN graph restricted to the
    * arriving vectors — knnGraph's oracle with that restriction
    * appended ([[EventStream.runAnnProbeToMemory]]; stateless, so the
    * memory table already holds the final rows — no rollup). */
  val streamAnnProbe: Op = Op(
    "q_stream_ann",
    Similarity.knnGraph.oracle.get +
      s" AND vec_id % ${Similarity.StreamAnnMod} = 0") { (spark, dir) =>
    spark.table(
      EventStream.runAnnProbeToMemory(spark, dir, "q_stream_ann_mem"))
  }

  /** Streaming probe of the TRAINED standing IMI index — completes the
    * vector-index triple (batch [[Imi.imiDelta]] / persisted
    * incremental index / this arrival-time leg, ONE kernel). The
    * oracle is imiDelta's VERBATIM: the stream's memory table must
    * hash-equal the batch probe — only possible if the row-local probe
    * is exactly the join form and batching changes nothing. */
  val streamAnnTrained: Op = Op(
    "q_stream_ann_trained",
    Imi.imiDelta.oracle.get) { (spark, dir) =>
    val root = SinkOps.stagingDir(dir,
      s"stream_ann_tr_${SessionCache.sessionId(spark).take(8)}")
    EventStream.runImiProbeToParquet(spark, dir, root)
    graft.Tables.parquet(spark, s"$root/topk-*")
      .select("vec_id", "rank", "nn_id", "cos")
  }

  /** Exactly-once streaming commit: the events rollup built from
    * per-micro-batch deltas published through the transactional
    * manifest store with version = batchId + 1 (replayed batches
    * no-op against their committed manifest — see
    * [[graft.sources.TxStore.commitStreamBatch]]). The oracle is the
    * plain batch rollup: the store's union of deltas must equal it
    * EXACTLY, which it only can if no batch is ever lost or doubled. */
  val streamTx: Op = Op(
    "q_stream_tx",
    """SELECT CAST(ts AS DATE) AS day, event_type,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    import graft.sources.TxCommit
    val root = SinkOps.stagingDir(dir, "stream_tx")
    EventStream.runTxRollup(spark, dir, root)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "day DATE, event_type STRING, n BIGINT, value_cents BIGINT")
    // maintenance tick: fold the per-batch delta dirs into one
    // compacted dir + retire what it superseded — the read below stays
    // the same union, but resolves to compaction + suffix instead of
    // one dir per micro-batch ever committed (batch manifests survive
    // vacuumStream, so replays still no-op)
    if (TxCommit.compactStream(spark, root, "rollup", schema))
      TxCommit.vacuumStream(spark, root, "rollup")
    TxCommit.readAll(spark, root, "rollup", schema)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("value_cents")).as("value_cents"))
  }

  private[graft] val pplModelCache = new SessionCache.Cache[(DataFrame, DataFrame)]

  /** The STANDING corpus' perplexity model — the per-language bigram
    * counts PLUS the tercile cut scores, persisted
    * ([[PersistedStore]], `ppl_model`) exactly like the drift and
    * quality models: in the incremental contract the LM and its
    * thresholds are yesterday's artifacts — an ingest process scoring
    * today's arrivals reads them back, never re-scans the standing
    * corpus. Returns (model (lang, w1, w2, c12), meta (lang, n_lang,
    * cut1, cut2)); cutK = max mbits of standing tercile K (a language
    * with < 3 scored standing docs leaves the missing cut NULL — the
    * assignment CASE then falls through to tail, both engines). */
  private[graft] def standingPplModel(
      spark: org.apache.spark.sql.SparkSession,
      dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    pplModelCache.getOrBuild(spark, dir, "documents.parquet") {
      val store = PersistedStore.ensure(spark, dir, "documents.parquet",
        "ppl_model", "v2") { root => // v2: head-only (c12 >= 2) model
        import org.apache.spark.sql.expressions.Window
        val mod = graft.operators.Dedup.IncrementalDeltaMod
        val standing = graft.Tables.documents(spark, dir)
          .filter(col("doc_id") % mod =!= 0)
        val (c12, nLang, scores) = TextOps.pplModelAndScores(standing)
        // persist only the c12 >= 2 HEAD: a hapax hit (c12 = 1) scores
        // identically to an unseen miss (bitlen 1 either way — the
        // batch kernel's Zipf device), so the hapax-dominated tail
        // would only bloat the store and every stream-static probe
        // without changing one output bit
        c12.filter(col("c12") >= 2)
          .write.mode("overwrite").parquet(s"$root/model")
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("mbits").asc, col("doc_id").asc)
        val cuts = scores
          .withColumn("bucket", ntile(TextOps.PplBuckets).over(w))
          .groupBy(col("lang"))
          .agg(max(when(col("bucket") === 1, col("mbits"))).as("cut1"),
            max(when(col("bucket") === 2, col("mbits"))).as("cut2"))
        nLang.join(cuts, Seq("lang"), "left")
          .write.mode("overwrite").parquet(s"$root/meta")
      }
      (graft.Tables.parquet(spark, s"$store/model").localCheckpoint(),
        graft.Tables.parquet(spark, s"$store/meta").localCheckpoint())
    }

  /** Streaming perplexity-bucket assignment — the arrival-time leg of
    * [[TextOps.pplBuckets]], and EXACTLY the CCNet production shape:
    * tercile thresholds are computed ONCE on a reference corpus (the
    * standing slice) and applied to new data at ingest, not recomputed
    * per batch. Arriving delta docs explode their bigrams statelessly
    * and probe the persisted standing model through a stream-static
    * left join (unseen transitions carry c12 = 0 — `bin(0) = '0'` in
    * both engines, so the unseen score equals the hapax score, the
    * add-zero floor); the batch rollup folds occurrences per doc
    * (count/sum monoids ⇒ batching-invariant), derives milli-bits, and
    * assigns `mbits ≤ cut1 → head, ≤ cut2 → middle, else tail`.
    * Unmodelable delta docs are tail by definition. The oracle replays
    * the whole pipeline — standing model, standing terciles, cuts,
    * delta scoring — in SQL. */
  val streamPpl: Op = Op(
    "q_stream_ppl",
    {
      val al = graft.functions.TextAnalysis.asciiLowerSql("text")
      val mod = graft.operators.Dedup.IncrementalDeltaMod
      s"""WITH t AS (
       |  SELECT doc_id, lang, regexp_extract_all($al, '[a-z]+') AS w
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
       |  FROM t, unnest(range(1, len(w))) AS x(i)
       |), sb AS (
       |  SELECT * FROM b WHERE doc_id % $mod <> 0
       |), c12 AS (
       |  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
       |  FROM sb GROUP BY 1, 2, 3
       |), nl AS (
       |  SELECT lang, CAST(SUM(c12) AS BIGINT) AS n_lang
       |  FROM c12 GROUP BY 1
       |), ssc AS (
       |  SELECT sb.lang, sb.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(length(bin(nl.n_lang)) - length(bin(c12.c12)))
       |      AS BIGINT) AS bits
       |  FROM sb JOIN c12 USING (lang, w1, w2) JOIN nl USING (lang)
       |  GROUP BY 1, 2
       |), sbk AS (
       |  SELECT lang, (1000 * bits) // n AS mbits,
       |    ntile(${TextOps.PplBuckets}) OVER (PARTITION BY lang
       |      ORDER BY (1000 * bits) // n, doc_id) AS bucket
       |  FROM ssc
       |), cuts AS (
       |  SELECT lang, MAX(CASE WHEN bucket = 1 THEN mbits END) AS cut1,
       |               MAX(CASE WHEN bucket = 2 THEN mbits END) AS cut2
       |  FROM sbk GROUP BY 1
       |), db AS (
       |  SELECT * FROM b WHERE doc_id % $mod = 0
       |), dsc AS (
       |  SELECT db.lang, db.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(length(bin(COALESCE(nl.n_lang, 0)))
       |           - length(bin(COALESCE(c12.c12, 0)))) AS BIGINT) AS bits
       |  FROM db LEFT JOIN c12 USING (lang, w1, w2)
       |          LEFT JOIN nl USING (lang)
       |  GROUP BY 1, 2
       |), dmb AS (
       |  SELECT lang, doc_id, n_bigrams,
       |    (1000 * bits) // n_bigrams AS mbits
       |  FROM dsc
       |), asg AS (
       |  SELECT dmb.doc_id, dmb.n_bigrams, dmb.mbits,
       |    CAST(CASE WHEN dmb.mbits <= cuts.cut1 THEN 1
       |              WHEN dmb.mbits <= cuts.cut2 THEN 2
       |              ELSE 3 END AS BIGINT) AS bucket
       |  FROM dmb LEFT JOIN cuts USING (lang)
       |)
       |SELECT d.doc_id, d.lang,
       |  CAST(COALESCE(asg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  asg.mbits,
       |  CAST(COALESCE(asg.bucket, ${TextOps.PplBuckets}) AS BIGINT)
       |    AS bucket
       |FROM documents d LEFT JOIN asg ON asg.doc_id = d.doc_id
       |WHERE d.doc_id % $mod = 0""".stripMargin
    }) { (spark, dir) =>
    val (_, meta) = standingPplModel(spark, dir)
    val log = spark.table(
      EventStream.runPplToMemory(spark, dir, "q_stream_ppl_mem"))
    val scored = log
      .join(broadcast(meta.select(col("lang"), col("n_lang"))),
        Seq("lang"), "left")
      .select(col("doc_id"), col("lang"),
        (length(bin(coalesce(col("n_lang"), lit(0L)))) -
          length(bin(col("c12")))).cast("long").as("bits"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("bits"))
      .withColumn("mbits", expr("(1000 * bits) div n_bigrams"))
    val assigned = scored
      .join(broadcast(meta.select(col("lang"), col("cut1"), col("cut2"))),
        Seq("lang"), "left")
      .select(col("doc_id"), col("n_bigrams"), col("mbits"),
        when(col("mbits") <= col("cut1"), 1L)
          .when(col("mbits") <= col("cut2"), 2L)
          .otherwise(3L).as("bucket"))
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % graft.operators.Dedup.IncrementalDeltaMod === 0)
      .select(col("doc_id"), col("lang"))
      .join(assigned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mbits"),
        coalesce(col("bucket"), lit(TextOps.PplBuckets.toLong)).as("bucket"))
  }

  /** Streaming learned-quality scoring ≡ the batch scorer — the SAME
    * oracle as [[QualityModel.qualityScore]], completing the trained
    * gate's triple (batch train+score / persisted model / this
    * arrival-time leg): arriving docs score row-locally against the
    * broadcast standing weights, no state store, no stream-side
    * shuffle. */
  val streamQuality: Op = Op(
    "q_stream_quality",
    QualityModel.qualityScore.oracle.get) { (spark, dir) =>
    spark.table(EventStream.runQualityScoreToMemory(
      spark, dir, "q_stream_quality_mem"))
  }

  /** Streaming sequence packing ≡ the incremental batch packer — the
    * SAME oracle as [[Curation.packIncr]], completing the packing
    * family's batch/incremental/streaming triple on ONE kernel
    * ([[Curation.packContinuing]]): arriving delta docs are packed per
    * micro-batch by continuing each source's token prefix sum from the
    * persisted high-water mark, advanced per batch through
    * foreachBatch with batch-id-named artifacts (exactly-once: packs
    * commit first, the advanced hwm last, replays no-op). The packs
    * union must hash-equal the single-pass batch law — only possible
    * if the hwm fold loses nothing across micro-batches. */
  val streamPack: Op = Op(
    "q_stream_pack",
    Curation.packIncr.oracle.get) { (spark, dir) =>
    // root is SESSION-scoped (the live-query registry key is too): a
    // shared per-dir root would let a second session's fresh-start
    // reset delete the first session's live checkpoint and hwm chain
    // out from under its running query. Scratch-sized leak per dead
    // session (~the delta's pack rows), reclaimed with the scratch dir.
    val root = SinkOps.stagingDir(dir,
      s"stream_pack_${SessionCache.sessionId(spark).take(8)}")
    EventStream.runStreamPack(spark, dir, root)
    graft.Tables.parquet(spark, s"$root/packs-*")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("pack_id"))
  }

  /** Streaming BM25 probe ≡ the batch retrieval op — the SAME oracle as
    * [[TextOps.bm25]]: every query doc arrives on the stream, probes
    * the standing rare-term index statelessly, and the per-query score
    * sum + top-k reduce BATCH-LOCALLY inside the stream (exact: a
    * query's partials are all in its arrival's micro-batch — r13 soak
    * note on [[EventStream.runBm25Probe]]), so the at-rest result is k
    * rows per query, never the pair-scaled partial log. */
  val streamBm25: Op = Op(
    "q_stream_bm25",
    TextOps.bm25.oracle.get) { (spark, dir) =>
    // session-scoped root, same discipline as q_stream_pack above
    val root = SinkOps.stagingDir(dir,
      s"stream_bm25_${SessionCache.sessionId(spark).take(8)}")
    EventStream.runBm25Probe(spark, dir, root)
    graft.Tables.parquet(spark, s"$root/topk-*")
      .select("qid", "doc_id", "score", "rnk")
  }

  val streamTumbling: Op = Op(
    "q_stream_tumbling",
    """SELECT CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS window_start_us,
      |       event_type,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events
      |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    spark.table(
      EventStream.runWindowedToMemory(spark, dir, "q_stream_tumbling_mem"))
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n"), col("value_cents"))
  }
}
