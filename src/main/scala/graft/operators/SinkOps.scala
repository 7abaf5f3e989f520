package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Money.{centsOf, moneyUSDFromCents, parseCentsLoose}
import graft.sources.{JdbcSink, RunLog, Sinks}

/** Registered round-trips over the WRITE path (reference S7–S11 +
  * S2/S3/A5 — the engine's entire output side), so the sinks run under
  * the driver's correctness gate instead of only under ScalaTest:
  * each op writes through the production sink, re-reads what landed on
  * disk, and reduces it to a deterministic aggregate whose oracle is
  * computed straight from the INPUT tables — if the sink dropped,
  * duplicated, or mis-merged anything, the hashes diverge.
  *
  * Staging dirs are per-scale-factor and deleted up front, so re-runs
  * are idempotent and a crashed previous run can't leak stale
  * partitions into the answer.
  */
object SinkOps {

  /** Scratch root for staging stores and stream checkpoints: prefer
    * the machine's tmpfs when one is mounted — staging is ephemeral by
    * contract (deleted up front per run), so paying ext4 journal+fsync
    * for it only throttles the sink round-trips. Production deployments
    * point sinks at real storage through the explicit path arguments;
    * this root only ever hosts the harness's own scratch. */
  private[graft] def scratchRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm"
    else System.getProperty("java.io.tmpdir")
  }

  private[operators] def stagingDir(dir: String, tag: String): String = {
    val sfTag = dir.replaceAll("[^a-zA-Z0-9.]", "_")
    s"$scratchRoot/graft_$tag$sfTag"
  }

  private[operators] def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private val anchorCache = new SessionCache.Cache[Long]

  /** min(shipdate) of the lineitem table — the day-window anchor BOTH
    * [[upsertDay]] and [[txCommit]] derive their literal bounds from.
    * Session-cached corpus metadata (r15, the qualifyingCount /
    * hot-key-set pattern): one scalar per (session, corpus) instead of
    * a fresh min-probe job per op per run; staleness follows the
    * lineitem listing signature. */
  private[operators] def lineitemAnchor(
      spark: SparkSession, dir: String): java.sql.Date = {
    val epochDay = anchorCache.getOrBuild(
      spark, dir, "lineitem.parquet", "min-shipdate")(
      Tables.lineitem(spark, dir)
        .agg(min(to_date(col("l_shipdate"))).as("a")).head.getDate(0)
        .toLocalDate.toEpochDay)
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(epochDay))
  }

  /** Boundary instant `days` after the anchor, built AT UTC (see the
    * timezone note in [[upsertDay]]). */
  private def anchorTs(anchor: java.sql.Date, days: Int): java.sql.Timestamp =
    java.sql.Timestamp.from(
      anchor.toLocalDate.plusDays(days.toLong)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant)

  /** The shared per-day aggregate BOTH [[upsertDay]] batches (and all
    * three [[txCommit]] daily variants) slice from: ONE lineitem scan
    * computes count + both formulas' sums per day over the full
    * [0, 30)-day window (guide §2.4 — two aggregates keyed the same
    * way share one exchange; the two batches each re-scanned and
    * re-aggregated lineitem, measured at ~0.43 s per scan at sf0.1).
    * localCheckpointed PER RUN (never cached across runs — the scan is
    * part of what the ops compute); unpersisted by the caller after
    * staging. Day filters happen on the aggregated day column: the
    * boundary semantics match the previous per-batch timestamp filters
    * because both sides of the gate (Spark's to_date grouping and the
    * oracle's CAST(l_shipdate AS DATE)) already require day-aligned
    * UTC boundaries. */
  private def dayStats(spark: SparkSession, dir: String,
      anchor: java.sql.Date): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") >= lit(anchorTs(anchor, 0)) &&
        col("l_shipdate") < lit(anchorTs(anchor, 30)))
      .groupBy(to_date(col("l_shipdate")).as("d"))
      .agg(count(lit(1)).as("n_items"),
        sum(centsOf(col("l_extendedprice"))).as("cents_base"),
        sum(centsOf(col("l_extendedprice")) *
          (lit(100) - centsOf(col("l_discount")))).as("cents_corr"))
      .localCheckpoint()
  }

  /** S7/S9 (`ON CONFLICT DO UPDATE` / delete-then-insert-day,
    * revalueCollection.mjs:135-165), TRANSACTIONAL since round 5: two
    * OVERLAPPING day-batches land through [[graft.sources.TxStore
    * .stageDays]] — each batch is one manifest commit that stages only
    * its incoming days and carries every other day forward (partition-
    * level copy-on-write; the reference's DELETE WHERE as_of_date=$1 +
    * INSERT inside its transaction). Batch 1 aggregates days [0,20)
    * from the lineitem anchor with the base-cents formula, batch 2
    * recomputes days [10,30) with a corrected formula (discounted
    * revenue units). Last COMMIT wins per day, so what a
    * manifest-resolved reader must see is batch 1 for [0,10) and batch
    * 2 for [10,30) — exactly what the oracle computes from lineitem
    * directly. The overwritten days [10,20) are where a broken sink
    * shows up: append semantics would double them, full-table overwrite
    * would lose [0,10), and a manifest that failed to carry forward
    * would also lose [0,10).
    */
  val upsertDay: Op = Op(
    "q_upsert_day",
    """WITH anchor AS (SELECT CAST(MIN(l_shipdate) AS DATE) AS a FROM lineitem),
      |snaps AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d,
      |         CAST(ROUND(l_extendedprice*100) AS BIGINT) AS cents,
      |         CAST(ROUND(l_discount*100) AS BIGINT) AS disc
      |  FROM lineitem, anchor
      |  WHERE CAST(l_shipdate AS DATE) >= anchor.a
      |    AND CAST(l_shipdate AS DATE) < anchor.a + 30
      |)
      |SELECT d AS as_of_date, COUNT(*) AS n_items,
      |       CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM snaps, anchor WHERE d < anchor.a + 10 GROUP BY d
      |UNION ALL
      |SELECT d AS as_of_date, COUNT(*) AS n_items,
      |       CAST(SUM(cents * (100 - disc)) AS BIGINT) AS sum_cents
      |FROM snaps, anchor WHERE d >= anchor.a + 10 GROUP BY d""".stripMargin) { (spark, dir) =>
    val out = stagingDir(dir, "upsert_day")
    deleteDir(spark, out)
    // cheap anchor probe → literal bounds reach the parquet scan pushed
    // down (same two-phase shape as Rollup.dateWindowAgg); boundary
    // instants built AT UTC (Timestamp.from(instant)), not
    // Timestamp.valueOf(localDateTime): valueOf interprets the local
    // datetime in the JVM DEFAULT timezone, so on a non-UTC machine the
    // window boundary would shift off midnight UTC and drop/mislabel
    // whole days vs the oracle's date arithmetic.
    val anchor = lineitemAnchor(spark, dir)
    def day(days: Int) = java.sql.Date.valueOf(
      anchor.toLocalDate.plusDays(days.toLong))
    // ONE lineitem scan for BOTH overlapping batches (r15, guide §2.4):
    // the per-day stats carry both formulas' sums; each transaction
    // stages its day-slice + formula column. The two COMMITS stay
    // separate — that (last-commit-wins per day) is the contract.
    val stats = dayStats(spark, dir, anchor)
    def batch(loDays: Int, hiDays: Int, cents: String) =
      stats.filter(col("d") >= lit(day(loDays)) && col("d") < lit(day(hiDays)))
        .select(col("d").as("as_of_date"), col("n_items"),
          col(cents).as("sum_cents"))
    import graft.sources.TxStore
    TxStore.transact(spark, out) { txn =>
      TxStore.stageDays(txn, batch(0, 20, "cents_base"), "as_of_date")
    }
    TxStore.transact(spark, out) { txn =>
      TxStore.stageDays(txn, batch(10, 30, "cents_corr"), "as_of_date")
    }
    SessionCache.releaseFrame(stats)
    TxStore.readDays(spark, out)
      .select(col("as_of_date").cast("date").as("as_of_date"),
        col("n_items"), col("sum_cents"))
  }

  /** S8/J5 (update-then-insert without a unique index,
    * 02_normalize_scryfall_prices.js:159-193): null-safe keyed merge via
    * [[Sinks.upsertByKey]], TRANSACTIONAL since round 5: the seed state
    * and the merge each commit through the [[graft.sources.TxStore]]
    * manifest (read committed → merge → stage new version → atomic
    * commit-point flip; the old version stays live until the flip, the
    * reference's UPDATE-then-INSERT inside one BEGIN/COMMIT). Incoming
    * rows (every third part, repriced +5¢, plus a NULL-keyed row)
    * replace their existing twins, everything else is kept — then a
    * manifest-resolved round-trip and a three-scalar reduction. The
    * NULL-keyed row is the point: `=` would keep BOTH null rows (9
    * extra cents of sum and one extra row here), `<=>` replaces exactly
    * one.
    */
  val upsertKey: Op = Op(
    "q_upsert_key",
    """WITH existing AS (
      |  SELECT p_partkey AS k, CAST(ROUND(p_retailprice*100) AS BIGINT) AS v
      |  FROM part
      |  UNION ALL SELECT NULL, 111
      |), incoming AS (
      |  SELECT p_partkey AS k, CAST(ROUND(p_retailprice*100) AS BIGINT) + 5 AS v
      |  FROM part WHERE p_partkey % 3 = 0
      |  UNION ALL SELECT NULL, 222
      |), merged AS (
      |  SELECT e.k, e.v FROM existing e
      |  WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.k IS NOT DISTINCT FROM e.k)
      |  UNION ALL SELECT k, v FROM incoming
      |)
      |SELECT COUNT(*) AS n_rows, CAST(SUM(v) AS BIGINT) AS sum_v,
      |       COUNT(*) FILTER (WHERE k IS NULL) AS n_null_keys
      |FROM merged""".stripMargin) { (spark, dir) =>
    val out = stagingDir(dir, "upsert_key")
    deleteDir(spark, out)
    val part = Tables.part(spark, dir)
    def nullRow(v: Long) = spark.range(1).select(
      lit(null).cast("long").as("k"), lit(v).as("v"))
    val existing = part
      .select(col("p_partkey").as("k"), centsOf(col("p_retailprice")).as("v"))
      .unionByName(nullRow(111L))
    val incoming = part.filter(col("p_partkey") % 3 === 0)
      .select(col("p_partkey").as("k"),
        (centsOf(col("p_retailprice")) + 5).as("v"))
      .unionByName(nullRow(222L))
    import graft.sources.{TxCommit, TxStore}
    TxStore.transact(spark, out) { txn =>
      TxStore.stageFull(txn, "prices", existing)
    }
    TxStore.transact(spark, out) { txn =>
      TxStore.stageKeyed(spark, txn, "prices", incoming, Seq("k"))
    }
    TxCommit.read(spark, out, "prices").agg(
      count(lit(1)).as("n_rows"),
      sum(col("v")).as("sum_v"),
      count(when(col("k").isNull, 1)).as("n_null_keys"))
  }

  /** S12 — the cross-output transaction the reference gets from
    * PostgreSQL (BEGIN → two-table write → COMMIT,
    * 02_normalize_scryfall_prices.js:195-209), over parquet via
    * [[graft.sources.TxCommit]]: txn 1 commits a (daily, prices) pair
    * with STALE formulas; txn 2 stages a poisoned daily output and
    * "crashes" before writing prices (no commit — exactly the torn
    * state S12 exists to prevent); the re-run claims the same version
    * under its own staging token (the crashed attempt's dir is an
    * orphan, invisible and vacuum-collectable), writes corrected
    * formulas for BOTH outputs, and commits. Readers resolve through
    * the latest manifest,
    * so the answer must carry txn 3's values for both outputs — stale
    * values mean the manifest didn't advance, zeros mean the aborted
    * staging leaked, a mix means the pair tore.
    */
  val txCommit: Op = Op(
    "q_tx_commit",
    """WITH anchor AS (SELECT CAST(MIN(l_shipdate) AS DATE) AS a FROM lineitem),
      |daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d,
      |         CAST(ROUND(l_extendedprice*100) AS BIGINT)
      |           * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS cents
      |  FROM lineitem, anchor
      |  WHERE CAST(l_shipdate AS DATE) >= anchor.a
      |    AND CAST(l_shipdate AS DATE) < anchor.a + 30
      |), existing AS (
      |  SELECT p_partkey AS k, CAST(ROUND(p_retailprice*100) AS BIGINT) AS v
      |  FROM part
      |), incoming AS (
      |  SELECT p_partkey AS k, CAST(ROUND(p_retailprice*100) AS BIGINT) + 5 AS v
      |  FROM part WHERE p_partkey % 3 = 0
      |), merged AS (
      |  SELECT e.k, e.v FROM existing e
      |  WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.k = e.k)
      |  UNION ALL SELECT k, v FROM incoming
      |)
      |SELECT 'daily' AS output, COUNT(DISTINCT d) AS n_rows,
      |       CAST(SUM(cents) AS BIGINT) AS sum_val
      |FROM daily
      |UNION ALL
      |SELECT 'prices' AS output, COUNT(*) AS n_rows,
      |       CAST(SUM(v) AS BIGINT) AS sum_val
      |FROM merged""".stripMargin) { (spark, dir) =>
    val root = stagingDir(dir, "txroot")
    deleteDir(spark, root)
    val anchor = lineitemAnchor(spark, dir)
    // ONE lineitem scan for all three daily variants (r15, guide §2.4):
    // the stale (t1), poisoned (t2) and corrected (t3) frames are
    // column slices of the same per-day stats — the writes, the crash
    // window and the three manifest round-trips (the S12 contract) are
    // untouched.
    val stats = dayStats(spark, dir, anchor)
    def daily(cents: String) =
      stats.select(col("d"), col("n_items"), col(cents).as("sum_cents"))
    val part = Tables.part(spark, dir)
    val existing = part.select(
      col("p_partkey").as("k"), centsOf(col("p_retailprice")).as("v"))
    val incoming = part.filter(col("p_partkey") % 3 === 0)
      .select(col("p_partkey").as("k"),
        (centsOf(col("p_retailprice")) + 5).as("v"))
    import graft.sources.{Sinks, TxCommit}
    // txn 1: stale pair, committed
    val t1 = TxCommit.begin(spark, root)
    daily("cents_base").write.mode("overwrite").parquet(t1.stage("daily"))
    existing.write.mode("overwrite").parquet(t1.stage("prices"))
    require(TxCommit.commit(spark, t1,
      Map("daily" -> t1.stage("daily"), "prices" -> t1.stage("prices"))))
    // txn 2: crash between the writes — daily staged poisoned, no commit
    val t2 = TxCommit.begin(spark, root)
    daily("cents_base").withColumn("sum_cents", lit(0L))
      .write.mode("overwrite").parquet(t2.stage("daily"))
    // recovery re-run: same version, own staging token (t2's dir stays
    // an invisible orphan), commit both
    val t3 = TxCommit.begin(spark, root)
    daily("cents_corr").write.mode("overwrite").parquet(t3.stage("daily"))
    Sinks.upsertByKey(existing, incoming, Seq("k"))
      .write.mode("overwrite").parquet(t3.stage("prices"))
    require(TxCommit.commit(spark, t3,
      Map("daily" -> t3.stage("daily"), "prices" -> t3.stage("prices"))))
    SessionCache.releaseFrame(stats)
    val dailyBack = TxCommit.read(spark, root, "daily")
      .agg(count(lit(1)).as("n_rows"), sum(col("sum_cents")).as("sum_val"))
      .select(lit("daily").as("output"), col("n_rows"), col("sum_val"))
    val pricesBack = TxCommit.read(spark, root, "prices")
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_val"))
      .select(lit("prices").as("output"), col("n_rows"), col("sum_val"))
    dailyBack.unionByName(pricesBack)
  }

  /** Live-database round trip (01_import_pricecharting_csv.js:156-187
    * writes INTO PostgreSQL): the same null-safe keyed merge as
    * [[upsertKey]], but landed in an actual database through
    * [[graft.sources.JdbcSink.upsertByKeyJdbc]] (embedded Derby — the
    * in-process stand-in for live PG; identical portable
    * UPDATE-then-INSERT statements run on both) and read back through
    * the JDBC SOURCE like any downstream consumer. Seed write lands
    * `existing` into an empty table (all inserts), the second write
    * upserts `incoming` from 4 concurrent partitions (update + insert +
    * null-key paths all exercised), and the oracle computes the merge
    * straight from the part table — a sink that dropped, duplicated, or
    * double-applied anything diverges on all three scalars.
    */
  val upsertJdbc: Op = Op(
    "q_upsert_jdbc",
    """WITH existing AS (
      |  SELECT p_partkey AS k, CAST(ROUND(p_retailprice*100) AS BIGINT) AS v
      |  FROM part
      |  UNION ALL SELECT NULL, 111
      |), incoming AS (
      |  SELECT p_partkey AS k, CAST(ROUND(p_retailprice*100) AS BIGINT) + 5 AS v
      |  FROM part WHERE p_partkey % 3 = 0
      |  UNION ALL SELECT NULL, 222
      |), merged AS (
      |  SELECT e.k, e.v FROM existing e
      |  WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.k IS NOT DISTINCT FROM e.k)
      |  UNION ALL SELECT k, v FROM incoming
      |)
      |SELECT COUNT(*) AS n_rows, CAST(SUM(v) AS BIGINT) AS sum_v,
      |       COUNT(*) FILTER (WHERE k IS NULL) AS n_null_keys
      |FROM merged""".stripMargin) { (spark, dir) =>
    val dbName = "graft_upsert" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    val url = s"jdbc:derby:memory:$dbName;create=true"
    // driver-side DDL only (schema setup, not data): fresh table per run
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate("DROP TABLE prices_live")
      catch { case _: java.sql.SQLException => () }
      st.executeUpdate("CREATE TABLE prices_live (k BIGINT, v BIGINT)")
      // key index: with the sink's sargable per-null-mask UPDATEs this
      // turns each probe into an index seek — without it Derby scans the
      // whole table per row (O(rows²) for the write)
      st.executeUpdate("CREATE INDEX prices_live_k ON prices_live (k)")
      st.close()
    } finally conn.close()
    val part = Tables.part(spark, dir)
    def nullRow(v: Long) = spark.range(1).select(
      lit(null).cast("long").as("k"), lit(v).as("v"))
    val existing = part
      .select(col("p_partkey").as("k"), centsOf(col("p_retailprice")).as("v"))
      .unionByName(nullRow(111L))
    val incoming = part.filter(col("p_partkey") % 3 === 0)
      .select(col("p_partkey").as("k"),
        (centsOf(col("p_retailprice")) + 5).as("v"))
      .unionByName(nullRow(222L))
    JdbcSink.upsertByKeyJdbc(existing, url, "prices_live", Seq("k"))
    JdbcSink.upsertByKeyJdbc(
      incoming.repartition(4), url, "prices_live", Seq("k"))
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", "prices_live").load()
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("v")).as("sum_v"),
        count(when(col("k").isNull, 1)).as("n_null_keys"))
  }

  /** S11 + F13/F14 + S2/S3/A5 (exportGoogleMerchantFeed.mjs:316-398 +
    * 01_import_pricecharting_csv.js:119-154): write a merchant-style TSV
    * feed through [[Sinks.writeFeed]] (header, CRLF, tab-sanitized
    * fields — the titles carry an injected tab that MUST come back as a
    * space), log the run through [[RunLog]] (per-file SHA-256 digests +
    * row-count audit row), then re-read the feed file like a consumer
    * would and reconcile everything against the source table: row count,
    * integer cents, cents re-parsed from the formatted `"12.34 USD"`
    * strings (F14 → F3 lenient-parse round trip), zero tab leaks, zero
    * title mismatches, digests present, audit row count matching.
    */
  val feedFile: Op = Op(
    "q_feed_file",
    """SELECT COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(ROUND(p_retailprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       CAST(SUM(CAST(ROUND(p_retailprice*100) AS BIGINT)) AS BIGINT) AS sum_cents_from_money,
      |       CAST(0 AS BIGINT) AS n_tab_leaks,
      |       CAST(0 AS BIGINT) AS n_title_mismatch,
      |       TRUE AS digests_ok,
      |       TRUE AS log_count_matches
      |FROM part""".stripMargin) { (spark, dir) =>
    val feedDir = stagingDir(dir, "feed")
    val logDir = stagingDir(dir, "feedlog")
    deleteDir(spark, feedDir); deleteDir(spark, logDir)
    val part = Tables.part(spark, dir)
    val feed = part.select(
      col("p_partkey").as("id"),
      // tab injected between name and brand: writeFeed must flatten it
      concat(col("p_name"), lit("\t"), col("p_brand")).as("title"),
      moneyUSDFromCents(centsOf(col("p_retailprice"))).as("price"),
      centsOf(col("p_retailprice")).as("cents"))
    Sinks.writeFeed(feed, feedDir)
    val digests = RunLog.fileDigests(spark, feedDir, "*.csv")
    val back = spark.read
      .option("header", "true").option("sep", "\t").csv(feedDir)
    RunLog.logRun(spark, logDir, "merchant_feed", digests, back.count())
    val expected = part.select(col("p_partkey").as("pk"),
      // the writer's own sanitize law: any raw tab/newline/CR in the
      // SOURCE name flattens to a space exactly like the injected tab
      concat(graft.sources.Sinks.feedSanitize(col("p_name")), lit(" "),
        graft.sources.Sinks.feedSanitize(col("p_brand")))
        .as("expected_title"))
    val feedAgg = back.join(expected, col("id") === col("pk")).agg(
      count(lit(1)).as("n_rows"),
      sum(col("cents").cast("long")).as("sum_cents"),
      sum(parseCentsLoose(col("price"))).as("sum_cents_from_money"),
      count(when(col("title").contains("\t"), 1)).as("n_tab_leaks"),
      count(when(col("title") =!= col("expected_title"), 1)).as("n_title_mismatch"))
    val digestAgg = digests.agg(
      (count(lit(1)) >= 1 && min(length(col("file_sha256"))) === 64 &&
        min(col("file_bytes")) > 0).as("digests_ok"))
    val logAgg = Tables.parquet(spark, logDir)
      .agg(max(col("row_count")).as("logged_count"),
        count(lit(1)).as("n_log_rows"))
    feedAgg.crossJoin(digestAgg).crossJoin(logAgg)
      .select(col("n_rows"), col("sum_cents"), col("sum_cents_from_money"),
        col("n_tab_leaks"), col("n_title_mismatch"), col("digests_ok"),
        (col("logged_count") === col("n_rows") && col("n_log_rows") >= 1)
          .as("log_count_matches"))
  }

  /** Time travel through the commit manifest — the read-side payoff of
    * the S12 transaction protocol ([[graft.sources.TxCommit]]): commit
    * a per-priority aggregate BEFORE a delta batch lands (base slice,
    * o_orderkey % 10 ≠ 0), commit again after, then read BOTH versions
    * — v_old through `readAsOf`, v_new through the latest manifest —
    * and reconcile them side by side. The old version's rows are
    * untouched by the new commit (old manifests resolve the exact data
    * dirs that were live then; commits never mutate, they add), which
    * is what makes audit/debug/reproduce-yesterday's-training-set
    * queries O(manifest read) at any table size.
    *
    * Reference anchor: the reference's snapshots table keeps only
    * *current* state (UPDATE in place,
    * 02_normalize_scryfall_prices.js:159-193) — reproducing last week's
    * valuation needs a restore from backup; the versioned store makes
    * it one manifest lookup. */
  val timeTravel: Op = Op(
    "q_time_travel",
    """WITH oldv AS (
      |  SELECT o_orderpriority, COUNT(*) AS n_old,
      |         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents_old
      |  FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1
      |), newv AS (
      |  SELECT o_orderpriority, COUNT(*) AS n_new,
      |         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents_new
      |  FROM orders GROUP BY 1
      |)
      |SELECT newv.o_orderpriority, n_old, cents_old, n_new, cents_new,
      |       n_new - n_old AS n_added
      |FROM newv JOIN oldv USING (o_orderpriority)""".stripMargin) {
    (spark, dir) =>
    import graft.sources.TxCommit
    val root = stagingDir(dir, "timetravel")
    deleteDir(spark, root)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val orders = Tables.orders(spark, dir)
    val t1 = TxCommit.begin(spark, root)
    agg(orders.filter(col("o_orderkey") % 10 =!= 0))
      .write.mode("overwrite").parquet(t1.stage("stats"))
    require(TxCommit.commit(spark, t1, Map("stats" -> t1.stage("stats"))))
    val t2 = TxCommit.begin(spark, root)
    agg(orders).write.mode("overwrite").parquet(t2.stage("stats"))
    require(TxCommit.commit(spark, t2, Map("stats" -> t2.stage("stats"))))
    val vOld = TxCommit.versions(spark, root).head
    val old = TxCommit.readAsOf(spark, root, "stats", vOld)
      .select(col("o_orderpriority"), col("n").as("n_old"),
        col("cents").as("cents_old"))
    val latest = TxCommit.read(spark, root, "stats")
      .select(col("o_orderpriority"), col("n").as("n_new"),
        col("cents").as("cents_new"))
    latest.join(broadcast(old), Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n_old"), col("cents_old"),
        col("n_new"), col("cents_new"),
        (col("n_new") - col("n_old")).as("n_added"))
  }

  /** Change feed between two committed versions (the `table_changes` /
    * CDC-read surface — the producer twin of `q_cdc_apply`, which
    * CONSUMES a change stream): diff the keyed snapshot at v_old
    * against v_new into (key, change_type, old/new values) rows via
    * ONE full-outer join of the two manifest-resolved states —
    * new-only → insert, old-only → delete, both-but-different →
    * update; unchanged rows never reach the feed. At 100 TB both
    * sides are manifest-pruned scans and the join shuffles only the
    * two snapshots being compared (never history); day-partitioned
    * stores prune further to partitions the manifests disagree on.
    *
    * The fixture commits part prices (v1 = all parts at list price;
    * v2 = every 3rd repriced +5¢, every 11th-not-3rd retired, three
    * new negative-key parts), so all three change types appear. The
    * reference updates prices in place and keeps no feed
    * (02_normalize_scryfall_prices.js:159-193) — downstream consumers
    * must re-diff full snapshots, exactly what this op renders
    * unnecessary. */
  val changeFeed: Op = Op(
    "q_change_feed",
    """WITH oldv AS (
      |  SELECT p_partkey AS k, CAST(ROUND(p_retailprice*100) AS BIGINT) AS v
      |  FROM part
      |), newv AS (
      |  SELECT p_partkey AS k, CAST(ROUND(p_retailprice*100) AS BIGINT) + 5 AS v
      |  FROM part WHERE p_partkey % 3 = 0
      |  UNION ALL
      |  SELECT p_partkey, CAST(ROUND(p_retailprice*100) AS BIGINT)
      |  FROM part WHERE p_partkey % 3 <> 0 AND p_partkey % 11 <> 0
      |  UNION ALL SELECT -1, 101
      |  UNION ALL SELECT -2, 202
      |  UNION ALL SELECT -3, 303
      |)
      |SELECT COALESCE(o.k, n.k) AS k,
      |       CASE WHEN o.k IS NULL THEN 'insert'
      |            WHEN n.k IS NULL THEN 'delete'
      |            ELSE 'update' END AS change_type,
      |       o.v AS v_old, n.v AS v_new
      |FROM oldv o FULL OUTER JOIN newv n ON o.k = n.k
      |WHERE o.k IS NULL OR n.k IS NULL OR o.v <> n.v""".stripMargin) {
    (spark, dir) =>
    import graft.sources.TxCommit
    import spark.implicits._
    val root = stagingDir(dir, "changefeed")
    deleteDir(spark, root)
    val prices = Tables.part(spark, dir)
      .select(col("p_partkey").as("k"),
        round(col("p_retailprice") * 100).cast("long").as("v"))
    val t1 = TxCommit.begin(spark, root)
    prices.write.mode("overwrite").parquet(t1.stage("prices"))
    require(TxCommit.commit(spark, t1, Map("prices" -> t1.stage("prices"))))
    val v2state = prices.filter(col("k") % 3 === 0)
      .select(col("k"), (col("v") + 5).as("v"))
      .unionByName(prices.filter(col("k") % 3 =!= 0 && col("k") % 11 =!= 0))
      .unionByName(Seq((-1L, 101L), (-2L, 202L), (-3L, 303L)).toDF("k", "v"))
    val t2 = TxCommit.begin(spark, root)
    v2state.write.mode("overwrite").parquet(t2.stage("prices"))
    require(TxCommit.commit(spark, t2, Map("prices" -> t2.stage("prices"))))
    val vOld = TxCommit.versions(spark, root).head
    changesBetween(
      TxCommit.readAsOf(spark, root, "prices", vOld),
      TxCommit.read(spark, root, "prices"))
  }

  /** [[changeFeed]] kernel: diff two (k, v) snapshots into change rows. */
  def changesBetween(
      oldState: org.apache.spark.sql.DataFrame,
      newState: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val o = oldState.select(col("k").as("ok"), col("v").as("v_old"))
    val n = newState.select(col("k").as("nk"), col("v").as("v_new"))
    o.join(n, col("ok") === col("nk"), "full_outer")
      .filter(col("ok").isNull || col("nk").isNull ||
        col("v_old") =!= col("v_new"))
      .select(coalesce(col("ok"), col("nk")).as("k"),
        when(col("ok").isNull, "insert")
          .when(col("nk").isNull, "delete")
          .otherwise("update").as("change_type"),
        col("v_old"), col("v_new"))
  }
}
