package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Money.centsOf

/** Scale-technique operators: skew-salted join and sketch aggregates.
  * These exist to make the 100 TB patterns first-class, testable
  * citizens rather than tuning folklore.
  */
object Scale {

  /** Measured-skew hot-key detector — [[heavyHitters]]' diagnostic made
    * actionable: one keyed pre-count over the fact side (map-side
    * partial combine — the shuffle carries one partial row per distinct
    * key per mapper, not the fact rows), then the hot threshold is
    * DERIVED from that histogram the way AQE's skew-join defines a
    * skewed partition: hot = count > max(skewFactor × median key count,
    * minHot). The median is one approx-percentile row collected to the
    * driver — metadata-sized, same bounded-anchor pattern as the
    * streaming day probe. No declared threshold constant anywhere: a
    * corpus with no skew yields an empty hot set and the join runs
    * entirely unsalted.
    */
  def hotKeys(
      fact: org.apache.spark.sql.DataFrame, keyCol: String,
      skewFactor: Double = 5.0, minHot: Long = 3L): org.apache.spark.sql.DataFrame = {
    // materialized ONCE (same per-round pattern as GraphOps CC): the
    // median probe forces it, the hot filter below reuses it — without
    // this the keyed pre-count runs twice
    val counts = fact.groupBy(col(keyCol)).agg(count(lit(1)).as("key_n"))
      .localCheckpoint()
    val medianRow = counts
      .agg(expr("approx_percentile(key_n, 0.5, 1000)").as("m"))
      .head
    // empty fact → NULL percentile → no skew, empty hot set (the
    // documented degenerate case: the join runs entirely unsalted)
    if (medianRow.isNullAt(0))
      return counts.filter(lit(false)).select(col(keyCol).as("__hot_key"))
    val median = medianRow.getLong(0)
    val thresh = math.max(math.ceil(skewFactor * median).toLong, minHot)
    counts.filter(col("key_n") > lit(thresh))
      .select(col(keyCol).as("__hot_key"))
  }

  /** Hot-key-only salted equi-join with the hot set MEASURED by
    * [[hotKeys]], not hand-fed — the standard fix when a handful of
    * join keys dominate (at 100 TB: a viral item, a null-heavy key).
    *
    * Two-path shape: the measured hot set (small by construction —
    * keys above skewFactor × median) is BROADCAST to tag both sides;
    * hot fact rows get a deterministic salt (xxhash64 of the tiebreaker
    * columns mod N, so identical logical rows land on the same salt and
    * results stay deterministic) while cold rows keep salt 0, and the
    * dim side replicates ×N for hot keys ONLY — cold dim rows pass
    * through once. One inner join on (key, salt) serves both paths.
    * Result must equal the plain join exactly (the oracle / spec
    * check); AQE's skew-join split is the runtime alternative (asserted
    * in SkewJoinSpec), salting is the planned one.
    */
  def autoSaltedJoin(
      fact: org.apache.spark.sql.DataFrame, factKey: String,
      dim: org.apache.spark.sql.DataFrame, dimKey: String,
      salts: Int = 8, skewFactor: Double = 5.0, minHot: Long = 3L,
      tiebreakers: Seq[String] = Nil,
      hotSet: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val hot = hotSet.getOrElse(hotKeys(fact, factKey, skewFactor, minHot))
    val tie = (if (tiebreakers.nonEmpty) tiebreakers
               else fact.columns.toSeq).map(col)
    val f = fact
      .join(broadcast(hot), col(factKey) === col("__hot_key"), "left")
      .withColumn("__salt",
        when(col("__hot_key").isNotNull,
          pmod(xxhash64(tie: _*), lit(salts.toLong)))
          .otherwise(lit(0L)))
      .drop("__hot_key").alias("f")
    val d = dim
      .join(broadcast(hot), col(dimKey) === col("__hot_key"), "left")
      .withColumn("__salt",
        explode(when(col("__hot_key").isNotNull,
          sequence(lit(0L), lit(salts - 1L))).otherwise(array(lit(0L)))))
      .drop("__hot_key").alias("d")
    f.join(d, col(s"f.$factKey") === col(s"d.$dimKey") &&
        col("f.__salt") === col("d.__salt"))
      .drop("__salt")
  }

  private val hotKeyCache = new SessionCache.Cache[DataFrame]

  val saltedJoin: Op = Op(
    "q_salted_join",
    """SELECT o_orderpriority,
      |       COUNT(*) AS n_items,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin) { (spark, dir) =>
    // lineitem carries 1–7 items per order (median 4), so skewFactor
    // 1.25 → threshold 5 genuinely splits the corpus at every SF:
    // 6-7-item orders ride the salted path, the rest the plain one —
    // both paths run under the oracle. Production default is 5.0
    // (AQE's own skew factor); the knob is the point: the THRESHOLD is
    // measured from the key histogram either way, never declared.
    // The measured hot set is session-cached (r14): it is corpus
    // metadata (keys above the measured threshold), re-measured when
    // the fact files change — not per query run.
    val hot = hotKeyCache.getOrBuild(spark, dir, "lineitem.parquet",
      "hot-l_orderkey-1.25-3")(
      hotKeys(Tables.lineitem(spark, dir), "l_orderkey",
        skewFactor = 1.25, minHot = 3L).localCheckpoint())
    autoSaltedJoin(
      Tables.lineitem(spark, dir), "l_orderkey",
      Tables.orders(spark, dir), "o_orderkey",
      salts = 8, skewFactor = 1.25, minHot = 3L,
      tiebreakers = Seq("l_orderkey", "l_linenumber"),
      hotSet = Some(hot))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(centsOf(col("l_extendedprice"))).as("sum_cents"))
  }

  /** Bucketed co-located join, registered end-to-end: both sides land
    * as hash-clustered + sorted bucket tables
    * ([[graft.sources.Bucketing.writeBucketed]]), then join WITHOUT any
    * Exchange below the join (BucketingSpec asserts the zero-shuffle
    * plan) — the 100 TB story for recurring fact⋈fact joins, where the
    * one-time layout cost amortizes across every downstream consumer.
    * Here that amortization is live too: the bucket tables are built
    * once per (session, SF) and reused, so the bench's timed runs
    * measure the co-located join itself, exactly like a production
    * consumer of an already-bucketed table. Oracle = the plain SQL
    * join, so the layout provably changes the plan and not the answer.
    */
  val colocatedJoin: Op = Op(
    "q_colocated_join",
    """SELECT o_orderpriority,
      |       COUNT(*) AS n_items,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin) { (spark, dir) =>
    import graft.sources.Bucketing
    val sfTag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val tl = s"gb_lineitem$sfTag"
    val tn = s"gb_orders$sfTag"
    def ensure(table: String, df: => org.apache.spark.sql.DataFrame,
        key: String): Unit =
      if (!spark.catalog.tableExists(table)) {
        // bucket files can survive a previous session whose in-memory
        // catalog died with it — clear them or saveAsTable refuses
        SinkOps.deleteDir(spark,
          s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
        Bucketing.writeBucketed(df, table, key, 16)
      }
    ensure(tl, Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice")), "l_orderkey")
    ensure(tn, Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority")), "o_orderkey")
    Bucketing.colocatedJoin(spark, tl, "l_orderkey", tn, "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(centsOf(col("l_extendedprice"))).as("sum_cents"))
  }

  /** Runtime bloom-filter join pruning, registered end-to-end: Spark's
    * `InjectRuntimeFilter` builds a bloom filter over the SELECTIVE side
    * of a shuffle join (here: urgent orders, ~20% of the dim) as a
    * subquery and pushes `might_contain(key)` onto the FACT scan — at
    * 100 TB the fact side drops ~4/5 of its rows before the join
    * shuffle, the optimization broadcast joins can't give you once both
    * sides are too big to broadcast.
    *
    * The injection thresholds are sized for real clusters (creation
    * side < 10 MB, application side > 10 GB scanned), so at bench SF the
    * op scopes conf to a CHILD session (`newSession` — shared context
    * and catalog, private SQLConf; the documented way to run one query
    * under different tuning without touching the shared session):
    * broadcast disabled to force the shuffle-join regime, thresholds
    * opened so the optimizer sees this join the way it would see the
    * 100 TB one. BloomFilterSpec gates the plan (`bloom_filter_agg`
    * subquery + `might_contain` on the fact scan); the oracle proves
    * the filter changes the plan, never the answer.
    */
  val bloomJoin: Op = Op(
    "q_bloom_join",
    """SELECT l_returnflag,
      |       COUNT(*) AS n_items,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag""".stripMargin) { (spark, dir) =>
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val li = Tables.lineitem(s2, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
    val urgent = Tables.orders(s2, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    li.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(centsOf(col("l_extendedprice"))).as("sum_cents"))
  }

  /** The SQL front door exercised end-to-end ([[graft.Tables.sql]]):
    * the reference's native interface is SQL strings against PG
    * (every pipeline script), so the engine must accept the same query
    * as TEXT — catalog views + Spark SQL + Catalyst, not a hand-built
    * DataFrame. The oracle is the same ANSI join/aggregate in DuckDB.
    */
  val sqlEntry: Op = Op(
    "q_sql_entry",
    """SELECT n_name,
      |       COUNT(*) AS n_items,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY n_name""".stripMargin) { (spark, dir) =>
    graft.Tables.sql(spark, dir,
      """SELECT n_name,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY n_name""".stripMargin)
  }

  /** Quantile sketch next to the exact percentile: at 100 TB the exact
    * percentile (full sort-based aggregation buffer per group) is the
    * expensive path and `approx_percentile` (Greenwald-Khanna summary,
    * mergeable, bounded memory) is what you actually run. Contract
    * mirrors [[approxDistinct]]: exact values verified numerically, the
    * sketch pinned by a boolean the oracle sets TRUE — here "the sketch
    * median lands between the exact p45 and p55", a bound far looser
    * than GK's guaranteed rank error (≤0.1% at accuracy 1000) yet tight
    * enough that a broken sketch fails loudly. Exact percentiles run on
    * integer cents so the interpolation is bit-identical cross-engine
    * (same trick as the sales rollup). */
  val approxQuantile: Op = Op(
    "q_approx_quantile",
    """SELECT l_returnflag,
      |       COUNT(*) AS n,
      |       quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.5) AS exact_p50_cents,
      |       TRUE AS sketch_within_bounds
      |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .withColumn("cents", centsOf(col("l_extendedprice")))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        // one percentile buffer for all three quantiles (array form) —
        // three separate percentile() calls would triple the per-group
        // value-multiset aggregation state
        expr("percentile(cents, array(0.45, 0.5, 0.55))").as("ps"),
        expr("approx_percentile(cents, 0.5, 1000)").as("ap"))
      .select(col("l_returnflag"), col("n"),
        element_at(col("ps"), 2).as("exact_p50_cents"),
        (col("ap") >= element_at(col("ps"), 1) &&
          col("ap") <= element_at(col("ps"), 3))
          .as("sketch_within_bounds"))
  }

  /** Sketch aggregates: approx_count_distinct (HLL++) next to the exact
    * count. The sketch value itself is engine-specific, so the CONTRACT
    * the driver verifies is the pinned property: exact counts plus a
    * boolean `within_5pct` that Spark computes honestly from the sketch
    * and the oracle pins to TRUE (HLL++ at rsd=0.02 stays well inside
    * 5%); the spec additionally asserts the numeric relative error. */
  // (approxDistinct follows heavyHitters below)

  /** Join-key skew probe: the top-10 hottest keys with their corpus
    * share — the diagnostic that FEEDS [[saltedJoin]]'s hot set and
    * decides whether a 100 TB join needs salting at all.
    *
    * Scale shape: one map-side-combinable count per key, then the
    * global top-k goes through sort+LIMIT — Spark plans
    * `TakeOrderedAndProject` (per-partition top-k, driver merges k·P
    * rows), NOT a global sort of the key histogram. The corpus total
    * is a one-row broadcast; the rank window touches only the 10
    * survivors. Ties break by key so the contract is deterministic. */
  val heavyHitters: Op = Op(
    "q_heavy_hitters",
    """WITH c AS (
      |  SELECT l_partkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1
      |), t AS (
      |  SELECT COUNT(*) AS total FROM lineitem
      |)
      |SELECT key, cnt, CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share, rk
      |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rk FROM c), t
      |WHERE rk <= 10""".stripMargin) { (spark, dir) =>
    val li = Tables.lineitem(spark, dir).select(col("l_partkey").as("key"))
    val counts = li.groupBy(col("key")).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("key").asc).limit(10)
    val total = li.agg(count(lit(1)).as("total"))
    top.crossJoin(broadcast(total))
      .withColumn("share",
        col("cnt").cast("double") / col("total").cast("double"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("key").asc)))
      .select(col("key"), col("cnt"), col("share"), col("rk"))
  }

  val approxDistinct: Op = Op(
    "q_approx_distinct",
    """SELECT event_type,
      |       COUNT(DISTINCT user_id) AS exact_users,
      |       COUNT(*) AS n,
      |       TRUE AS within_5pct
      |FROM events GROUP BY event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("exact_users"), col("n"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.05)).as("within_5pct"))
  }
}
