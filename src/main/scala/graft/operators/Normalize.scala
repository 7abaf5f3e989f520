package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Money.centsOf

/** Snapshot-normalize pipeline (reference E2 step 1,
  * scripts/pricing/02_normalize_scryfall_prices.js:78-157): join on a
  * cast key (J1), lateral-unpivot price variants into rows (U1/J7),
  * filter null/non-positive (P5), attach JSON provenance (F10).
  *
  * Role mapping (FIXTURES.md): part = market_items, lineitem = raw
  * payloads; the 4 lineitem numeric columns play the 5 scryfall price
  * keys.
  *
  * Scale notes: the unpivot is a generator (`explode`) that runs inside
  * the scan stage — no shuffle. The join key is cast to string to mirror
  * the reference's `id::text` (02:85); Catalyst still plans a hash join
  * on the cast value and pushes column pruning through it. Join fan-out
  * ×4 happens AFTER the join, keeping the shuffled payload narrow.
  */
object Normalize {

  /** The previous [[antiJoin]] run's checkpointed aggregate — held only
    * so the next run can release its blocks (see the release note in
    * the op body). */
  @volatile private var lastAntiJoinKeyed:
    org.apache.spark.sql.DataFrame = null

  val snapshotNormalize: Op = Op(
    "q_snapshot_normalize",
    """WITH src AS (
      |  SELECT p_partkey AS market_item_id, l_orderkey, l_linenumber,
      |         l_extendedprice, l_discount, l_tax, l_quantity
      |  FROM lineitem JOIN part
      |    ON CAST(l_partkey AS VARCHAR) = CAST(p_partkey AS VARCHAR)
      |), rows_ AS (
      |  SELECT market_item_id, l_orderkey, l_linenumber, 'extended' AS price_type,
      |         CAST(ROUND(l_extendedprice*100) AS BIGINT) AS value_cents FROM src
      |  UNION ALL
      |  SELECT market_item_id, l_orderkey, l_linenumber, 'discount',
      |         CAST(ROUND(l_discount*100) AS BIGINT) FROM src
      |  UNION ALL
      |  SELECT market_item_id, l_orderkey, l_linenumber, 'tax',
      |         CAST(ROUND(l_tax*100) AS BIGINT) FROM src
      |  UNION ALL
      |  SELECT market_item_id, l_orderkey, l_linenumber, 'quantity',
      |         CAST(ROUND(l_quantity*100) AS BIGINT) FROM src
      |)
      |SELECT market_item_id, l_orderkey, l_linenumber, price_type, value_cents,
      |       CAST(json_object('src', 'lineitem', 'price_type', price_type) AS VARCHAR) AS raw
      |FROM rows_
      |WHERE value_cents IS NOT NULL AND value_cents > 0""".stripMargin) { (spark, dir) =>
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    val src = li.join(part,
        li("l_partkey").cast("string") === part("p_partkey").cast("string"))
      .select(col("p_partkey").as("market_item_id"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_quantity"))
    def variant(name: String, c: String) = struct(
      lit(name).as("price_type"), centsOf(col(c)).as("value_cents"))
    src
      .select(col("market_item_id"), col("l_orderkey"), col("l_linenumber"),
        explode(array(
          variant("extended", "l_extendedprice"),
          variant("discount", "l_discount"),
          variant("tax", "l_tax"),
          variant("quantity", "l_quantity"))).as("pv"))
      .select(col("market_item_id"), col("l_orderkey"), col("l_linenumber"),
        col("pv.price_type").as("price_type"),
        col("pv.value_cents").as("value_cents"))
      .filter(col("value_cents").isNotNull && col("value_cents") > 0)
      .withColumn("raw", to_json(struct(
        lit("lineitem").as("src"), col("price_type").as("price_type"))))
  }

  /** J4 + P7: null-safe anti-join — the reference's "insert only rows not
    * already present" idempotent sink, where `condition` may be NULL on
    * both sides (02_normalize_scryfall_prices.js:183-192, key match uses
    * IS NOT DISTINCT FROM at 02:172,191).
    *
    * `nullif(l_returnflag,'N')` manufactures the nullable key column.
    * Spark plans this as a null-safe anti hash join over the two
    * pre-aggregated key frames; both frames derive from ONE grouped
    * scan of lineitem (per-side presence flags), so one Exchange feeds
    * both legs at any scale (r14 — formerly two filtered distincts,
    * two scans).
    */
  val antiJoin: Op = Op(
    "q_anti_join",
    """WITH existing AS (
      |  SELECT DISTINCT l_partkey, l_suppkey,
      |         NULLIF(l_returnflag, 'N') AS cond
      |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01'
      |), incoming AS (
      |  SELECT DISTINCT l_partkey, l_suppkey,
      |         NULLIF(l_returnflag, 'N') AS cond
      |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'
      |)
      |SELECT i.l_partkey, i.l_suppkey, i.cond
      |FROM incoming i
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM existing e
      |  WHERE e.l_partkey = i.l_partkey AND e.l_suppkey = i.l_suppkey
      |    AND e.cond IS NOT DISTINCT FROM i.cond)""".stripMargin) { (spark, dir) =>
    val li = Tables.lineitem(spark, dir)
    val cutoff = lit("1999-01-01").cast("timestamp")
    // r14: ONE lineitem scan + ONE exchange feed both legs. The former
    // two date-filtered DISTINCTs scanned lineitem twice and paid two
    // distinct-aggregate shuffles; grouping the (key, cond) tuple once
    // with per-side presence flags makes both legs filters over the
    // SAME aggregate. The aggregate is localCheckpointed (the
    // iterate-materialization device of the graph kernels): without it
    // column pruning specializes each leg to its own flag and the two
    // subtrees stop sharing the exchange — measured as two full scans.
    // NULL l_shipdate rows matched neither date filter before; the
    // isNotNull pre-filter keeps that law explicit.
    val keyed = li.filter(col("l_shipdate").isNotNull)
      .groupBy(col("l_partkey"), col("l_suppkey"),
        nullif(col("l_returnflag"), lit("N")).as("cond"))
      .agg(
        max(when(col("l_shipdate") < cutoff, 1).otherwise(0)).as("has_old"),
        max(when(col("l_shipdate") >= cutoff, 1).otherwise(0)).as("has_new"))
      .localCheckpoint()
    // bounded-release (r15, ADVICE): the checkpoint is per-run working
    // state returned lazily (no post-action release point exists here),
    // so the PREVIOUS run's blocks are dropped when the next run
    // re-checkpoints — repeated runs hold ONE live copy instead of
    // accumulating until driver GC + ContextCleaner catch up. Only a
    // predecessor of this same session is released: another session's
    // frame may still be unread, and a stopped context's blocks are
    // gone with it (unpersisting them there throws).
    Normalize.synchronized {
      val prev = lastAntiJoinKeyed
      if (prev != null && (prev.sparkSession eq spark))
        SessionCache.releaseFrame(prev)
      lastAntiJoinKeyed = keyed
    }
    def side(flag: String) = keyed.filter(col(flag) === 1)
      .select(col("l_partkey"), col("l_suppkey"), col("cond"))
    // self-join legs aliased explicitly: `df1("c") === df2("c")` on
    // same-lineage frames relies on Spark's dataset-id disambiguation
    // and logs trivially-true-predicate warnings; qualified aliases make
    // the join condition unambiguous by construction
    val existing = side("has_old").alias("ex")
    val incoming = side("has_new").alias("inc")
    incoming.join(existing,
      col("inc.l_partkey") === col("ex.l_partkey") &&
        col("inc.l_suppkey") === col("ex.l_suppkey") &&
        (col("inc.cond") <=> col("ex.cond")),
      "left_anti")
  }
}
