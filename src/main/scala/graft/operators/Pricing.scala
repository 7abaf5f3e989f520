package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Money.centsOf

/** Pricing pipeline re-expressed over the testdata role-mapping
  * (FIXTURES.md §A): lineitem plays `market_price_snapshots` with
  * l_partkey→market_item_id, l_shipdate→as_of_date, l_returnflag→source,
  * l_linestatus→price_type, l_extendedprice→value.
  *
  * Scale notes: best-of-day is ONE window over (item, day) — a single
  * hash-partition shuffle on the group key, then an in-partition sort.
  * No join, no second shuffle. At 100 TB the group key (item, day) is
  * high-cardinality and near-uniform, so no salting is needed; AQE
  * coalesces the post-shuffle partitions.
  */
object Pricing {

  /** W1-W3 + O3: top-1-per-group via ranking window with priority-CASE
    * ordering (ref scripts/pricing/03_build_market_price_daily.js:106-170).
    * The reference's tie order is implementation-defined after
    * `value_cents DESC` (03:146); we totalize it with the stable key
    * (l_orderkey, l_linenumber) so Spark and DuckDB agree (SURVEY §7.4
    * hard spot 1).
    */
  /** Role-mapped snapshot projection shared by the batch op and the
    * incremental (streaming) twin. */
  private[graft] def snapsOf(li: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    li.select(
      col("l_partkey").as("market_item_id"),
      to_date(col("l_shipdate")).as("as_of_date"),
      col("l_returnflag").as("source"),
      col("l_linestatus").as("price_type"),
      centsOf(col("l_extendedprice")).as("value_cents"),
      col("l_orderkey"), col("l_linenumber"))

  /** The best-of-day kernel as a DISTRIBUTIVE reduction: min(struct) per
    * (item, day), emitting the tie-break keys alongside the payload so
    * the reduction can be re-applied to its own output —
    * best(best(S₁) ∪ S₂) = best(S₁ ∪ S₂) — which is exactly what the
    * incremental day-merge in [[graft.streaming.EventStream]] relies on.
    */
  private[graft] def bestReduce(snaps: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val srcPrio = when(col("source") === "R", 10)
      .when(col("source") === "A", 20)
      .when(col("source") === "N", 30).otherwise(99)
    val typePrio = when(col("price_type") === "O", 10)
      .when(col("price_type") === "F", 14).otherwise(90)
    // argmin as the bounded-heap argMAX over the sign-flipped ordering
    // key (BestAgg r15: the declarative min(struct) planned as
    // SortAggregate — every mapper sorted the whole snapshot stream);
    // (l_orderkey, l_linenumber) totalizes the key, so the trailing
    // payload columns never participate in a comparison
    snaps
      .groupBy(col("market_item_id"), col("as_of_date"))
      .agg(BestAgg.largest1(struct(
        (-srcPrio).as("nsp"), (-typePrio).as("ntp"),
        col("value_cents").as("v"),
        (-col("l_orderkey")).as("nok"), (-col("l_linenumber")).as("nln"),
        col("source"), col("price_type"))).as("best"))
      .select(col("market_item_id"), col("as_of_date"),
        col("best.source").as("source"),
        col("best.price_type").as("price_type"),
        col("best.v").as("value_cents"),
        (-col("best.nok")).as("l_orderkey"),
        (-col("best.nln")).as("l_linenumber"))
  }

  val bestOfDay: Op = Op(
    "q_best_of_day",
    """WITH snaps AS (
      |  SELECT l_partkey AS market_item_id,
      |         CAST(l_shipdate AS DATE) AS as_of_date,
      |         l_returnflag AS source,
      |         l_linestatus AS price_type,
      |         CAST(ROUND(l_extendedprice*100) AS BIGINT) AS value_cents,
      |         l_orderkey, l_linenumber
      |  FROM lineitem
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY market_item_id, as_of_date
      |    ORDER BY CASE source WHEN 'R' THEN 10 WHEN 'A' THEN 20 WHEN 'N' THEN 30 ELSE 99 END,
      |             CASE price_type WHEN 'O' THEN 10 WHEN 'F' THEN 14 ELSE 90 END,
      |             value_cents DESC, l_orderkey, l_linenumber) AS rn
      |  FROM snaps
      |)
      |SELECT market_item_id, as_of_date, source, price_type, value_cents
      |FROM ranked WHERE rn = 1""".stripMargin) { (spark, dir) =>
    // Top-1-per-group as min(struct(orderKey..., payload)) instead of a
    // ranking window: structs compare lexicographically, so the minimal
    // struct IS the rn=1 row. This turns a full per-group SORT (window)
    // into a hash aggregate with MAP-SIDE partial combine — the shuffle
    // carries one candidate per (item, day) per mapper instead of every
    // snapshot row. Same rows out, same oracle; at 100 TB it is the
    // difference between shuffling the table and shuffling the answer.
    bestReduce(snapsOf(Tables.lineitem(spark, dir)))
      .drop("l_orderkey", "l_linenumber")
  }

  /** A1/A2-shaped grouped aggregation (TPC-H Q1 shape over the pricing
    * roles). Money goes through exact integer-cents / decimal arithmetic
    * so sums are order-independent — a double SUM would be
    * nondeterministic under shuffle and could never hash-match the oracle.
    * Map-side partial aggregation (HashAggregate partial→final) keeps the
    * shuffle to one pass of (flag,status) partials — constant-size at any SF.
    */
  val pricingAgg: Op = Op(
    "q1_agg",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
      |           * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_units,
      |  COUNT(*) AS n_rows,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    val li = Tables.lineitem(spark, dir)
    val baseCents = centsOf(col("l_extendedprice"))
    val discCents = centsOf(col("l_discount"))
    li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
      sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
      sum(baseCents).as("sum_base_cents"),
      sum(baseCents * (lit(100) - discCents)).as("revenue_units"),
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"))
  }
}
