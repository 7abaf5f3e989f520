package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables

/** Incremental maintenance of a materialized aggregate — the missing
  * sibling of the engine's incremental DEDUP (`q_dedup_incremental`:
  * new batch vs standing index) for the aggregation side: a standing
  * per-day aggregate VIEW is refreshed with a delta batch by algebraic
  * merge, never by recomputing the corpus.
  *
  * The reference runs exactly this cadence — its cron re-derives
  * day-valuation aggregates from scratch on every run
  * (scripts/collection/revalueCollection.mjs:105-179 recomputes the
  * day's totals each invocation); at 100 TB a from-scratch GROUP BY
  * over the fact table per refresh is the thing you cannot do. The
  * maintainable form decomposes every surfaced stat into COMMUTATIVE
  * MONOID components (count, sum — merged by addition; avg is DERIVED
  * at read as sum/count, never stored): refresh cost is then
  * O(delta + |view|), independent of corpus size, and the same
  * decomposition is what Spark's own partial aggregation exploits
  * map-side inside one job.
  *
  * Shape: the standing store holds (day, n_orders, sum_cents) for the
  * base slice of `orders`, built once per source-listing signature
  * (fixture-reuse convention of the CSV/ORC ops — building the base is
  * the one-time backfill, not what the refresh measures). The
  * registered op aggregates ONLY the delta slice (o_orderkey % 10 = 0
  * — the arriving batch, same convention as `q_dedup_incremental`),
  * unions it with the store, and re-aggregates per day: sum-of-sums /
  * sum-of-counts, one shuffle over |view| + |delta-days| rows.
  * [[IncrementalAggSpec]] pins merge ≡ full recompute, store reuse
  * across invocations, and that overlap days really carry both sides.
  */
object IncrementalAgg {

  /** Delta membership: the arriving batch. */
  val DeltaMod = 10

  private def cents = round(col("o_totalprice") * 100).cast("long")

  private def dayAgg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"), sum(cents).as("sum_cents"))

  /** The standing base-aggregate store, built once per source
    * signature; returns its scan. */
  def baseStore(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val store = PersistedStore.ensure(spark, dir, "orders.parquet",
      "mv_agg", "v1") { root =>
      dayAgg(Tables.orders(spark, dir)
          .filter(col("o_orderkey") % DeltaMod =!= 0))
        .write.mode("overwrite").parquet(root)
    }
    Tables.parquet(spark, store)
  }

  /** The refresh kernel: merge a standing (day, n, sum) view with a
    * delta-batch aggregate by monoid addition; avg derived at read. */
  def refresh(
      base: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    base.union(dayAgg(delta))
      .groupBy(col("day"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("sum_cents")).as("sum_cents"))
      // DIV = exact integral division (the double-path a/b could round
      // the quotient across an integer boundary before the cast)
      .withColumn("avg_cents", expr("sum_cents DIV n_orders"))

  /** The sketch-store twin of [[baseStore]] for the NON-decomposable
    * stat: per-day DISTINCT users. COUNT(DISTINCT) has no monoid
    * components — the mergeable-at-rest form is the HLL sketch
    * (Apache DataSketches, `hll_sketch_agg`), stored as a BINARY
    * column per day: registers depend only on the hashed value set,
    * so union-of-sketches is EXACTLY the sketch of the union (the
    * spec pins merged-estimate ≡ whole-corpus-sketch estimate, not
    * approximately), and a day's sketch never needs its raw events
    * again. Store is built once per source-listing signature over the
    * base slice (event_id % [[DeltaMod]] ≠ 0). */
  def sketchStore(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val store = PersistedStore.ensure(spark, dir, "events.parquet",
      "mv_sketch", "v1") { root =>
      daySketch(Tables.events(spark, dir)
          .filter(col("event_id") % DeltaMod =!= 0))
        .write.mode("overwrite").parquet(root)
    }
    Tables.parquet(spark, store)
  }

  /** Per-day HLL sketch of the frame's users. */
  def daySketch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))

  /** Sketch-refresh kernel: standing per-day sketches ∪ the delta
    * batch's sketches, merged by `hll_union_agg` — refresh cost
    * O(delta + |view|·sketch_bytes), the raw base events never re-read. */
  def sketchRefresh(
      base: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    base.unionByName(daySketch(delta))
      .groupBy(col("day"))
      .agg(hll_union_agg(col("sk")).as("sk"))

  /** Incrementally-maintained per-day DISTINCT-user view through the
    * sketch store. Oracle contract follows `q_approx_distinct`'s
    * convention — the surfaced values are the EXACT per-day distinct
    * counts (recomputed here solely to be oracle-comparable) plus the
    * pinned within-5% flag the sketch estimate must satisfy (default
    * lgK=12 ⇒ ~1.6% standard error; a flag flip means the sketch
    * path broke, and the hash compare fails loudly). The sketch MV
    * itself — store reuse, merge exactness, binary at-rest schema —
    * is pinned in [[IncrementalAggSpec]]. */
  val sketchMv: Op = Op(
    "q_sketch_mv",
    """SELECT CAST(ts AS DATE) AS day,
      |       COUNT(DISTINCT user_id) AS exact_users,
      |       TRUE AS within_5pct
      |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
    val merged = sketchRefresh(
      sketchStore(spark, dir),
      Tables.events(spark, dir).filter(col("event_id") % DeltaMod === 0))
      .select(col("day"), hll_sketch_estimate(col("sk")).as("est"))
    val exact = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(merged, Seq("day"))
      .select(col("day"), col("exact_users"),
        (abs(col("est") - col("exact_users")) * 20 <= col("exact_users"))
          .as("within_5pct"))
  }

  val mvRefresh: Op = Op(
    "q_mv_refresh",
    s"""SELECT CAST(o_orderdate AS DATE) AS day,
       |       COUNT(*) AS n_orders,
       |       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
       |       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
       |            // COUNT(*) AS BIGINT) AS avg_cents
       |FROM orders GROUP BY 1""".stripMargin) { (spark, dir) =>
    refresh(
      baseStore(spark, dir),
      Tables.orders(spark, dir).filter(col("o_orderkey") % DeltaMod === 0))
  }
}
