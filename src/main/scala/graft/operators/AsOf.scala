package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.AsOfJoinPlan
import graft.functions.Money.centsOf

/** As-of (point-in-time) join and range (interval) join — operators
  * Spark lacks natively
  * (north-star extension; the reference's closest shape is the
  * "latest row per group" correlated LIMIT 1,
  * scripts/pricing/10_rollup_market_values_daily.mjs:69-75).
  *
  * Each event is matched to the user's most recent order placed
  * at-or-before the event date; ties on the same day resolve to the
  * highest orderkey (total order → engines agree).
  *
  * Implementation is the union-and-carry-forward trick, NOT a join:
  * tag order rows and event rows, union them, sort within user by
  * (time, kind, orderkey), and carry the last non-null order attribute
  * forward with last_value(ignoreNulls) over an unbounded-preceding
  * frame. ONE shuffle on user_id and a single sort — linear at 100 TB,
  * where a naive inequality join (event × all-prior-orders) is
  * quadratic in orders-per-user and a range join would still shuffle
  * both sides twice. This is the standard scale shape for
  * point-in-time feature joins in feature stores.
  */
object AsOf {

  // Shared by the carry-forward twin (q_asof_join) and the native exec
  // (q_asof_native): both must equal the decorrelated arg_max form.
  private val asofOracle =
    """WITH ev AS (
      |  SELECT event_id, user_id, CAST(ts AS DATE) AS event_date
      |  FROM events
      |), o AS (
      |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
      |         CAST(ROUND(o_totalprice*100) AS BIGINT) AS cents
      |  FROM orders
      |), matched AS (
      |  SELECT e.event_id, e.user_id, e.event_date,
      |         arg_max(o.o_orderkey,
      |                 CAST(epoch(o.od) AS BIGINT) * 10000000 + o.o_orderkey) AS asof_orderkey,
      |         arg_max(o.cents,
      |                 CAST(epoch(o.od) AS BIGINT) * 10000000 + o.o_orderkey) AS asof_cents
      |  FROM ev e JOIN o ON o.o_custkey = e.user_id AND o.od <= e.event_date
      |  GROUP BY e.event_id, e.user_id, e.event_date
      |)
      |SELECT ev.event_id, ev.user_id, ev.event_date,
      |       m.asof_orderkey, m.asof_cents
      |FROM ev LEFT JOIN matched m ON ev.event_id = m.event_id""".stripMargin

  val asofJoin: Op = Op("q_asof_join", asofOracle) { (spark, dir) =>
    val ev = Tables.events(spark, dir).select(
      col("event_id"), col("user_id"),
      to_date(col("ts")).as("event_date"))
    val o = Tables.orders(spark, dir).select(
      col("o_custkey"), col("o_orderkey"),
      to_date(col("o_orderdate")).as("od"),
      centsOf(col("o_totalprice")).as("cents"))
    // kind 0 = order (state), kind 1 = event (probe): same-day orders
    // sort before the event, so "at-or-before" includes them.
    val orderRows = o.select(
      col("o_custkey").as("user_id"),
      col("od").as("t"),
      lit(0).as("kind"),
      lit(null).cast("long").as("event_id"),
      col("o_orderkey").as("asof_orderkey"),
      col("cents").as("asof_cents"))
    val eventRows = ev.select(
      col("user_id"),
      col("event_date").as("t"),
      lit(1).as("kind"),
      col("event_id"),
      lit(null).cast("long").as("asof_orderkey"),
      lit(null).cast("long").as("asof_cents"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"), col("asof_orderkey").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orderRows.unionByName(eventRows)
      .withColumn("carry_key", last(col("asof_orderkey"), ignoreNulls = true).over(w))
      .withColumn("carry_cents", last(col("asof_cents"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("t").as("event_date"),
        col("carry_key").as("asof_orderkey"),
        col("carry_cents").as("asof_cents"))
  }

  /** Range (interval) join: per urgent order, total market shipping
    * activity in the 7 days from order placement — the pure
    * interval-join shape of the reference's 180-day sales-comps window
    * (scripts/pricing/10_rollup_market_values_daily.mjs:33-48), with no
    * equi-key between the sides.
    *
    * A naive `d.day BETWEEN o.day AND o.day+6` join has no equi-key and
    * plans as a nested-loop product (PlanQualitySpec pins that it does
    * NOT happen here). The Spark-first rewrite exploits that the range
    * aggregate is ADDITIVE: (1) pre-aggregate the big side to one row
    * per ship-day — linear, one shuffle, collapses 100 TB of lineitem
    * to a few thousand rows; (2) explode each order's 7-day window into
    * day keys; (3) broadcast equi-join on day and re-aggregate. For
    * non-additive aggregates the same day-bucket explode still turns
    * the inequality join into an equi-join on (bucket), just against
    * per-row data instead of per-day partials.
    */
  val rangeJoin: Op = Op(
    "q_range_join",
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS day,
      |         COUNT(*) AS n_items,
      |         CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS day_cents
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_day,
      |       CAST(SUM(d.n_items) AS BIGINT) AS n_shipped,
      |       CAST(SUM(d.day_cents) AS BIGINT) AS shipped_cents
      |FROM orders o JOIN daily d
      |  ON d.day >= CAST(o.o_orderdate AS DATE)
      | AND d.day < CAST(o.o_orderdate AS DATE) + 7
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    val daily = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(count(lit(1)).as("n_items"),
        sum(centsOf(col("l_extendedprice"))).as("day_cents"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("order_day"))
      .withColumn("day",
        explode(sequence(col("order_day"), date_add(col("order_day"), 6))))
    o.join(broadcast(daily), Seq("day"))
      .groupBy(col("o_orderkey"), col("order_day"))
      .agg(sum(col("n_items")).as("n_shipped"),
        sum(col("day_cents")).as("shipped_cents"))
  }

  /** As-of join as a first-class engine operator: builds a
    * [[graft.plans.AsOfJoinPlan]] over the two frames' analyzed plans
    * and lets the planner produce [[graft.plans.AsOfJoinExec]] — one
    * co-partitioning shuffle per side, one in-partition sort, one
    * forward merge. See the exec's scaladoc for why this beats both
    * SQL-expressible shapes after the shuffle.
    *
    * `keys` pairs (probeCol → stateCol); `time` likewise; `tieBreak`
    * state columns break equal (key, time) ties by GREATEST tuple.
    * Output = all probe columns, then all state columns (null-padded
    * when no state row is at-or-before the probe time) — project after
    * the call; the projection lands above the exec and prunes through
    * its children.
    */
  def asofJoinNative(
      probe: DataFrame, state: DataFrame,
      keys: Seq[(String, String)],
      time: (String, String),
      tieBreak: Seq[String],
      forward: Boolean = false): DataFrame = {
    val spark = probe.sparkSession
    // the planner strategy for AsOfJoinPlan ships with the extension
    graft.GraftExtensions.install(spark)
    val lp = probe.queryExecution.analyzed
    val rp = state.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${p.output.map(_.name).mkString(", ")}"))
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, AsOfJoinPlan(
      lp, rp,
      keys.map(k => attr(lp, k._1)), keys.map(k => attr(rp, k._2)),
      attr(lp, time._1), attr(rp, time._2),
      tieBreak.map(attr(rp, _)), forward))
  }

  /** The carry-forward twin's exact contract, executed by the native
    * whole-operator path — same oracle, column-identical output.
    */
  val asofNative: Op = Op("q_asof_native", asofOracle) { (spark, dir) =>
    val ev = Tables.events(spark, dir).select(
      col("event_id"), col("user_id"),
      to_date(col("ts")).as("event_date"))
    val o = Tables.orders(spark, dir).select(
      col("o_custkey").as("s_user"),
      to_date(col("o_orderdate")).as("s_time"),
      col("o_orderkey").as("asof_orderkey"),
      centsOf(col("o_totalprice")).as("asof_cents"))
    asofJoinNative(ev, o,
      keys = Seq("user_id" -> "s_user"),
      time = "event_date" -> "s_time",
      tieBreak = Seq("asof_orderkey"))
      .select(col("event_id"), col("user_id"), col("event_date"),
        col("asof_orderkey"), col("asof_cents"))
  }

  /** The native exec's FORWARD direction (pandas merge_asof
    * direction='forward'): each order matches its EARLIEST line
    * shipment at-or-after the order date, ties to the smallest line
    * number — the "first action after" join (first fulfillment, next
    * event after exposure) where the backward op is the feature-store
    * "state as of" join. Same single-merge physical shape; the forward
    * walk holds ZERO buffered state rows (the sorted lookahead itself
    * is the match and is never consumed past it). The events→orders
    * domain would be vacuous here — every event postdates the order
    * history — so the op probes orders against shipments, where
    * matches are dense. */
  val asofForward: Op = Op(
    "q_asof_forward",
    """WITH o AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date
      |  FROM orders
      |), l AS (
      |  SELECT l_orderkey, CAST(l_shipdate AS DATE) AS sd, l_linenumber,
      |         CAST(ROUND(l_extendedprice*100) AS BIGINT) AS cents
      |  FROM lineitem
      |), matched AS (
      |  SELECT o.o_orderkey,
      |         arg_min(l.l_linenumber,
      |                 CAST(epoch(l.sd) AS BIGINT) * 10 + l.l_linenumber) AS first_line,
      |         arg_min(l.cents,
      |                 CAST(epoch(l.sd) AS BIGINT) * 10 + l.l_linenumber) AS first_cents
      |  FROM o JOIN l ON l.l_orderkey = o.o_orderkey AND l.sd >= o.order_date
      |  GROUP BY o.o_orderkey
      |)
      |SELECT o.o_orderkey, o.order_date, m.first_line, m.first_cents
      |FROM o LEFT JOIN matched m ON o.o_orderkey = m.o_orderkey""".stripMargin) {
    (spark, dir) =>
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"))
    val l = Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("s_key"),
      to_date(col("l_shipdate")).as("s_time"),
      col("l_linenumber").as("first_line"),
      centsOf(col("l_extendedprice")).as("first_cents"))
    asofJoinNative(o, l,
      keys = Seq("o_orderkey" -> "s_key"),
      time = "order_date" -> "s_time",
      tieBreak = Seq("first_line"),
      forward = true)
      .select(col("o_orderkey"), col("order_date"),
        col("first_line"), col("first_cents"))
  }

  /** Nearest-direction as-of (pandas merge_asof direction='nearest'):
    * each event matches the user's order CLOSEST in time, either side.
    * Tie rules compose the two directed execs' own conventions —
    * equal distance prefers the backward (at-or-before) match; within
    * a backward day the HIGHEST orderkey wins (the backward merge
    * keeps the last row in (time, tie)-ascending order), within a
    * forward day the LOWEST (the forward merge keeps the first) — so
    * the op is exactly "run both directed merges, keep the closer",
    * which is how it is built: two [[asofJoinNative]] passes over the
    * same inputs and one event-keyed merge of their (event-sized)
    * outputs picking by |Δdays|. `near_days` is the signed offset
    * (negative = matched order precedes the event).
    *
    * Scale shape: each directed pass is the single linear merge of the
    * native exec (one shuffle per side on user); the final pick joins
    * two EVENT-sized frames on event_id — nothing beyond the directed
    * ops' own cost, and constant state per key like them. A dedicated
    * nearest mode in the exec would save the second merge; composition
    * is preferred while the exec's two directions stay this simple. */
  val asofNearest: Op = Op(
    "q_asof_nearest",
    """WITH ev AS (
      |  SELECT event_id, user_id, CAST(ts AS DATE) AS event_date
      |  FROM events
      |), o AS (
      |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
      |         CAST(ROUND(o_totalprice*100) AS BIGINT) AS cents
      |  FROM orders
      |), keyed AS (
      |  -- tie key packs (|days|, direction, per-direction orderkey rank)
      |  -- into one BIGINT for arg_min. Digit budget: key term < 1e11
      |  -- (valid for o_orderkey <= 99 999 999 999 — TPC-H orderkeys stay
      |  -- sparse below 6e9 even at sf=1000), direction term 1e11, day
      |  -- unit 1e12 > the sub-terms' max sum, day span < ~9.2e6 before
      |  -- BIGINT overflow — far past any date fixture.
      |  SELECT e.event_id, o.o_orderkey, o.cents,
      |         CAST(datediff('day', e.event_date, o.od) AS BIGINT) AS sdays,
      |         abs(CAST(datediff('day', e.event_date, o.od) AS BIGINT)) * 1000000000000
      |           + (CASE WHEN o.od <= e.event_date THEN 0 ELSE 100000000000 END)
      |           + (CASE WHEN o.od <= e.event_date
      |              THEN 99999999999 - o.o_orderkey ELSE o.o_orderkey END) AS k
      |  FROM ev e JOIN o ON o.o_custkey = e.user_id
      |), m AS (
      |  SELECT event_id,
      |         arg_min(o_orderkey, k) AS near_orderkey,
      |         arg_min(cents, k) AS near_cents,
      |         arg_min(sdays, k) AS near_days
      |  FROM keyed GROUP BY event_id
      |)
      |SELECT ev.event_id, ev.user_id, ev.event_date,
      |       m.near_orderkey, m.near_cents, m.near_days
      |FROM ev LEFT JOIN m ON ev.event_id = m.event_id""".stripMargin) {
    (spark, dir) =>
    def ev = Tables.events(spark, dir).select(
      col("event_id"), col("user_id"),
      to_date(col("ts")).as("event_date"))
    val ob = Tables.orders(spark, dir).select(
      col("o_custkey").as("s_user"), to_date(col("o_orderdate")).as("s_time"),
      col("o_orderkey").as("b_key"), centsOf(col("o_totalprice")).as("b_cents"))
    val of = Tables.orders(spark, dir).select(
      col("o_custkey").as("s_user"), to_date(col("o_orderdate")).as("s_time"),
      col("o_orderkey").as("f_key"), centsOf(col("o_totalprice")).as("f_cents"))
    val back = asofJoinNative(ev, ob,
      keys = Seq("user_id" -> "s_user"), time = "event_date" -> "s_time",
      tieBreak = Seq("b_key"))
      .select(col("event_id"), col("user_id"), col("event_date"),
        col("s_time").as("b_date"), col("b_key"), col("b_cents"))
    val fwd = asofJoinNative(ev, of,
      keys = Seq("user_id" -> "s_user"), time = "event_date" -> "s_time",
      tieBreak = Seq("f_key"), forward = true)
      .select(col("event_id"), col("s_time").as("f_date"),
        col("f_key"), col("f_cents"))
    val both = back.join(fwd, Seq("event_id"))
    val bAbs = datediff(col("event_date"), col("b_date")).cast("long")
    val fAbs = datediff(col("f_date"), col("event_date")).cast("long")
    val takeBack = col("b_date").isNotNull &&
      (col("f_date").isNull || bAbs <= fAbs)
    both.select(col("event_id"), col("user_id"), col("event_date"),
      when(takeBack, col("b_key")).otherwise(col("f_key")).as("near_orderkey"),
      when(takeBack, col("b_cents")).otherwise(col("f_cents")).as("near_cents"),
      when(takeBack, -bAbs).otherwise(fAbs).as("near_days"))
  }
}
