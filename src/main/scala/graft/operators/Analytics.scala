package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Money.centsOf

/** Analytics operators that generalize the reference's query shapes to a
  * proper star schema: multi-way joins (J1/J3), top-k per group (the k=1
  * case is the reference's W1/O3 — ref 03_build:169), JSON-column
  * extraction (S5/P9 — ref 02_normalize:82,88).
  */
object Analytics {

  /** Ordered-step funnel conversion over the event stream: users who
    * viewed, then clicked AFTER their first view, then purchased AFTER
    * that first qualifying click. The classic product-analytics query,
    * written as a cascade of keyed min-aggregates (each step: filter by
    * type, join the previous step's first-touch times on user_id, take
    * the min qualifying timestamp) — every pass is linear in events
    * with map-side partial MIN combine, and the per-step user frames
    * only ever shrink. The step frames are user-cardinality, so they
    * are NOT force-broadcast: AQE broadcasts them at bench SF and
    * shuffle-joins co-partitioned on user_id at 100 TB, where a
    * billions-of-users frame could never broadcast. No self-join on
    * raw events, no window sort over the whole stream. The oracle
    * compares step times at µs precision (`epoch_us`) because Spark's
    * event ts is µs-truncated while DuckDB keeps the parquet ns — a
    * sub-µs gap between a view and the next click would otherwise
    * order differently across engines (latent on this µs-aligned
    * corpus, but the contract should not lean on a data accident).
    */
  val funnel: Op = Op(
    "q_funnel",
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us
      |  FROM events
      |), v AS (
      |  SELECT user_id, MIN(us) AS t1 FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, MIN(e.us) AS t2
      |  FROM ev e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.us > v.t1
      |  GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, MIN(e.us) AS t3
      |  FROM ev e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.us > c.t2
      |  GROUP BY e.user_id
      |)
      |SELECT 1 AS step, 'view' AS stage, COUNT(*) AS n_users FROM v
      |UNION ALL
      |SELECT 2, 'view>click', COUNT(*) FROM c
      |UNION ALL
      |SELECT 3, 'view>click>purchase', COUNT(*) FROM p""".stripMargin) { (spark, dir) =>
    funnelStages(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts")))
  }

  /** The funnel kernel over any (user_id, event_type, ts) frame —
    * exposed so crafted-input specs can pin the ordering semantics
    * (strict ">": a click at the exact first-view timestamp does NOT
    * advance the funnel; steps must strictly progress in time). */
  def funnelStages(ev: DataFrame): DataFrame = {
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stage(df: DataFrame, step: Int, name: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).as("step"), lit(name).as("stage"), col("n_users"))
    stage(v, 1, "view")
      .unionAll(stage(c, 2, "view>click"))
      .unionAll(stage(p, 3, "view>click>purchase"))
  }

  /** Cohort retention: users grouped by their first-ever event day,
    * counted distinct per whole-week offset of later activity — the
    * standard retention triangle. First-touch days are one keyed MIN
    * aggregate (user-cardinality output — joined back on user_id, AQE
    * picking broadcast only while it fits); the triangle is one (cohort_day, week_offset) aggregate
    * with map-side partial distinct. Day boundaries are UTC in both
    * engines (session TZ pinned).
    */
  val cohortRetention: Op = Op(
    "q_cohort_retention",
    """WITH f AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      |  FROM events GROUP BY user_id
      |)
      |SELECT f.cohort_day,
      |       CAST(floor(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) / 7.0) AS BIGINT) AS week_offset,
      |       COUNT(DISTINCT e.user_id) AS n_users
      |FROM events e JOIN f ON e.user_id = f.user_id
      |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firsts = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(firsts, Seq("user_id"))
      .groupBy(col("cohort_day"),
        floor(datediff(col("day"), col("cohort_day")) / 7.0).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Robust per-user anomaly detection on event values: median + MAD
    * (median absolute deviation), then count the points beyond 3×MAD —
    * the outlier rule that, unlike mean/stddev z-scores, a single
    * spike cannot poison. Values are quantized to integer cents FIRST
    * so every median is a selection (or an exact int midpoint) — both
    * engines interpolate even-count medians identically on integers,
    * which is what keeps the contract hash-exact on doubles.
    *
    * Scale shape: three passes over events (median → MAD → outlier
    * count — each needs the previous pass's per-user scalar), every
    * pass ending in a user-keyed aggregate; the per-user stats tables
    * (|users| rows) broadcast back onto the event scan, so the only
    * shuffles are the map-side-combinable aggregates — no windows, no
    * self-joins. Exact selection-based medians are inherently
    * multi-pass; a 100 TB deployment that prefers one pass swaps
    * `percentile` for the [[Scale.approxQuantile]] GK sketch behind
    * the same column names. */
  val anomalyMad: Op = Op(
    "q_anomaly_mad",
    """WITH q AS (
      |  SELECT user_id, CAST(floor(value*100) AS BIGINT) AS qc FROM events
      |), m AS (
      |  SELECT user_id, quantile_cont(qc, 0.5) AS med FROM q GROUP BY user_id
      |), dv AS (
      |  SELECT q.user_id, q.qc, m.med, abs(q.qc - m.med) AS dev
      |  FROM q JOIN m ON q.user_id = m.user_id
      |), md AS (
      |  SELECT user_id, quantile_cont(dev, 0.5) AS mad FROM dv GROUP BY user_id
      |)
      |SELECT dv.user_id, COUNT(*) AS n_events,
      |       MIN(dv.med) AS med_cents, MIN(md.mad) AS mad_cents,
      |       COUNT(*) FILTER (WHERE dv.dev > 3*md.mad) AS n_outliers
      |FROM dv JOIN md ON dv.user_id = md.user_id
      |GROUP BY dv.user_id""".stripMargin) { (spark, dir) =>
    madStats(Tables.events(spark, dir)
      .select(col("user_id"), floor(col("value") * 100).cast("long").as("qc")))
  }

  /** [[anomalyMad]] kernel over (user_id, qc: long) rows. */
  def madStats(q: DataFrame): DataFrame = {
    val med = q.groupBy(col("user_id"))
      .agg(percentile(col("qc"), lit(0.5)).as("med"))
    val dv = q.join(broadcast(med), Seq("user_id"))
      .withColumn("dev", abs(col("qc") - col("med")))
    val mad = dv.groupBy(col("user_id"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    dv.join(broadcast(mad), Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("med")).as("med_cents"),
        min(col("mad")).as("mad_cents"),
        count_if(col("dev") > lit(3) * col("mad")).as("n_outliers"))
  }

  /** Winsorized (percentile-clipped) aggregates: per-group p05/p95
    * rank bounds, values clipped into [lo, hi], then summed — the
    * robust total that one fat-finger price can't drag (the clipping
    * twin of [[anomalyMad]]'s outlier COUNT). Bounds are DISCRETE rank
    * statistics (value at rank ⌈0.05·n⌉ / ⌈0.95·n⌉) so every output is
    * integer cents — no interpolated fractions, nothing
    * reduction-order-dependent.
    *
    * Scale shape: the selection runs over the per-(group, value) COUNT
    * histogram, not raw rows — one map-side-combinable aggregate
    * collapses 100 TB of lineitem to |group|×|distinct cents| rows,
    * and only that histogram is sorted (same collapse-first trick as
    * the sliding-distinct op). The cumulative window never sees a raw
    * row; bounds broadcast back onto the scan for a map-side clip+sum.
    * Never `ROW_NUMBER() OVER (ORDER BY cents)` on raw rows — that
    * sorts the corpus into |group| reducers. */
  val winsorize: Op = Op(
    "q_winsorize",
    """WITH c AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(ROUND(l_extendedprice*100) AS BIGINT) AS cents
      |  FROM lineitem
      |), h AS (
      |  SELECT flag, cents, COUNT(*) AS cnt FROM c GROUP BY flag, cents
      |), cum AS (
      |  SELECT flag, cents,
      |         SUM(cnt) OVER (PARTITION BY flag ORDER BY cents) AS cum,
      |         SUM(cnt) OVER (PARTITION BY flag) AS n
      |  FROM h
      |), b AS (
      |  SELECT flag,
      |         MIN(CASE WHEN cum >= (n + 19) // 20 THEN cents END) AS lo_cents,
      |         MIN(CASE WHEN cum >= (n * 19 + 19) // 20 THEN cents END) AS hi_cents
      |  FROM cum GROUP BY flag
      |)
      |SELECT c.flag AS l_returnflag,
      |       COUNT(*) AS n_rows,
      |       MIN(b.lo_cents) AS lo_cents,
      |       MIN(b.hi_cents) AS hi_cents,
      |       CAST(SUM(LEAST(GREATEST(c.cents, b.lo_cents), b.hi_cents)) AS BIGINT)
      |         AS winsorized_sum_cents,
      |       COUNT(*) FILTER (WHERE c.cents < b.lo_cents) AS n_clip_low,
      |       COUNT(*) FILTER (WHERE c.cents > b.hi_cents) AS n_clip_high
      |FROM c JOIN b ON c.flag = b.flag
      |GROUP BY c.flag""".stripMargin) { (spark, dir) =>
    winsorizedStats(Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("flag"),
      centsOf(col("l_extendedprice")).as("cents")))
      .withColumnRenamed("flag", "l_returnflag")
  }

  /** [[winsorize]] kernel over (flag, cents: long) rows. */
  def winsorizedStats(c: DataFrame): DataFrame = {
    val h = c.groupBy(col("flag"), col("cents")).agg(count(lit(1)).as("cnt"))
    val cum = h
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("flag")).orderBy(col("cents"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("flag"))))
    val b = cum.groupBy(col("flag")).agg(
      min(when(col("cum") >= expr("(n + 19) div 20"), col("cents")))
        .as("lo_cents"),
      min(when(col("cum") >= expr("(n * 19 + 19) div 20"), col("cents")))
        .as("hi_cents"))
    c.join(broadcast(b), Seq("flag"))
      .groupBy(col("flag"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("lo_cents")).as("lo_cents"),
        min(col("hi_cents")).as("hi_cents"),
        sum(least(greatest(col("cents"), col("lo_cents")), col("hi_cents")))
          .as("winsorized_sum_cents"),
        count_if(col("cents") < col("lo_cents")).as("n_clip_low"),
        count_if(col("cents") > col("hi_cents")).as("n_clip_high"))
  }

  /** Star join: region⋈nation⋈customer dims broadcast onto the
    * orders⋈lineitem fact join. The only real shuffle is
    * lineitem⋈orders on orderkey; at 100 TB both facts would be
    * bucketed/co-partitioned on orderkey making that shuffle-free too,
    * and the dim joins stay broadcast at any fact scale.
    */
  val starJoin: Op = Op(
    "q_star_join",
    """SELECT r_name, n_name,
      |       COUNT(*) AS n_items,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
      |                * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_units
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin) { (spark, dir) =>
    val li = Tables.lineitem(spark, dir)
    val dims = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    li.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        sum(centsOf(col("l_extendedprice")) *
          (lit(100) - centsOf(col("l_discount")))).as("revenue_units"))
  }

  /** Semi join — the EXISTS shape (customers with ≥1 urgent order),
    * completing the join-type matrix next to [[Normalize.antiJoin]]'s
    * NOT EXISTS. A LeftSemi join is strictly cheaper than the
    * inner-join-then-DISTINCT a naive rewrite pays: the build side
    * stores keys only (no payload), probes short-circuit on first
    * match, and no post-join dedup shuffle exists. The probe-side
    * filter (`o_orderpriority = '1-URGENT'`) prunes the build input at
    * its scan; at 100 TB the urgent-orders key set broadcasts or, past
    * that, the semi join shuffles exactly once on the key — plan-gated
    * in PlanQualitySpec. */
  val semiJoin: Op = Op(
    "q_semi_join",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')""".stripMargin) {
    (spark, dir) =>
    Tables.customer(spark, dir)
      .join(
        Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Top-k per group (generalizes W1/O3 from k=1): top 3 parts by revenue
    * within each brand, rank order totalized by partkey so ties are
    * deterministic. The pre-aggregation shrinks the window input from
    * |lineitem| to |part| rows BEFORE the rank shuffle — the difference
    * between sorting 100 TB and sorting the catalog.
    */
  val topKPerGroup: Op = Op(
    "q_topk_per_group",
    """WITH partrev AS (
      |  SELECT p_brand, p_partkey,
      |         CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand, p_partkey
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand
      |    ORDER BY revenue_cents DESC, p_partkey ASC) AS rk
      |  FROM partrev
      |)
      |SELECT p_brand, p_partkey, revenue_cents, rk
      |FROM ranked WHERE rk <= 3""".stripMargin) { (spark, dir) =>
    val partrev = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(sum(centsOf(col("l_extendedprice"))).as("revenue_cents"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("revenue_cents").desc, col("p_partkey").asc)
    partrev.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
  }

  /** The same top-3-per-brand contract through the engine's native
    * bounded-heap aggregate [[graft.expressions.TopKAgg]] instead of a
    * window: `graft_topk(struct(revenue_cents, -p_partkey), 3)` keeps a
    * 3-element min-heap per group with PARTIAL aggregation — each
    * mapper ships at most 3 rows per (mapper, brand) into the shuffle
    * and the plan contains no Window operator at all (spec-gated).
    * The negated tiebreak makes "largest struct" = (revenue DESC,
    * partkey ASC), exactly the oracle's ROW_NUMBER ordering.
    */
  val topKNative: Op = Op("q_topk_native", topKPerGroup.oracle.get) {
    (spark, dir) =>
    val partrev = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(sum(centsOf(col("l_extendedprice"))).as("revenue_cents"))
    partrev.groupBy(col("p_brand"))
      .agg(call_function("graft_topk",
        struct(col("revenue_cents"), (-col("p_partkey")).as("neg_pk")),
        lit(3)).as("top"))
      .select(col("p_brand"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("p_brand"),
        (-col("t.neg_pk")).as("p_partkey"),
        col("t.revenue_cents").as("revenue_cents"),
        (col("pos") + 1).as("rk"))
  }

  /** S5/P9/F23: schema-on-read JSON — key-existence filter + typed
    * extraction from a JSON string column (ref `payload ? 'prices'` and
    * `->>`, 02_normalize:82-88). `get_json_object` returns NULL on
    * malformed/missing — the reference's tolerant-parse semantics (F23).
    */
  val jsonExtract: Op = Op(
    "q_json_extract",
    """SELECT event_type,
      |       COUNT(*) AS n,
      |       CAST(SUM(k) AS BIGINT) AS sum_k,
      |       CAST(MIN(k) AS BIGINT) AS min_k,
      |       CAST(MAX(k) AS BIGINT) AS max_k
      |FROM (
      |  SELECT event_type,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL)
      |GROUP BY event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
  }
}
