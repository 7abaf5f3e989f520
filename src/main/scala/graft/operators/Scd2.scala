package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables

/** Slowly-changing-dimension type-2 maintenance: the warehouse pattern
  * for keeping attribute HISTORY (valid_from/valid_to row versions)
  * while the reference's upsert sinks (S7–S10) keep only latest state.
  * One merge = one full-outer join of the open rows against the
  * incoming snapshot on the business key plus map-only row
  * classification — linear, one shuffle, exactly the plan a
  * MERGE INTO compiles to on a lakehouse table; closed history rows
  * never re-join (they pass through untouched, and in a day-partitioned
  * store they would not even be read).
  */
object Scd2 {

  /** Merge an incoming snapshot into an SCD2 history frame.
    *
    * `current`: (key, attrs…, valid_from: date, valid_to: date|null) —
    * rows with null valid_to are the open versions. `incoming`:
    * (key, attrs…) — the new full snapshot, one row per key.
    * Classification per open-row/incoming pair (null-safe attr struct
    * compare, so a null attribute is a value, not a wildcard):
    * unchanged → passes through; changed → old version closes at
    * `effective`, new version opens; key absent from the snapshot →
    * soft-delete (closes at `effective`); brand-new key → opens at
    * `effective`. Closed history passes through unchanged.
    */
  def merge(current: DataFrame, incoming: DataFrame, key: String,
      attrs: Seq[String], effective: Column): DataFrame = {
    val open = current.filter(col("valid_to").isNull)
    val hist = current.filter(col("valid_to").isNotNull)
    val cAttrs = struct(attrs.map(a => col(s"c.$a")): _*)
    val iAttrs = struct(attrs.map(a => col(s"i.$a")): _*)
    val j = open.alias("c").join(incoming.alias("i"),
      col(s"c.$key") === col(s"i.$key"), "full_outer")
    val inCur = col(s"c.$key").isNotNull
    val inNew = col(s"i.$key").isNotNull
    val same = cAttrs <=> iAttrs
    val curCols = (key +: attrs).map(a => col(s"c.$a")) :+
      col("c.valid_from") :+ col("c.valid_to")
    val unchanged = j.filter(inCur && inNew && same).select(curCols: _*)
    val closed = j.filter(inCur && (!inNew || !same))
      .select((key +: attrs).map(a => col(s"c.$a")) :+
        col("c.valid_from") :+ effective.as("valid_to"): _*)
    val opened = j.filter(inNew && (!inCur || !same))
      .select((key +: attrs).map(a => col(s"i.$a")) :+
        effective.as("valid_from") :+ lit(null).cast("date").as("valid_to"): _*)
    hist.unionByName(unchanged).unionByName(closed).unionByName(opened)
  }

  /** SCD2 merge registered end-to-end on a deterministic change batch:
    * day-0 history is the customer snapshot (all rows open from
    * 2024-01-01); the day-30 snapshot mutates every 7th customer's
    * market segment (the piiScrub decoy pattern — the same injection
    * runs in the oracle, so the merge kernel itself is what's under
    * test). Changed keys must close their old version and open a new
    * one; everyone else stays a single open row. */
  val scd2Merge: Op = Op(
    "q_scd2_merge",
    """SELECT c_custkey, c_mktsegment AS segment,
      |       DATE '2024-01-01' AS valid_from,
      |       CASE WHEN c_custkey % 7 = 0 THEN DATE '2024-02-01' END AS valid_to,
      |       c_custkey % 7 <> 0 AS is_current
      |FROM customer
      |UNION ALL
      |SELECT c_custkey, 'CHANGED', DATE '2024-02-01', NULL, TRUE
      |FROM customer WHERE c_custkey % 7 = 0""".stripMargin) { (spark, dir) =>
    val snap = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val day0 = snap
      .withColumn("valid_from", to_date(lit("2024-01-01")))
      .withColumn("valid_to", lit(null).cast("date"))
    val day30 = snap.select(col("c_custkey"),
      when(col("c_custkey") % 7 === 0, "CHANGED")
        .otherwise(col("segment")).as("segment"))
    merge(day0, day30, "c_custkey", Seq("segment"),
      to_date(lit("2024-02-01")))
      .select(col("c_custkey"), col("segment"), col("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  /** CDC changelog compaction — the other direction from [[merge]]:
    * given a keyed op log (Debezium feed, Kafka compacted topic, Delta
    * change-data feed), materialize latest table STATE. Last op per key
    * by (ts, event_id) wins; a tombstone op deletes the key. The events
    * table plays the changelog: `error` is the tombstone (account
    * erasure), everything else upserts `value`.
    *
    * Shape at scale: ONE hash aggregate keyed on the business key —
    * `max(struct(ts, event_id, op, value))` compacts each key
    * map-side, so the shuffle carries one partial row per key per
    * mapper, never the log (the Kafka log-compaction shape; a 100 TB/day
    * feed reduces to |keys| rows in flight). No window, no sort, no
    * self-join — the ROW_NUMBER formulation the oracle uses would sort
    * every key's history instead. Tombstones filter AFTER the aggregate:
    * a key deleted then re-inserted keeps the re-insert (last op wins),
    * matching MERGE semantics exactly. The oracle ranks at `epoch_us`
    * precision (the events-table convention, Tables.events — exact
    * under both the ns and µs file encodings) — so both engines break
    * any sub-µs tie the same way: by event_id. */
  val cdcApply: Op = Op(
    "q_cdc_apply",
    """WITH last AS (
      |  SELECT user_id, event_type, value,
      |    CAST(epoch_us(ts) AS BIGINT) AS last_us,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_ops
      |  FROM events
      |)
      |SELECT user_id, value AS last_value, last_us, n_ops
      |FROM last WHERE rn = 1 AND event_type <> 'error'""".stripMargin) {
    (spark, dir) =>
    cdcState(Tables.events(spark, dir)
      .select(col("user_id").as("key"), col("event_type").as("op"),
        col("value"), unix_micros(col("ts")).as("us"), col("event_id")),
      tombstone = "error")
      .select(col("key").as("user_id"), col("last_value"),
        col("last_us"), col("n_ops"))
  }

  /** [[cdcApply]] kernel over (key, op, value, us, event_id) rows:
    * latest state per key, tombstoned keys dropped.
    *
    * PRECONDITION: `event_id` is unique per key (the events-table
    * contract; Scd2Spec pins it on the fixture). The max-struct orders
    * by (us, event_id) first and only then by (op, value), so when
    * (us, event_id) truly identifies one row the payload columns never
    * decide a winner — they ride along. If a caller ever feeds
    * duplicate (us, event_id) pairs, the struct ordering stays
    * DETERMINISTIC (falls through to op, then value) where the
    * equivalent ROW_NUMBER oracle would be free to pick either row;
    * parity therefore rests on this uniqueness, which is asserted,
    * not assumed. */
  def cdcState(log: DataFrame, tombstone: String): DataFrame =
    log.groupBy(col("key"))
      .agg(
        // bounded-heap argmax (BestAgg r15) — same struct ordering,
        // ObjectHashAggregate plan instead of the SortAggregate the
        // declarative max(struct) forced
        BestAgg.largest1(
          struct(col("us"), col("event_id"), col("op"), col("value")))
          .as("last"),
        count(lit(1)).as("n_ops"))
      .filter(col("last.op") =!= tombstone)
      .select(col("key"), col("last.value").as("last_value"),
        col("last.us").as("last_us"), col("n_ops"))
}
