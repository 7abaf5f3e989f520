package graft.operators

import graft.SparkSpec
import graft.functions.Ladders
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-shaped fixture for the best-of-day kernel
  * (fx_market_price_snapshots, FIXTURES.md §B): the REAL vendor/price-type
  * ladders (03_build_market_price_daily.js:120-146), tie-break semantics,
  * and unknown-value defaults.
  */
class BestOfDaySpec extends SparkSpec {
  import spark.implicits._

  private val snaps = Seq(
    // item 1: tcgplayer(10) beats scryfall(20) regardless of value
    (1L, "scryfall", "market", "2026-01-01", 9999L),
    (1L, "tcgplayer", "market", "2026-01-01", 100L),
    // item 2: same source — market(10) beats mid(14)
    (2L, "ebay", "mid", "2026-01-01", 500L),
    (2L, "ebay", "market", "2026-01-01", 400L),
    // item 3: full tie on priorities — higher value wins (03:146)
    (3L, "amazon", "low", "2026-01-01", 300L),
    (3L, "amazon", "low", "2026-01-01", 700L),
    // item 4: unknown source (99) loses to known worst (amazon=60)
    (4L, "mystery", "market", "2026-01-01", 1L),
    (4L, "amazon", "graded", "2026-01-01", 2L),
    // item 1 day 2: days rank independently
    (1L, "ebay", "loose", "2026-01-02", 55L)
  ).toDF("market_item_id", "source", "price_type", "day", "value_cents")
    .withColumn("as_of_date", to_date($"day")).drop("day")

  test("priority ladders + value tie-break pick the reference's row") {
    val w = Window.partitionBy($"market_item_id", $"as_of_date")
      .orderBy(Ladders.sourcePriority($"source").asc,
        Ladders.priceTypePriority($"price_type").asc,
        $"value_cents".desc)
    val best = snaps.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"market_item_id", $"source", $"price_type", $"value_cents")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(best.toSeq === Seq(
      (1L, "tcgplayer", "market", 100L),  // source priority dominates value
      (1L, "ebay", "loose", 55L),         // second day independent
      (2L, "ebay", "market", 400L),       // price-type priority dominates value
      (3L, "amazon", "low", 700L),        // tie → higher value
      (4L, "amazon", "graded", 2L)        // unknown source → default 99
    ).sortBy(_._1))
  }

  test("ladder values match the reference tables exactly") {
    val srcs = Seq("tcgplayer", "scryfall", "cardmarket", "pricecharting",
      "ebay", "amazon", "nope").toDF("s")
    assert(srcs.select(Ladders.sourcePriority($"s")).collect().map(_.getInt(0)).toSeq
      === Seq(10, 20, 30, 40, 50, 60, 99))
    val pts = Seq("market", "trend", "mid", "avg_7d", "avg_30d", "low", "high",
      "loose", "cib", "new", "graded", "foil", "etched", "tix", "nope").toDF("p")
    assert(pts.select(Ladders.priceTypePriority($"p")).collect().map(_.getInt(0)).toSeq
      === Seq(10, 12, 14, 16, 18, 22, 24, 30, 32, 34, 36, 60, 62, 80, 90))
  }

  test("confidence grades bucket at the reference edges (10:78-83)") {
    val got = Seq(10, 9, 5, 4, 2, 1).toDF("n")
      .select(Ladders.confidenceGrade($"n")).collect().map(_.getString(0))
    assert(got.toSeq === Seq("A", "B", "B", "C", "C", "D"))
  }

  test("largest1 on an all-null group is NULL under ANSI, as max is") {
    val before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val df = Seq((1L, None), (1L, None), (2L, Some(5L)), (2L, Some(7L)))
        .toDF("g", "v")
        .select(col("g"), when(col("v").isNotNull,
          struct(col("v").as("v"))).as("s"))
      val got = df.groupBy("g").agg(BestAgg.largest1(col("s")).as("b"))
      val want = df.groupBy("g").agg(max(col("s")).as("b"))
      val rows = got.orderBy("g").collect().toSeq
      assert(rows === want.orderBy("g").collect().toSeq)
      assert(rows.head.isNullAt(1) && rows(1).getStruct(1).getLong(0) === 7L)
    } finally spark.conf.set("spark.sql.ansi.enabled", before)
  }
}
