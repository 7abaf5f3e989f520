package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** CI pin of the watermark-eviction law the at-scale 5M-event soak
  * measured (PERF.md; r13 verdict #6 follow-through): the soak proved
  * state plateaus at the horizon population, but its assertions lived
  * only in a hand-run tool — a regression
  * in watermark wiring (a dropped `withWatermark`, a delay computed
  * from the wrong column, an eviction-less dedup swap) would stay
  * invisible until someone re-ran it. This is the same corpus shape
  * and the same two laws at ~40k events so `sbt test` fails instead:
  *
  *  - horizon plateau: for every watermark-evicting shape
  *    (dropDuplicatesWithinWatermark, the stream-stream attribution
  *    join, Append session windows), state rows at the last batch ≤
  *    PlateauFactor × state rows at the half-way batch. Un-evicted
  *    state grows ~linearly in events (last ≈ 2× mid).
  *  - key-cardinality bound: the mapGroupsWithState sessionizer holds
  *    EXACTLY one state entry per distinct key ever seen.
  *
  * The tool remains the at-scale probe (5M events, memory-pressure
  * numbers for PERF.md); this spec is its always-on downscale.
  */
class StateStorePlateauSpec extends SparkSpec {

  private val PlateauFactor = 1.3
  private val NEvents = 40000L
  private val NFiles = 8
  private val Keys = 1500L

  private val root = "/tmp/graft_state_plateau_spec"
  private val inDir = s"$root/in"

  private def rmTree(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(rmTree)
    f.delete(): Unit
  }

  /** Same corpus law as the PERF.md state soak, downscaled: Zipf keys,
    * event time advancing file-by-file over a 30-day span, ~3% late
    * arrivals 1–4 days back (some inside the 2-day horizon, some
    * beyond). */
  private lazy val corpus: Long = {
    rmTree(new java.io.File(root))
    val epochUs = java.time.Instant.parse("2025-01-01T00:00:00Z")
      .toEpochMilli * 1000L
    val perFile = NEvents / NFiles
    val fileSpanUs = (30.0 * 86400e6 / NFiles).toLong
    (0 until NFiles).foreach { k =>
      spark.range(k * perFile, (k + 1) * perFile)
        .select(
          col("id").as("event_id"),
          exp(rand(k + 1) * math.log(Keys.toDouble))
            .cast("long").as("user_id"),
          element_at(array(lit("click"), lit("purchase"), lit("view")),
            (pmod(col("id"), lit(3)) + 1).cast("int")).as("event_type"),
          timestamp_micros(
            lit(epochUs + k * fileSpanUs) +
              (rand(k + 101) * fileSpanUs).cast("long") -
              when(rand(k + 202) < 0.03,
                ((lit(1.0) + rand(k + 303) * 3.0) * 86400e6).cast("long"))
                .otherwise(lit(0L))).as("ts"),
          round(rand(k + 404) * 20, 2).as("value"))
        .coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    spark.read.parquet(inDir).select("user_id").distinct().count()
  }

  private def stream(): DataFrame = {
    val schema = spark.read.parquet(inDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
  }

  private case class BatchState(stateRows: Long, removed: Long)

  /** Drive one shape to a noop sink, return per-batch state metrics
    * (no-data micro-batches off, as in the tool, so the final batch's
    * state reflects the data watermark, not a trailing flush). */
  private def runCase(name: String, mode: String = "append")(
      build: DataFrame => DataFrame): Seq[BatchState] = {
    val n = corpus // force corpus before any stream starts
    assert(n > 0)
    val before =
      spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val q = build(stream())
        .writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", s"$root/ckpt-$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val states = q.recentProgress.toSeq
        .filter(_.stateOperators.nonEmpty)
        .map(p => BatchState(p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.numRowsRemoved).sum))
      q.stop()
      states
    } finally spark.conf.set(
      "spark.sql.streaming.noDataMicroBatches.enabled", before)
  }

  private def assertPlateau(name: String, states: Seq[BatchState]): Unit = {
    assert(states.size >= NFiles,
      s"$name: expected ≥$NFiles stateful batches, got ${states.size}")
    val mid = states(states.size / 2).stateRows.toDouble
    val last = states.last.stateRows.toDouble
    assert(states.map(_.removed).sum > 0,
      s"$name: watermark never evicted a state row — eviction is dead")
    assert(last <= PlateauFactor * mid,
      s"$name: state NOT horizon-bounded — last=$last > " +
        s"$PlateauFactor × mid=$mid (linear growth shape)")
  }

  test("dropDuplicatesWithinWatermark state plateaus at the 2-day " +
    "horizon population") {
    assertPlateau("dedup_wm", runCase("dedup_wm") { s =>
      s.select(col("ts"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(
          "user_id", "event_type", "value_cents")
    })
  }

  test("stream-stream attribution join state plateaus at the horizon " +
    "population on both sides") {
    assertPlateau("ss_join", runCase("ss_join") { s =>
      val clicks = s.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("click_user"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "2 days")
      val purchases = s.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"),
          round(col("value") * 100).cast("long").as("purchase_cents"))
        .withWatermark("purchase_ts", "2 days")
      EventStream.attributionJoin(clicks, purchases)
    })
  }

  test("Append session windows + watermark evict closed sessions " +
    "(state plateaus)") {
    assertPlateau("session_wm", runCase("session_wm") { s =>
      s.withWatermark("ts", "2 days")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .select(col("user_id"), col("session_window.start").as("start"),
          col("n_events"), col("value_cents"))
    })
  }

  test("mapGroupsWithState sessionizer state is EXACTLY one entry per " +
    "distinct key — bounded by key cardinality, not event volume") {
    val states = runCase("mgws", mode = "update") { s =>
      EventStream.sessionize(
        s.select(col("user_id"), col("ts"), col("value"))
          .as[EventStream.Event](
            org.apache.spark.sql.Encoders.product[EventStream.Event]),
        withTimeout = false).toDF()
    }
    assert(states.last.stateRows === corpus,
      s"mgws state rows ${states.last.stateRows} != distinct keys $corpus")
  }
}
