package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Materialized-aggregate refresh: algebraic merge must equal the full
  * recompute, the standing store must be reused across invocations,
  * and overlap days must really combine both sides (otherwise the
  * merge degenerates to a disjoint union and proves nothing).
  */
class IncrementalAggSpec extends SparkSpec {

  private def keyed(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      r.getDate(r.fieldIndex("day")).toString ->
        ((r.getLong(r.fieldIndex("n_orders")),
          r.getLong(r.fieldIndex("sum_cents"))))
    }.toMap

  test("sketch MV: union-of-sketches estimate EQUALS the whole-corpus " +
    "sketch estimate per day (merge is exact on register state)") {
    val events = graft.Tables.events(spark, sf001)
    val merged = IncrementalAgg.sketchRefresh(
        IncrementalAgg.daySketch(
          events.filter(col("event_id") % IncrementalAgg.DeltaMod =!= 0)),
        events.filter(col("event_id") % IncrementalAgg.DeltaMod === 0))
      .select(col("day"), hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val direct = IncrementalAgg.daySketch(events)
      .select(col("day"), hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(merged.nonEmpty && merged === direct,
      "merged sketch registers diverged from the single-shot sketch")
  }

  test("sketch MV: estimates within 5% of exact; store holds BINARY " +
    "sketches and is reused on a second refresh") {
    val out = IncrementalAgg.sketchMv.build(spark, sf001).collect()
    assert(out.length > 5)
    assert(out.forall(_.getBoolean(2)), "an estimate left the 5% band")
    val store = IncrementalAgg.sketchStore(spark, sf001)
    assert(store.schema("sk").dataType ===
      org.apache.spark.sql.types.BinaryType,
      "the at-rest sketch column must be the raw HLL bytes")
    val sig = new org.apache.hadoop.fs.Path(
      s"${SinkOps.stagingDir(sf001, "mv_sketch")}/_SRC_SIG")
    val fs = sig.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = fs.getFileStatus(sig).getModificationTime
    IncrementalAgg.sketchMv.build(spark, sf001).count()
    assert(fs.getFileStatus(sig).getModificationTime === before,
      "second refresh rebuilt the standing sketch store")
  }

  test("refresh == full recompute; avg derived at read") {
    val got = IncrementalAgg.mvRefresh.build(spark, sf001)
    val full = graft.Tables.orders(spark, sf001)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    assert(keyed(got) === keyed(full), "merged view drifted from recompute")
    got.collect().foreach { r =>
      assert(r.getLong(r.fieldIndex("avg_cents")) ===
        r.getLong(r.fieldIndex("sum_cents")) / r.getLong(r.fieldIndex("n_orders")))
    }
  }

  test("standing store is reused, not rebuilt, on a second refresh") {
    IncrementalAgg.mvRefresh.build(spark, sf001).count()
    val store = SinkOps.stagingDir(sf001, "mv_agg")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(s => s.getPath.getName -> s.getModificationTime).sortBy(_._1).toSeq
    val before = listing
    IncrementalAgg.mvRefresh.build(spark, sf001).count()
    assert(listing === before, "second refresh must not rewrite the base store")
  }

  test("overlap days merge contributions from base and delta") {
    val base = IncrementalAgg.baseStore(spark, sf001)
    val deltaRows = graft.Tables.orders(spark, sf001)
      .filter(col("o_orderkey") % IncrementalAgg.DeltaMod === 0)
    val delta = deltaRows
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    val overlap = base.select("day").intersect(delta.select("day"))
    assert(overlap.count() > 0, "fixture must have days present in both sides")
    val merged = keyed(IncrementalAgg.refresh(base, deltaRows)
      .select("day", "n_orders", "sum_cents"))
    val b = keyed(base)
    val d = keyed(delta)
    overlap.collect().map(_.getDate(0).toString).foreach { day =>
      assert(merged(day)._1 === b(day)._1 + d(day)._1, s"count merge broke $day")
      assert(merged(day)._2 === b(day)._2 + d(day)._2, s"sum merge broke $day")
    }
  }

  /** `body` over a fresh temp copy of sf0.001's `orders` (the only
    * table [[IncrementalAgg.baseStore]] reads), so the shared staging
    * stores of sf0.001 stay untouched; the copy's `mv_agg` store is
    * dropped afterwards. */
  private def withOrdersCopy(body: Path => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft-mv-agg")
    try {
      Files.copy(Paths.get(sf001, "orders.parquet"),
        tmp.resolve("orders.parquet"))
      body(tmp)
    } finally {
      PersistedStore.drop(spark, tmp.toString, "mv_agg")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  private def versions(dir: Path): Seq[String] = {
    val store = Paths.get(SinkOps.stagingDir(dir.toString, "mv_agg"))
    if (!Files.isDirectory(store)) Nil
    else {
      val s = Files.list(store)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("ver-")).toList
      finally s.close()
    }
  }

  test("a rebuilt base store leaves a held frame of the old version " +
    "readable") {
    withOrdersCopy { tmp =>
      val held = IncrementalAgg.baseStore(spark, tmp.toString)
      val n = held.count()
      assert(n > 0)
      // change orders' listing: same bytes, later mtime
      val orders = tmp.resolve("orders.parquet")
      val t = Files.getLastModifiedTime(orders).toMillis
      Files.write(orders, Files.readAllBytes(orders))
      Files.setLastModifiedTime(orders, FileTime.fromMillis(t + 10000))
      val rebuilt = IncrementalAgg.baseStore(spark, tmp.toString)
      assert(held.count() === n,
        "the rebuild deleted files under a reader of the old version")
      assert(versions(tmp).size === 2, "the listing change did not rebuild")
      assert(rebuilt.count() === n)
    }
  }

  test("two threads building one base store commit exactly one version") {
    withOrdersCopy { tmp =>
      val latch = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futures = (1 to 2).map(_ => pool.submit(
          new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              latch.await()
              IncrementalAgg.baseStore(spark, tmp.toString).count()
            }
          }))
        latch.countDown()
        assert(futures.map(_.get()).toSet.size === 1)
        assert(versions(tmp).size === 1,
          s"racing builders committed ${versions(tmp)}")
      } finally pool.shutdown()
    }
  }
}
