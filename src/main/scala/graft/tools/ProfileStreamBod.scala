package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev profiler (not part of the library surface): break
  * q_stream_best_of_day's wall time into stream machinery, the
  * day-partitioned write, and the partitioned re-read, so the bench
  * lever is measured instead of guessed.
  */
object ProfileStreamBod {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.GraftExtensions.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    def timed[T](tag: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[profile] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // piece 1: batch kernel alone (no streaming, no partitioned sink)
    val merged = timed("bestReduce (batch kernel)") {
      val m = graft.operators.Pricing.bestReduce(
        graft.operators.Pricing.snapsOf(graft.Tables.lineitem(spark, dir)))
      m.write.mode("overwrite").format("noop").save()
      m
    }
    // piece 2+3 variants, run twice each (cold then warm)
    val out = "/tmp/profile_bod_out"
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (round <- 1 to 2) {
      if (fs.exists(p)) fs.delete(p, true)
      timed(s"upsertByDay sp=8 r$round") {
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try graft.sources.Sinks.upsertByDay(merged, out, "as_of_date")
        finally spark.conf.set("spark.sql.shuffle.partitions", "32")
      }
      timed(s"re-read partitioned r$round") { spark.read.parquet(out).count() }
    }
    for (round <- 1 to 2) {
      if (fs.exists(p)) fs.delete(p, true)
      timed(s"upsertByDay sp=32 v2 r$round") {
        spark.sparkContext.hadoopConfiguration
          .set("mapreduce.fileoutputcommitter.algorithm.version", "2")
        graft.sources.Sinks.upsertByDay(merged, out, "as_of_date")
      }
      timed(s"re-read partitioned r$round") { spark.read.parquet(out).count() }
    }
    // piece 4: the whole streaming op as registered — run 1 pays the
    // bootstrap, run 2 is the amortized steady state the bench sees
    for (round <- 1 to 2)
      timed(s"full q_stream_best_of_day r$round") {
        graft.operators.StreamingOps.streamBestOfDay.build(spark, dir).count()
      }
    spark.stop()
  }
}
