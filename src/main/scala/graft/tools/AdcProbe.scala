package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Dev measurement: top-5 recall of the ADC search vs the exact
  * quantized-L2 brute force, by codebook size (nc centroids per
  * subspace), Lloyd steps, and shortlist — picks the trained-ADC
  * registration's config and pins the spec floor.
  *
  * `runMain graft.tools.AdcProbe [<sfDir>]`
  */
object AdcProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val q = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
      .localCheckpoint()
    val queries = q.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exactTop = queries
      .withColumn("qn", Similarity.inorm2(col("qv")))
      .crossJoin(q.withColumn("cn", Similarity.inorm2(col("v"))))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (col("qn") + col("cn") - Similarity.idot(col("qv"), col("v")) * 2)
          .as("l2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("l2"), col("vec_id"))))
      .filter(col("rk") <= 5).select(col("q_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    def recall(top: Map[Long, Set[Long]]): Double = {
      val rs = exactTop.map { case (qid, want) =>
        top.getOrElse(qid, Set.empty).intersect(want).size / 5.0 }
      rs.sum / rs.size
    }
    def topOf(df: org.apache.spark.sql.DataFrame, idCol: String) =
      df.select(col("q_id"), col(idCol)).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    for (nc <- Seq(16, 64); steps <- 0 to 3) {
      val cb = Similarity.pqTrainedCodebook(q, steps, nc).localCheckpoint()
      val scores =
        Similarity.adcScoresSub(q, cb, queries, nc).localCheckpoint()
      for (shortlist <- Seq(25, 50, 100)) {
        val refined = topOf(Similarity.refineShortlist(q, queries, scores, shortlist = shortlist, k = 5), "c_id")
        println(f"[adc] $dir nc=$nc%3d steps=$steps short=$shortlist%3d " +
          f"refinedRecall=${recall(refined)}%.2f")
      }
    }
    spark.stop()
  }
}
