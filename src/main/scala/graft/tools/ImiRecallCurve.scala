package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Imi, Similarity}

/** Dev measurement (PERF round-11): the frozen-codebook recall curve —
  * recall@k of the MERGE compaction branch (codebook trained on the
  * standing slice only, union assigned against it) vs the RETRAIN
  * branch (codebook trained on the union), as a function of the delta
  * fraction. This is the standing-pipeline version of the 1M soak's
  * spot measurement, run on the testdata corpus with the registered
  * geometry; `q_imi_recall` is the oracled per-query form of the same
  * statistic. Usage:
  *
  *   sbt "runMain graft.tools.ImiRecallCurve /root/testdata/sf0.1"
  */
object ImiRecallCurve {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val e = Similarity.quantizedLabeled(spark, dir).localCheckpoint()
    val mod = Imi.RecallQueryMod
    val k = Imi.RecallK

    // ground truth once: exact top-k for the sampled queries
    val q = e.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)
    val brute = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        Similarity.cosine(Similarity.idot(col("qv"), col("v")),
          col("qn"), col("n2")).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id").as("vec_id"), col("c_id").as("nn_id"))
      .localCheckpoint()
    val nQ = q.count()

    def recallOf(cells: org.apache.spark.sql.DataFrame): Double = {
      val trained = Similarity.knnTopKFromCells(cells, k,
          srcPred = v => v % mod === 0)
        .select(col("vec_id"), col("nn_id"))
      val hits = trained.join(brute, Seq("vec_id", "nn_id")).count()
      hits.toDouble / (nQ * k)
    }

    println(f"corpus $dir: ${e.count()} vectors, $nQ queries, k=$k")
    println("deltaMod deltaFrac recall_merge recall_retrain")
    for (dm <- Seq(10, 4, 3, 2)) {
      val standing = e.filter(col("vec_id") % dm =!= 0)
      val cbS = Imi.codebook(Imi.halves(standing),
        Imi.lawK1Of(standing), Imi.LloydSteps)
      val merged = Imi.cellsWithCodebook(e, cbS, Imi.NProbeHalf)
        .localCheckpoint()
      val retrained = Imi.cellsOf(e, Imi.lawK1Of(e), Imi.LloydSteps,
        Imi.NProbeHalf).localCheckpoint()
      val frac = 1.0 / dm
      println(f"$dm%8d $frac%9.3f ${recallOf(merged)}%12.3f " +
        f"${recallOf(retrained)}%14.3f")
    }
    spark.stop()
  }
}
