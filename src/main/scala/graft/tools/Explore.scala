package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextAnalysis.wordShingles
import graft.operators.{Dedup, Similarity}

/** Dev measurement harness (not part of the library): empirically pins
  * the recall structure of the LSH/banded dedup paths and the IVF cell
  * coverage of embedding near-dup pairs, so the round-2 oracle contracts
  * (exact thresholds where recall is provably/measurably 1 on the
  * deterministic testdata) are grounded in measurement, not hope.
  */
object Explore {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- exact all-pairs jaccard via inverted index (ground truth) ----
    val rows = Tables.documents(spark, dir).select(
      col("doc_id"), explode(wordShingles(col("text"), 3)).as("s"))
    val sizes = rows.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = rows.select(col("doc_id").as("doc_id_a"), col("s"))
      .join(rows.select(col("doc_id").as("doc_id_b"), col("s")), Seq("s"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b").agg(count(lit(1)).as("inter"))
    val exact = inter
      .join(sizes.select(col("doc_id").as("doc_id_a"), col("n_sh").as("n_a")), Seq("doc_id_a"))
      .join(sizes.select(col("doc_id").as("doc_id_b"), col("n_sh").as("n_b")), Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double")).as("j"))
      .filter(col("j") >= 0.2)
      .cache()
    println(s"== exact all-pairs J>=0.2: ${exact.count()} pairs")
    exact.groupBy(floor(col("j") * 10).as("jbucket")).count()
      .orderBy("jbucket").show(20, false)

    // ---- minhash LSH found pairs (current op: verified J >= 0.5) ----
    val lsh = Dedup.minhashLsh.build(spark, dir)
      .select(col("doc_id_a"), col("doc_id_b")).cache()
    println(s"== lsh verified pairs: ${lsh.count()}")
    val missed = exact.filter(col("j") >= 0.5)
      .join(lsh, Seq("doc_id_a", "doc_id_b"), "left_anti").cache()
    println(s"== exact J>=0.5 pairs MISSED by lsh: ${missed.count()}")
    missed.orderBy(col("j").desc).show(30, false)

    // ---- simhash: FULL hamming distribution of exact pairs ----
    val sigs = Dedup.simhashSignatures(spark, dir).cache()
    val exFull = exact.filter(col("j") >= 0.5)
      .join(sigs.select(col("doc_id").as("doc_id_a"), col("simhash").as("sa")), Seq("doc_id_a"))
      .join(sigs.select(col("doc_id").as("doc_id_b"), col("simhash").as("sb")), Seq("doc_id_b"))
      .join(sizes.select(col("doc_id").as("doc_id_a"), col("n_sh").as("n_a")), Seq("doc_id_a"))
      .join(sizes.select(col("doc_id").as("doc_id_b"), col("n_sh").as("n_b")), Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"), col("j"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"),
        least(col("n_a"), col("n_b")).as("min_sh"))
    println("== exact J>=0.5 pairs: hamming vs min shingle count")
    exFull.orderBy(col("min_sh")).show(100, false)
    println("== max hamming among exact pairs (all / min_sh>=32):")
    exFull.agg(max("hamming")).show()
    exFull.filter(col("min_sh") >= 32).agg(max("hamming"), count(lit(1))).show()
    // extras: candidate pairs within hamming <= R that are NOT exact dups
    val allSig = sigs.select(col("doc_id").as("doc_id_a"), col("simhash").as("sa"))
      .join(sigs.select(col("doc_id").as("doc_id_b"), col("simhash").as("sb")))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .filter(col("hamming") <= 12).cache()
    println("== all-pairs hamming<=12 distribution (candidate cost by radius)")
    allSig.groupBy("hamming").count().orderBy("hamming").show(30, false)

    // ---- embed near-dup: IVF cell coverage ----
    val n = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), Similarity.quantize(col("embedding")).as("v"))
      .withColumn("n2", Similarity.idot(col("v"), col("v")))
      .filter(col("n2") > 0)
    val cents = n.filter(col("vec_id") % 50 === 0).select(
      col("vec_id").as("cent_id"), col("v").as("cv"), col("n2").as("cn"))
    val scored = n.join(broadcast(cents))
      .select(col("vec_id"), col("label"), col("cent_id"),
        Similarity.cosine(Similarity.idot(col("v"), col("cv")),
          col("n2"), col("cn")).as("cos"))
    val ranked = scored.withColumn("rn", row_number().over(
      Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cent_id"))))
      .filter(col("rn") <= 16)
      .select(col("vec_id"), col("cent_id"), col("rn")).cache()
    val truePairs = Similarity.embedNearDupVia(spark, dir, allPairs = true)
      .select(col("id_a"), col("id_b"), col("cos")).cache()
    println(s"== embed neardup true pairs: ${truePairs.count()}")
    println("== true-pair cos distribution:")
    truePairs.groupBy(floor(col("cos") * 10).as("cbucket")).count()
      .orderBy("cbucket").show(10, false)
    for (m <- Seq(2, 4, 6, 8, 10, 12, 16)) {
      val cells = ranked.filter(col("rn") <= m)
      val co = cells.select(col("vec_id").as("id_a"), col("cent_id"))
        .join(cells.select(col("vec_id").as("id_b"), col("cent_id")), Seq("cent_id"))
        .select("id_a", "id_b").distinct()
      val notCovered = truePairs.join(co, Seq("id_a", "id_b"), "left_anti")
      println(s"== nprobe=$m: true pairs NOT sharing a top-$m cell: ${notCovered.count()}"
        + s" (candidates: ${co.count()})")
    }
    // ---- IVF: does the Lloyd iteration improve the codebook? ----
    locally {
      val bf = Similarity.annBruteForce.build(spark, dir)
        .select(col("q_id"), col("c_id"))
      val ivf = Similarity.annIvf.build(spark, dir)
        .select(col("q_id"), col("c_id"))
      val nBf = bf.count()
      val hit = bf.join(ivf, Seq("q_id", "c_id")).count()
      println(s"== IVF(Lloyd) probe recall vs brute force: $hit/$nBf")
      val n = Similarity.quantized(spark, dir)
      def meanBestCos(cents: DataFrame): Double =
        n.join(broadcast(cents))
          .select(col("vec_id"),
            Similarity.cosine(Similarity.idot(col("v"), col("cv")),
              col("n2"), col("cn")).as("cos"))
          .groupBy("vec_id").agg(max("cos").as("c"))
          .agg(avg("c")).head().getDouble(0)
      println(f"== mean best-cos SEED codebook:  ${meanBestCos(Similarity.ivfSeedCodebook(n))}%.4f")
      println(f"== mean best-cos LLOYD codebook: ${meanBestCos(Similarity.ivfLloydCodebook(n))}%.4f")
    }
    spark.stop()
  }
}
