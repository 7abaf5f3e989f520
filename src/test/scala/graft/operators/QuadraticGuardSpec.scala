package graft.operators

import graft.{EngineConf, SparkSpec}
import org.apache.spark.sql.functions._

/** The quadratic-contract guard (r12 verdict #5): the three ops whose
  * OUTPUT contract is itself quadratic on adversarial data count their
  * candidate volume from the blocking histogram FIRST and abort with a
  * pointer to the scale-safe sibling when the estimate exceeds the
  * session budget — the "hot corpus" below is exactly the shape that
  * melted the contract: one brand, one name length, every pair a
  * candidate. */
class QuadraticGuardSpec extends SparkSpec {
  import spark.implicits._

  /** A crafted hot corpus: `n` same-brand, same-length part names and
    * `n` one-label embeddings under a scratch sf dir. */
  private def hotDir(n: Int): String = {
    val dir = s"/tmp/graft-quad-guard-$n"
    (0 until n).map(i => (i.toLong, f"name-$i%06d", "HOT", "T", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
    (0 until n).map(i => (i.toLong, Array(1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def withBudget[A](b: Long)(f: => A): A = {
    spark.conf.set(EngineConf.CandidateBudgetKey, b.toString)
    try f finally spark.conf.unset(EngineConf.CandidateBudgetKey)
  }

  test("hot corpus: all three contract ops abort BEFORE pair work, " +
    "each naming its scale-safe sibling") {
    val dir = hotDir(400) // C(400,2) = 79 800 candidates
    Dedup.fuzzyPairCache.clear()
    withBudget(1000L) {
      val e1 = intercept[IllegalStateException](
        Dedup.fuzzyMatch.build(spark, dir).count())
      assert(e1.getMessage.contains("q_fuzzy_best") &&
        e1.getMessage.contains(EngineConf.CandidateBudgetKey))
      val e2 = intercept[IllegalStateException](
        Dedup.entityCluster.build(spark, dir).count())
      assert(e2.getMessage.contains("q_entity_resolve"))
      val e3 = intercept[IllegalStateException](
        Similarity.embedNearDup.build(spark, dir).count())
      assert(e3.getMessage.contains("q_embed_neardup_ann"))
    }
  }

  test("estimates are exact-or-upper bounds of the real candidate " +
    "volume, and the gate corpus passes the DEFAULT budget") {
    // hot corpus: same length everywhere → the estimate is EXACTLY
    // C(n,2); embeddings: one label → exactly C(n,2)
    val dir = hotDir(400)
    assert(Dedup.fuzzyCandidateEstimate(spark, dir) === 79800L)
    assert(Similarity.embedPairEstimate(spark, dir) === 79800L)
    // gate corpus: the histogram bound dominates the post-band
    // candidate count, and sits far inside the default budget
    val est = Dedup.fuzzyCandidateEstimate(spark, sf001)
    val actual = Dedup.fuzzyCandidates(spark, sf001).count()
    assert(est >= actual,
      s"histogram bound $est must dominate the fused-cut candidates $actual")
    assert(est < EngineConf.CandidateBudgetDefault)
    assert(Similarity.embedPairEstimate(spark, sf001)
      < EngineConf.CandidateBudgetDefault)
    // and the guarded ops still run green under the default budget
    Dedup.fuzzyPairCache.clear()
    assert(Dedup.fuzzyMatch.build(spark, sf001).count() > 0)
  }

  test("an explicit budget raise is the documented escape hatch") {
    val dir = hotDir(400)
    Dedup.fuzzyPairCache.clear()
    withBudget(100000L) {
      // 79 800 candidates now inside the budget: the exhaustive
      // contract runs — every same-brand pair within distance 2
      assert(Dedup.fuzzyMatch.build(spark, dir).count() > 0)
    }
    Dedup.fuzzyPairCache.clear()
  }
}
