package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** k-NN graph + SemDeDup invariants on real testdata (sf0.001), plus
  * plan-shape gates: both ops are WINDOW-FREE by construction (their
  * DuckDB oracles use ROW_NUMBER; the Spark side must not).
  */
class KnnSemdedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val knn = Similarity.knnGraph.build(spark, sf001).cache()
  private lazy val sem = Similarity.semdedup.build(spark, sf001).cache()
  private lazy val asg = Similarity.semdedupAssign(spark, sf001).cache()

  test("session-cached graph canopy equals fresh construction") {
    val cached = Similarity.graphCanopy(spark, sf001)
    val fresh = Similarity.canopyCells(
      Similarity.quantizedLabeled(spark, sf001), nprobe = 8,
      carryVec = true, stride = 10)
    assert(cached.exceptAll(fresh).isEmpty && fresh.exceptAll(cached).isEmpty,
      "cached graph canopy drifted from deterministic reconstruction")
  }

  test("knn graph: ranks are contiguous from 1, capped at k, no self edges") {
    val byVec = knn.groupBy($"vec_id")
      .agg(count(lit(1)).as("n"), min($"rank").as("mn"), max($"rank").as("mx"),
        count_distinct($"rank").as("dr"))
      .filter($"mn" =!= 1 || $"mx" =!= $"n" || $"dr" =!= $"n" || $"n" > 5)
    assert(byVec.count() === 0)
    assert(knn.filter($"vec_id" === $"nn_id").count() === 0)
    assert(knn.filter($"cos" < -1.0001 || $"cos" > 1.0001).count() === 0)
  }

  test("knn graph: rank order agrees with cosine order per vector") {
    // rank r has cos >= rank r+1's cos (ties broken by nn_id asc)
    val a = knn.select($"vec_id", $"rank", $"cos".as("ca"), $"nn_id".as("ia"))
    val b = knn.select($"vec_id", ($"rank" - 1).as("rank"),
      $"cos".as("cb"), $"nn_id".as("ib"))
    val bad = a.join(b, Seq("vec_id", "rank"))
      .filter($"cb" > $"ca" || ($"cb" === $"ca" && $"ib" < $"ia"))
    assert(bad.count() === 0)
  }

  test("knn graph rank-1 recall vs exact nearest neighbor") {
    // Exact top-1 neighbor per vector from the full cross join, same
    // quantized-integer cosine; the canopy-bounded graph should find
    // the true nearest neighbor for most vectors.
    val e = Similarity.quantized(spark, sf001)
    val x = e.select($"vec_id".as("src"), $"v".as("vs"), $"n2".as("ns"))
    val y = e.select($"vec_id".as("dst"), $"v".as("vd"), $"n2".as("nd"))
    val truth = x.join(y, $"src" =!= $"dst")
      .select($"src", $"dst",
        Similarity.cosine(Similarity.idot($"vs", $"vd"),
          $"ns", $"nd").as("cos"))
      .groupBy($"src")
      .agg(max(struct($"cos", negate($"dst").as("nd"))).as("best"))
      .select($"src".as("vec_id"), negate($"best.nd").as("true_nn"))
    val got = knn.filter($"rank" === 1)
      .select($"vec_id", $"nn_id".as("got_nn"))
    val joined = truth.join(got, Seq("vec_id"), "left").cache()
    val n = joined.count()
    val hit = joined.filter($"got_nn" === $"true_nn").count()
    assert(n > 0)
    assert(hit.toDouble / n >= 0.8,
      s"rank-1 recall ${hit.toDouble / n} below floor (hit=$hit n=$n)")
  }

  test("semdedup: survivors + dropped partition the assignment") {
    val members = asg.select($"vec_id")
    val survivors = sem.select($"vec_id")
    assert(survivors.count() === survivors.distinct().count())
    assert(survivors.join(members, Seq("vec_id"), "left_anti").count() === 0)
    assert(sem.count() <= asg.count())
    assert(sem.count() > 0)
  }

  test("semdedup: the keep-order head of every cell survives") {
    val heads = asg.groupBy($"cell")
      .agg(min(struct($"cos_cent", $"vec_id")).as("h"))
      .select($"h.vec_id".as("vec_id"))
    assert(heads.join(sem, Seq("vec_id"), "left_anti").count() === 0)
  }

  test("semdedup: every dropped member has an earlier near-neighbor >= tau") {
    val dropped = asg.join(sem.select($"vec_id"), Seq("vec_id"), "left_anti")
    val a = asg.select($"vec_id".as("a_id"), $"cell".as("a_cell"),
      $"cos_cent".as("a_cc"), $"v".as("va"), $"n2".as("na"))
    val d = dropped.select($"vec_id".as("b_id"), $"cell".as("b_cell"),
      $"cos_cent".as("b_cc"), $"v".as("vb"), $"n2".as("nb"))
    val witnessed = a.join(d,
        $"a_cell" === $"b_cell" &&
          ($"a_cc" < $"b_cc" || ($"a_cc" === $"b_cc" && $"a_id" < $"b_id")))
      .filter(Similarity.cosine(Similarity.idot($"va", $"vb"),
        $"na", $"nb") >= 0.35)
      .select($"b_id").distinct()
    assert(witnessed.count() === dropped.count())
  }

  test("hard negatives: cross-label only, contiguous ranks, hardness recall") {
    val hn = Similarity.hardNegatives.build(spark, sf001).cache()
    assert(hn.filter($"label" === $"neg_label").count() === 0)
    val byVec = hn.groupBy($"vec_id")
      .agg(count(lit(1)).as("n"), min($"rank").as("mn"), max($"rank").as("mx"))
      .filter($"mn" =!= 1 || $"mx" =!= $"n" || $"n" > 3)
    assert(byVec.count() === 0)
    // recall vs the exact hardest cross-label negative (full cross join)
    val e = Similarity.quantizedLabeled(spark, sf001)
    val x = e.select($"vec_id".as("src"), $"label".as("la"),
      $"v".as("vs"), $"n2".as("ns"))
    val y = e.select($"vec_id".as("dst"), $"label".as("lb"),
      $"v".as("vd"), $"n2".as("nd"))
    val truth = x.join(y, $"la" =!= $"lb")
      .select($"src",
        Similarity.cosine(Similarity.idot($"vs", $"vd"),
          $"ns", $"nd").as("cos"), $"dst")
      .groupBy($"src")
      .agg(max(struct($"cos", negate($"dst").as("nd"))).as("b"))
      .select($"src".as("vec_id"), negate($"b.nd").as("true_neg"))
    val got = hn.filter($"rank" === 1).select($"vec_id", $"neg_id")
    val joined = truth.join(got, Seq("vec_id"), "left").cache()
    val n = joined.count()
    val hit = joined.filter($"neg_id" === $"true_neg").count()
    assert(hit.toDouble / n >= 0.7,
      s"hardest-negative recall ${hit.toDouble / n} below floor")
  }

  test("clean embeddings: verdicts reconcile with the component gates") {
    val clean = Similarity.cleanEmbeddings.build(spark, sf001).cache()
    val kept = clean.filter($"kept").select($"vec_id")
    val survivors = sem.select($"vec_id")
    val nonOutliers = Similarity.embedOutlier.build(spark, sf001)
      .filter(!$"is_outlier").select($"vec_id")
    val expected = survivors.join(nonOutliers, Seq("vec_id")).select($"vec_id")
    assert(kept.except(expected).count() === 0)
    assert(expected.except(kept).count() === 0)
    // one verdict row per assigned vector, kept strictly between 0 and all
    assert(clean.count() === asg.count())
    val k = kept.count()
    assert(k > 0 && k < clean.count())
  }

  test("knn plan gate: the tail stays within the shuffle budget") {
    // shuffle budget: canopy assignment aggregate + ONE member-grouping
    // exchange (the row-local per-cell scoring — vectors cross the wire
    // once per probed cell) + ONE final per-src merge of skinny structs,
    // ≤ 5 with AQE partials. A 6th shuffle means the tail regressed to
    // a pair join that copies both vectors per co-cell candidate.
    // after execution AQE's toString prints the final plan AND repeats
    // the initial plan — count only the first (current) section
    val plan = knn.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 5, s"expected <= 5 shuffle exchanges, got $shuffles")
  }

  test("plan gates: both ops are window-free; codebook joins broadcast") {
    for (df <- Seq(knn, sem)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), "expected no Window operator")
    }
    // r15: the registered assignment is session-cached, so its plan is
    // an InMemoryTableScan — gate the FRESH construction (the parity
    // reference the cache must equal) for the broadcast witness
    val asgPlan = Similarity.semdedupAssignFresh(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(asgPlan.contains("BroadcastHashJoin") ||
      asgPlan.contains("BroadcastNestedLoopJoin"),
      "centroid codebook should broadcast")
    assert(!asgPlan.contains("Window"))
  }
}
