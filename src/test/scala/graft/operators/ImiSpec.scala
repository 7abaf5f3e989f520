package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Trained inverted-multi-index canopy (Imi) invariants on real
  * testdata (sf0.001): geometry bounds, persistence parity, the
  * fixed-cost assignment law, and the rank-1 recall floor of the
  * trained kNN sibling vs the exact nearest neighbor (the same
  * measurement the stride-canopy sibling pins in KnnSemdedupSpec).
  */
class ImiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val e = Similarity.quantizedLabeled(spark, sf001).cache()
  private lazy val canopy = Imi.trainedCanopy(spark, sf001).cache()
  // occupancy-law geometry of THIS corpus (== the historical 16 at
  // every gate SF; the law only grows k1 past ~2k qualifying vectors)
  private lazy val k1 = Imi.lawK1Of(e)

  test("canopy geometry: <= nprobe^2 cells per vector, ranks in range, " +
    "cells decompose into per-half centroid ids") {
    val byVec = canopy.groupBy($"vec_id").agg(count(lit(1)).as("n"))
    assert(byVec.filter($"n" > Imi.NProbeHalf * Imi.NProbeHalf).count() === 0)
    assert(canopy.filter($"r0" < 1 || $"r0" > Imi.NProbeHalf ||
      $"r1" < 1 || $"r1" > Imi.NProbeHalf).count() === 0)
    // distinct leaf cells bounded by k1^2; both packed halves nonneg
    assert(canopy.select($"cell").distinct().count() <= k1.toLong * k1)
    assert(canopy.filter($"cell" < 0).count() === 0)
  }

  test("assignment cost law: the scored frame is |halves| x (<= 2*k1) " +
    "rows — fixed per-vector work, independent of corpus size") {
    val h = Imi.halves(e)
    val cb = Imi.codebook(h, k1, Imi.LloydSteps).cache()
    // the trained codebook never exceeds 2*k1 centroids (k1 per half)
    val perHalf = cb.groupBy($"half").agg(count(lit(1)).as("n"))
    assert(perHalf.filter($"n" > k1).count() === 0)
    assert(cb.count() <= 2L * k1)
    cb.unpersist()
  }

  test("recall telemetry: hits bounded by k, every sampled query " +
    "present, and mean recall@5 of the trained probe >= 0.5 on " +
    "testdata (the number the compaction threshold is tuned against)") {
    val out = Imi.imiRecall.build(spark, sf001)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r._2 >= 0 && r._2 <= r._3))
    assert(out.forall(_._3 == Imi.RecallK.toLong))
    // every nonzero sampled vector is a query row exactly once
    val expected = e.filter($"vec_id" % Imi.RecallQueryMod === 0)
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(out.map(_._1).sorted.toSeq === expected)
    val recall = out.map(_._2).sum.toDouble / (out.length * Imi.RecallK)
    assert(recall >= 0.5, s"trained-probe recall@5 $recall < 0.5")
    // the src-filtered tail equals filtering the full kNN output — the
    // in-row filter must not change which neighbors a query sees
    val full = Imi.knnGraphTrained.build(spark, sf001)
      .filter($"vec_id" % Imi.RecallQueryMod === 0)
      .select($"vec_id", $"nn_id")
      .as[(Long, Long)].collect().sorted.toSeq
    val filtered = Similarity.knnTopKFromCells(canopy, 5,
        srcPred = v => v % Imi.RecallQueryMod === 0)
      .select($"vec_id", $"nn_id")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(filtered === full)
  }

  test("compacted-index recall: same query set as the trained leg, " +
    "hits bounded, and the frozen-codebook gap is nonnegative-bounded " +
    "(the knob telemetry reads recall(trained) - recall(compacted))") {
    def byQuery(op: Imi.type => graft.operators.Op) =
      op(Imi).build(spark, sf001)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    val trained = byQuery(_.imiRecall)
    val compacted = byQuery(_.imiRecallCompact)
    assert(compacted.nonEmpty)
    assert(compacted.keySet === trained.keySet,
      "both legs must score the same sampled queries")
    assert(compacted.values.forall(h => h >= 0 && h <= Imi.RecallK))
    val rT = trained.values.sum.toDouble / (trained.size * Imi.RecallK)
    val rC = compacted.values.sum.toDouble / (compacted.size * Imi.RecallK)
    // the measured curve (PERF.md): the merge path costs
    // <= a few points on this clustered corpus — the gap must stay a
    // small fraction, not a cliff (and can be slightly negative: two
    // different codebooks make different per-query mistakes)
    assert(rC >= rT - 0.15,
      f"frozen-codebook recall $rC%.3f fell more than 15 points below " +
        f"trained $rT%.3f")
  }

  test("session-cached trained canopy equals fresh construction; " +
    "persisted store is reused across cache eviction") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted
    val first = rows(canopy)
    assert(first.nonEmpty)
    val store = PersistedStore.currentRoot(spark, sf001, "imi_canopy")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/cells"))
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted
    val before = listing
    Imi.imiCache.clear()
    assert(rows(Imi.trainedCanopy(spark, sf001)) === first,
      "evicted reread diverged")
    assert(listing === before, "store was rebuilt on a cache miss")
    // fresh (non-persisted) construction agrees with the committed store
    val fresh = Imi.cellsOf(e, k1, Imi.LloydSteps, Imi.NProbeHalf)
    assert(rows(fresh) === first, "persisted canopy drifted from fresh")
  }

  test("trained knn: rank-1 recall vs exact nearest neighbor >= 0.70") {
    val knn = Imi.knnGraphTrained.build(spark, sf001)
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
    info(f"trained rank-1 recall: ${hit.toDouble / n}%.3f (hit=$hit n=$n)")
    assert(hit.toDouble / n >= 0.70,
      s"trained rank-1 recall ${hit.toDouble / n} below floor (hit=$hit n=$n)")
  }

  test("trained semdedup: survivors partition the top-1 assignment and " +
    "every cell's keep-order head survives") {
    val sem = Imi.semdedupTrained.build(spark, sf001).cache()
    val asg = canopy.filter($"r0" === 1 && $"r1" === 1)
      .select($"vec_id", $"cell",
        Similarity.cosine($"dot0" + $"dot1", $"n2", $"cn0" + $"cn1")
          .as("cos_cent"))
    assert(sem.count() > 0 && sem.count() <= asg.count())
    assert(sem.select($"vec_id").distinct().count() === sem.count())
    assert(sem.select($"vec_id")
      .join(asg.select($"vec_id"), Seq("vec_id"), "left_anti").count() === 0)
    val heads = asg.groupBy($"cell")
      .agg(min(struct($"cos_cent", $"vec_id")).as("h"))
      .select($"h.vec_id".as("vec_id"))
    assert(heads.join(sem, Seq("vec_id"), "left_anti").count() === 0)
  }

  test("incremental probe: delta queries only, standing neighbors only, " +
    "contiguous ranks — the index is never retrained for a delta") {
    val out = Imi.imiDelta.build(spark, sf001).cache()
    assert(out.count() > 0)
    assert(out.filter($"vec_id" % Imi.DeltaMod =!= 0).count() === 0,
      "a non-delta vector was probed")
    assert(out.filter($"nn_id" % Imi.DeltaMod === 0).count() === 0,
      "a delta vector leaked into the standing index")
    val byVec = out.groupBy($"vec_id")
      .agg(count(lit(1)).as("n"), min($"rank").as("mn"), max($"rank").as("mx"))
      .filter($"mn" =!= 1 || $"mx" =!= $"n" || $"n" > 5)
    assert(byVec.count() === 0)
    out.unpersist()
  }

  test("row-local probe == join-form probe (the stream leg's kernel " +
    "is exactly the batch op)") {
    val arrivals = graft.Tables.embeddings(spark, sf001)
      .filter($"vec_id" % Imi.DeltaMod === 0)
    val rowLocal = Imi.probeRows(spark, sf001, arrivals)
      .collect().map(_.toString).sorted
    val joinForm = Imi.imiDelta.build(spark, sf001)
      .collect().map(_.toString).sorted
    assert(rowLocal.nonEmpty)
    assert(rowLocal === joinForm,
      "arrival-time probe diverged from the relational form")
  }

  test("trained hard negatives: cross-label only, contiguous ranks, " +
    "capped at 3") {
    val hn = Imi.hardNegativesTrained.build(spark, sf001).cache()
    assert(hn.count() > 0)
    assert(hn.filter($"label" === $"neg_label").count() === 0)
    val byVec = hn.groupBy($"vec_id")
      .agg(count(lit(1)).as("n"), min($"rank").as("mn"), max($"rank").as("mx"))
      .filter($"mn" =!= 1 || $"mx" =!= $"n" || $"n" > 3)
    assert(byVec.count() === 0)
    hn.unpersist()
  }

  test("trained near-dup ANN: subset of the exact kernel, no false " +
    "positives, threshold respected") {
    val ann = Imi.embedNearDupAnnTrained.build(spark, sf001).cache()
    val exact = Similarity.embedNearDup.build(spark, sf001).cache()
    assert(ann.filter($"cos" < 0.35).count() === 0)
    // every trained-ANN pair is in the exact pair set (no false positives)
    assert(ann.join(exact, Seq("label", "id_a", "id_b"), "left_anti")
      .count() === 0)
    val recall = ann.count().toDouble / math.max(exact.count(), 1L)
    info(f"trained near-dup pair recall vs exact: $recall%.3f " +
      s"(${ann.count()}/${exact.count()})")
  }

  test("compaction (merge path): folding the delta into the standing " +
    "cells == assigning the whole corpus against the standing " +
    "codebook — the index is never retrained") {
    val all = Similarity.quantizedLabeled(spark, sf001)
    val (cb, _) = Imi.standingIndex(spark, sf001)
    val want = Imi.cellsWithCodebook(all, cb, Imi.NProbeHalf)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().sorted
    val got = Imi.imiCompact.build(spark, sf001)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().sorted
    assert(got.nonEmpty)
    assert(got === want.toSeq)
    // both slices are present in the compacted index
    val flags = Imi.imiCompact.build(spark, sf001)
      .select($"is_delta").distinct().as[Long].collect().toSet
    assert(flags === Set(0L, 1L),
      "compacted index must contain standing AND delta vectors")
  }

  test("compaction (retrain path, forced threshold) == a full retrain " +
    "on the union") {
    val got = Imi.compactUnion(spark, sf001, 0.0)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().sorted
    val want = Imi.cellsOf(
      Similarity.quantizedLabeled(spark, sf001),
      Imi.lawK1Of(e), Imi.LloydSteps, Imi.NProbeHalf)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().sorted
    assert(got.nonEmpty)
    assert(got === want.toSeq)
  }

  test("registered retrain leg: the 33%-delta fraction forces the " +
    "retrain branch, the result == train-on-union, and a branch/oracle " +
    "mismatch fails LOUDLY") {
    val got = Imi.imiRetrain.build(spark, sf001)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().sorted
    val want = Imi.cellsOf(
      Similarity.quantizedLabeled(spark, sf001),
      Imi.lawK1Of(e), Imi.LloydSteps, Imi.NProbeHalf)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().sorted
    assert(got.nonEmpty)
    assert(got === want.toSeq,
      "retrain generation must equal a from-scratch train on the union")
    // the branch assert: expecting the OTHER branch throws instead of
    // silently serving a result the op's oracle cannot match
    val ex = intercept[IllegalStateException] {
      Imi.compactUnion(spark, sf001, Imi.CompactRetrainFrac,
        deltaMod = Imi.RetrainDeltaMod, expectRetrain = Some(false))
    }
    assert(ex.getMessage.contains("compaction law flipped"))
  }

  test("recall-gap control loop (r11 #4): below the fraction " +
    "threshold, a measured gap past the floor FORCES the retrain " +
    "branch — the telemetry pair is the decision signal, not prose") {
    // fraction can never trigger (threshold 0.99 ≫ the 1/7 delta);
    // floor −1 means ANY measured gap exceeds it → retrain
    val got = Imi.compactUnion(spark, sf001, 0.99, gapFloor = -1.0)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().sorted
    val want = Imi.cellsOf(
      Similarity.quantizedLabeled(spark, sf001),
      Imi.lawK1Of(e), Imi.LloydSteps, Imi.NProbeHalf)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().sorted
    assert(got.nonEmpty)
    assert(got === want.toSeq,
      "a gap past the floor must retrain on the union")
  }

  test("recall-gap control loop: a gap inside the floor keeps the " +
    "merge branch, and the corpus's measured gap sits under the " +
    "registered floor (the merge leg's standing premise)") {
    // floor 1.1 can never be exceeded (gap ≤ 1 by construction)
    val got = Imi.compactUnion(spark, sf001, 0.99, gapFloor = 1.1)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().sorted
    val all = Similarity.quantizedLabeled(spark, sf001)
    val (cb, _) = Imi.standingIndex(spark, sf001)
    val want = Imi.cellsWithCodebook(all, cb, Imi.NProbeHalf)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().sorted
    assert(got.nonEmpty)
    assert(got === want.toSeq,
      "a gap inside the floor must keep the map-only merge")
    // the registered op's premise, measured (not assumed): the gate
    // corpus's frozen-codebook gap is under CompactRecallGapFloor —
    // if a corpus shape ever breaks this, q_imi_compact fails LOUDLY
    // at build (expectRetrain) instead of hash-diverging
    val (cb2, standingCells) = Imi.standingIndex(spark, sf001)
    val merged = standingCells.unionByName(Imi.cellsWithCodebook(
      all.filter($"vec_id" % Imi.DeltaMod === 0), cb2, Imi.NProbeHalf))
    val gap = Imi.measuredRecallGap(spark, sf001, merged)
    info(f"measured frozen-codebook recall gap at sf0.001: $gap%.4f " +
      f"(floor ${Imi.CompactRecallGapFloor})")
    assert(gap <= Imi.CompactRecallGapFloor,
      "merge-leg premise: measured gap must sit under the floor")
    // ADVICE r12: the premise above was only checked at the FIXED
    // telemetry mod — at soak scale compactUnion decides at the
    // SCALED mod (nAll/GapQueries). Exercise a mod strictly above
    // RecallQueryMod: fewer sampled queries, same under-floor law
    val scaledMod = Imi.RecallQueryMod * 3
    val gapScaled = Imi.measuredRecallGap(spark, sf001, merged, scaledMod)
    info(f"measured gap at scaled mod $scaledMod: $gapScaled%.4f")
    assert(gapScaled <= Imi.CompactRecallGapFloor,
      "merge-leg premise must hold at the scaled decision mod too")
  }

  test("decisionGapMod: floors at the telemetry mod, scales as " +
    "nAll/GapQueries, and CLAMPS instead of wrapping past Int range " +
    "(ADVICE r12: raw .toInt truncation)") {
    assert(Imi.decisionGapMod(0L) === Imi.RecallQueryMod)
    assert(Imi.decisionGapMod(Imi.GapQueries * Imi.RecallQueryMod)
      === Imi.RecallQueryMod)
    assert(Imi.decisionGapMod(5_000_000L)
      === (5_000_000L / Imi.GapQueries).toInt)
    // the overflow shape: nAll past 2^31·GapQueries must clamp, not
    // wrap negative/small
    assert(Imi.decisionGapMod(Long.MaxValue) === Int.MaxValue)
    assert(Imi.decisionGapMod(Int.MaxValue.toLong * Imi.GapQueries + 1)
      === Int.MaxValue)
  }

  test("sparse/offset vec_ids (ids > CellBase): densified cent_ids " +
    "keep packed cells alias-free and membership identical to the " +
    "dense-id twin") {
    // the r9 guard ABORTED here; the row_number re-rank must instead
    // produce the same index modulo the id offset
    val off = 5000000L // > CellBase = 2^21
    // deterministic subset: limit() without orderBy may pick different
    // rows on a cache recompute — filter on the key instead
    val dense = e.filter($"vec_id" < 60).cache()
    val offset = dense.withColumn("vec_id", $"vec_id" + off)
    val k1 = 4; val np = 2
    def cells(df: org.apache.spark.sql.DataFrame, sub: Long) =
      Imi.cellsOf(df, k1, Imi.LloydSteps, np)
        .select(($"vec_id" - sub).as("vec_id"), $"cell")
        .as[(Long, Long)].collect().sorted.toSeq
    val want = cells(dense, 0L)
    val got = cells(offset, off)
    assert(want.nonEmpty)
    assert(got === want,
      "offset ids must yield the identical index after the re-rank")
    // cent components are dense 1..k1 — packing can never alias
    val comps = got.map(_._2).flatMap(c =>
      Seq(c / Imi.CellBase, c % Imi.CellBase))
    assert(comps.forall(c => c >= 1 && c <= k1),
      s"cent components must re-rank to 1..$k1, got ${comps.distinct}")
    dense.unpersist()
  }
}
