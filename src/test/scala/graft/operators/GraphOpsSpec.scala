package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Connected-components semantics the corpus oracle can't exercise: the
  * testdata's dup clusters are all diameter ≤ 1 (pairs + one triangle),
  * so multi-hop propagation, chain convergence, and edge-orientation
  * invariance need synthetic graphs. */
class GraphOpsSpec extends SparkSpec {

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path graph: min label propagates across multiple hops") {
    // 1-2-3-4-5 is a diameter-4 chain; label 1 must reach node 5
    val labels = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("components stay separate and labels are component minima") {
    val labels = cc(Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 30L)))
    assert(labels === Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("edge orientation is irrelevant (min on the dst side of every edge)") {
    // min node only ever appears as dst — propagation must still reach it
    val labels = cc(Seq((5L, 1L), (5L, 4L), (4L, 3L)))
    assert(labels === Map(1L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  private def incr(standing: Seq[(Long, Long)], cross: Seq[(Long, Long)],
      delta: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.incrementalCc(
        standing.toDF("doc_id_a", "doc_id_b"),
        cross.toDF("doc_id_a", "doc_id_b"),
        delta.toDF("doc_id_a", "doc_id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("incremental CC: a delta doc bridging two standing components " +
    "merges them to the global min") {
    // standing comps {10,11} and {20,21}; delta 30 touches both
    val labels = incr(
      standing = Seq((10L, 11L), (20L, 21L)),
      cross = Seq((30L, 11L), (30L, 21L)),
      delta = Seq.empty)
    assert(labels === Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 21L -> 10L,
      30L -> 10L))
  }

  test("incremental CC: delta-only chain forms its own new cluster; " +
    "untouched standing components keep their labels") {
    val labels = incr(
      standing = Seq((10L, 11L)),
      cross = Seq.empty,
      delta = Seq((40L, 50L), (50L, 60L)))
    assert(labels === Map(10L -> 10L, 11L -> 10L,
      40L -> 40L, 50L -> 40L, 60L -> 40L))
  }

  test("incremental CC: a delta doc with a SMALLER id than the standing " +
    "minimum relabels the merged component") {
    val labels = incr(
      standing = Seq((10L, 11L)),
      cross = Seq((0L, 10L)),
      delta = Seq.empty)
    assert(labels === Map(0L -> 0L, 10L -> 0L, 11L -> 0L))
  }

  test("incremental CC: cross pair to a PAIRLESS standing doc enters it " +
    "as a singleton label") {
    val labels = incr(
      standing = Seq((10L, 11L)),
      cross = Seq((30L, 25L)), // 25 has no standing pair
      delta = Seq.empty)
    assert(labels === Map(10L -> 10L, 11L -> 10L, 25L -> 25L, 30L -> 25L))
  }

  test("session-cached standing labels equal fresh standing CC") {
    import spark.implicits._
    val mod = Dedup.IncrementalDeltaMod
    val cached = GraphOps.standingLabels(spark, sf001)
    val fresh = GraphOps.connectedComponents(
      Dedup.lshPairIndex(spark, sf001)
        .select("doc_id_a", "doc_id_b")
        .filter($"doc_id_a" % mod =!= 0 && $"doc_id_b" % mod =!= 0),
      "doc_id_a", "doc_id_b")
    assert(cached.exceptAll(fresh).isEmpty && fresh.exceptAll(cached).isEmpty,
      "cached standing labels drifted from fresh CC")
  }

  test("session-cached corpus labels equal the fresh standing+delta fold") {
    val cached = GraphOps.corpusLabels(spark, sf001)
    val fresh = GraphOps.corpusLabelsFresh(spark, sf001)
    assert(cached.exceptAll(fresh).isEmpty && fresh.exceptAll(cached).isEmpty,
      "cached corpus labels drifted from the fresh incremental assembly")
  }

  test("standing labels persist: a cache-evicted rerun reads the store") {
    def run() = GraphOps.standingLabels(spark, sf001)
      .collect().map(_.toString).sorted
    val first = run()
    // current version root, not the legacy in-place path (round-8
    // versioned store layout)
    def store = graft.operators.PersistedStore
      .currentRoot(spark, sf001, "standing_labels")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/labels"))
      .map(s => s.getPath.getName -> s.getModificationTime).sortBy(_._1).toSeq
    val before = listing
    GraphOps.standingLblCache.clear()
    assert(run() === first)
    assert(listing === before,
      "cache-evicted rerun must reuse the persisted labels, not re-run CC")
  }

  test("fuzzy standing labels persist and the entity fold equals full CC") {
    import spark.implicits._
    // at-rest reuse: evicting the session cache must not rewrite the store
    def labs() = Dedup.fuzzyStandingLabels(spark, sf001)
      .collect().map(_.toString).sorted
    val first = labs()
    // current version root, not the legacy in-place path (round-8
    // versioned store layout)
    def store = graft.operators.PersistedStore
      .currentRoot(spark, sf001, "fuzzy_standing_labels")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/labels"))
      .map(s => s.getPath.getName -> s.getModificationTime).sortBy(_._1).toSeq
    val before = listing
    Dedup.fuzzyStandingCache.clear()
    assert(labs() === first)
    assert(listing === before,
      "cache-evicted rerun must reuse the persisted labels, not re-run CC")
    // the incremental assembly the registered op ships must equal the
    // full-graph CC it replaced (the oracle also pins this in SQL)
    val full = GraphOps.connectedComponents(
      Dedup.fuzzyMatch.build(spark, sf001).select($"key_a", $"key_b"),
      "key_a", "key_b")
      .as[(Long, Long)].collect().toMap
    val got = Dedup.entityCluster.build(spark, sf001)
      .select($"key", $"entity_id").as[(Long, Long)].collect().toMap
    full.foreach { case (node, lbl) =>
      assert(got(node) === lbl, s"entity label of $node diverged")
    }
  }

  test("incremental dup clusters equal the batch recompute on the corpus") {
    import spark.implicits._
    val batch = GraphOps.dupClusters.build(spark, sf001)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val inc = GraphOps.dupClustersIncremental.build(spark, sf001)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(batch.nonEmpty)
    assert(inc === batch)
  }

  test("dup clusters: every member pairs transitively, canonical = min id") {
    val out = GraphOps.dupClusters.build(spark, sf001).cache()
    val byCluster = out.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"),
        sum(col("is_canonical").cast("long")).as("n_canon"))
      .collect()
    assert(byCluster.nonEmpty)
    byCluster.foreach { r =>
      assert(r.getAs[Long]("min_doc") === r.getAs[Long]("cluster_id"))
      assert(r.getAs[Long]("n_canon") === 1L)
      assert(r.getAs[Long]("n") >= 2L) // singletons never enter the graph
    }
    // cluster members ⊇ pair endpoints: every LSH pair lands in ONE cluster
    val pairs = Dedup.minhashLshPairs(spark, sf001, bucketCap = None)
    val lab = out.select(col("doc_id"), col("cluster_id"))
    val crossCluster = pairs
      .join(lab.withColumnRenamed("doc_id", "doc_id_a")
        .withColumnRenamed("cluster_id", "ca"), Seq("doc_id_a"))
      .join(lab.withColumnRenamed("doc_id", "doc_id_b")
        .withColumnRenamed("cluster_id", "cb"), Seq("doc_id_b"))
      .filter(col("ca") =!= col("cb"))
    assert(crossCluster.isEmpty)
    out.unpersist()
  }

  test("triangles: diamond has 2, star has 0, wheel has rim count") {
    import spark.implicits._
    def tri(edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
      GraphOps.trianglesOf(edges.toDF("a", "b"))
        .as[(Long, Long, Long)].collect()
        .map { case (a, b, c) => val s = Seq(a, b, c).sorted
          (s(0), s(1), s(2)) }.toSet
    // K4 minus one edge: exactly the two triangles sharing the diagonal
    assert(tri(Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))) ===
      Set((1L, 2L, 3L), (2L, 3L, 4L)))
    // star: hub with many leaves, no closure anywhere
    assert(tri((2L to 9L).map(i => (1L, i))) === Set.empty)
    // wheel: hub 0 + 5-cycle rim — one triangle per rim edge, and the
    // hub's degree skew exercises the orientation (hub never generates
    // its d² wedge pairs; every triangle comes from a degree-3 corner)
    val rim = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    val wheel = rim ++ (1L to 5L).map(i => (0L, i))
    assert(tri(wheel) === Set(
      (0L, 1L, 2L), (0L, 2L, 3L), (0L, 3L, 4L), (0L, 4L, 5L), (0L, 1L, 5L)))
    // ids >= 2^32 (hashed doc-id scale): the (degree, id) order must be
    // compared lexicographically — a packed d*2^32+id key would collide
    // here and silently break orientation antisymmetry
    val big = 1L << 33
    val shifted = wheel.map { case (a, b) => (a + big, b + big) }
    assert(tri(shifted).size === 5)
  }

  test("triangles: raw edge dumps (dups, both orientations, self-loops) count the same") {
    import spark.implicits._
    def tri(edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
      GraphOps.trianglesOf(edges.toDF("a", "b"))
        .as[(Long, Long, Long)].collect()
        .map { case (a, b, c) => val s = Seq(a, b, c).sorted
          (s(0), s(1), s(2)) }.toSet
    val clean = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val expected = Set((1L, 2L, 3L), (2L, 3L, 4L))
    assert(tri(clean) === expected)
    // every edge duplicated, some reversed, plus self-loops: degrees
    // would inflate and wedges duplicate without the canon step
    val raw = clean ++ clean.map(_.swap) ++ Seq((1L, 2L), (3L, 2L)) ++
      Seq((1L, 1L), (4L, 4L))
    assert(tri(raw) === expected)
  }

  test("pagerank equals a driver-side fixed-point recomputation") {
    import spark.implicits._
    val edges = GraphOps.copurchaseEdges(spark, sf001)
      .as[(Long, Long)].collect()
    assert(edges.nonEmpty, "expected co-purchase edges at sf0.001")
    val adj = (edges ++ edges.map { case (a, b) => (b, a) })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val s = GraphOps.PagerankScale
    val base = 3 * s / 20
    var r = adj.keys.map(_ -> s).toMap
    for (_ <- 1 to GraphOps.PagerankIters) {
      val contrib = scala.collection.mutable.Map
        .empty[Long, Long].withDefaultValue(0L)
      for ((u, vs) <- adj; c = r(u) / vs.length; v <- vs) contrib(v) += c
      r = adj.keys.map(v => v -> (base + 17 * contrib(v) / 20)).toMap
    }
    val got = GraphOps.pagerank.build(spark, sf001)
      .as[(Long, Long)].collect().toMap
    assert(got === r)
  }

  test("pagerank: a mutually-linked pair is a fixed point at exactly S") {
    // two nodes joined only to each other: each iteration gives
    // base + (17·(S div 1)) div 20 = 0.15S + 0.85S = S — pins the
    // base/damping arithmetic with no floor slack anywhere
    val s = GraphOps.PagerankScale
    assert(3 * s / 20 + 17 * s / 20 === s)
  }

  test("cluster representative: quality beats id, length breaks quality ties, singletons keep themselves") {
    import spark.implicits._
    import graft.functions.TextAnalysis.{punctRatio, wsTokenCount}
    // cluster {1,2,3}: doc 1 is LOW quality (too short), docs 2 and 3
    // pass — doc 3 is longer, so it must win despite the larger id.
    // doc 9 is a singleton and keeps itself.
    val docs = Seq(
      (1L, "too short"),
      (2L, "a passing document with enough tokens here"),
      (3L, "a passing document with even more tokens than the other one"),
      (9L, "a lone document that stands entirely alone")
    ).toDF("doc_id", "text")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_id_a", "doc_id_b")
    val cc = GraphOps.connectedComponents(edges, "doc_id_a", "doc_id_b")
    val nWs = wsTokenCount($"text")
    val lab = docs
      .select($"doc_id", nWs.as("n_ws"),
        (nWs >= 5 && punctRatio($"text") < 0.2).as("qp"))
      .join(cc, $"doc_id" === $"node", "left")
      .select($"doc_id", coalesce($"lbl", $"doc_id").as("cluster_id"),
        $"n_ws", $"qp")
    val best = lab.groupBy($"cluster_id")
      .agg(max(struct($"qp".cast("int").as("q"), $"n_ws".as("n"),
        negate($"doc_id").as("nid"))).as("b"))
      .select($"cluster_id", negate($"b.nid").as("rep_doc_id"))
    val got = lab.join(best, Seq("cluster_id"))
      .select($"doc_id", ($"doc_id" === $"rep_doc_id").as("keep"))
      .as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> false, 2L -> false, 3L -> true, 9L -> true))
  }

  private def lpa(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.lpaOf(edges.toDF("a", "b"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("lpa: a bridge between two triangles does NOT merge them (unlike CC)") {
    // barbell: triangle {1,2,3} - bridge 3-10 - triangle {10,11,12}.
    // CC floods min label 1 everywhere; deterministic LPA keeps the
    // dense sides apart (hand-simulated 3 synchronous min-tie rounds).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 10L), (10L, 11L), (10L, 12L), (11L, 12L))
    val got = lpa(edges)
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(10L) === got(11L) && got(11L) === got(12L))
    assert(got(1L) !== got(10L), s"bridge merged the triangles: $got")
    val labels = cc(edges.map { case (a, b) => (a, b) })
    assert(labels.values.toSet.size === 1) // CC merges; the contrast
  }

  test("lpa: clique adopts one label; tie-break is the smallest label") {
    // 4-clique: round 1 every node sees three distinct labels (all
    // count 1) -> adopts the smallest neighbor label; converges to a
    // single community.
    val got = lpa(Seq((5L, 6L), (5L, 7L), (5L, 8L),
      (6L, 7L), (6L, 8L), (7L, 8L)))
    assert(got.values.toSet.size === 1)
  }

  test("lpa on the co-purchase graph: node set matches pagerank's, several communities") {
    val com = GraphOps.communities.build(spark, sf001).cache()
    val pr = GraphOps.pagerank.build(spark, sf001)
    assert(com.count() === pr.count())
    val k = com.select("community").distinct().count()
    assert(k > 1 && k < com.count(),
      s"expected a nontrivial community structure, got $k communities")
  }

  private def kcore(edges: Seq[(Long, Long)], k: Int, rounds: Int = 3)
      : Map[Long, Long] = {
    import spark.implicits._
    val sym = edges.toDF("src", "dst")
    val both = sym.unionByName(
      sym.select(col("dst").as("src"), col("src").as("dst")))
    GraphOps.kcoreOf(both, k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("kcore: star collapses in two peels; clique survives whole") {
    // star: hub 0 with 5 leaves — leaves die at k=2 round 1, hub
    // (degree now 0) dies round 2
    val star = (1L to 5L).map(i => (0L, i))
    assert(kcore(star, 2) === Map.empty)
    // 4-clique: every node has degree 3 — the 3-core keeps everything
    val clique = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    assert(kcore(clique, 3) === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("kcore: a tail hanging off a clique peels away without harming it") {
    // 4-clique + path 3-10-11: 11 dies (deg 1), then 10, then the
    // bridge endpoint 3 keeps its in-clique degree 3
    val g = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 10L), (10L, 11L))
    assert(kcore(g, 3) === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("session-cached co-purchase edges equal fresh construction") {
    val cached = GraphOps.copurchaseEdges(spark, sf001)
    val fresh = GraphOps.buildCopurchaseEdges(spark, sf001)
    assert(cached.exceptAll(fresh).isEmpty && fresh.exceptAll(cached).isEmpty,
      "cached edge index drifted from deterministic reconstruction")
  }

  test("kcore on the co-purchase graph converges within the round budget") {
    val got = GraphOps.kcore.build(spark, sf001).cache()
    // one more peel changes nothing: the bounded contract reached the
    // true k-core fixpoint on this corpus
    val und = GraphOps.copurchaseEdges(spark, sf001)
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val more = GraphOps.kcoreOf(sym, GraphOps.KcoreK, GraphOps.KcoreRounds + 1)
    assert(got.exceptAll(more).isEmpty && more.exceptAll(got).isEmpty,
      "an extra peel round changed the core — raise KcoreRounds")
    // every survivor keeps >= k neighbors inside the core
    assert(got.filter(col("deg") < GraphOps.KcoreK).count() === 0)
    assert(got.count() > 0, "corpus 3-core must be non-empty")
    got.unpersist()
  }

  // ---- convergence telemetry (r12 verdict #2): a truncated fixpoint
  // must be LOUD, not a silently half-peeled/half-propagated result

  private def kcoreTelemetry(edges: Seq[(Long, Long)], k: Int,
      rounds: Int): (Long, Long, Long) = {
    import spark.implicits._
    val df = edges.toDF("a", "b")
    val both = df.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(df.select(col("b").as("src"), col("a").as("dst")))
    GraphOps.kcoreConvergence(both, k, rounds)
      .as[(Long, Long, Long)].head()
  }

  test("kcore telemetry: a peel chain DEEPER than the budget reports " +
    "nonzero removed_next; a converged graph reports zero") {
    // path 0-1-…-9 under k=2: every round peels only the two current
    // endpoints, so the fixpoint (empty) needs 5 rounds — at budget 3
    // the telemetry must say the peel was still moving
    val path = (0L until 9L).map(i => (i, i + 1))
    val (alive, aliveNext, removed) = kcoreTelemetry(path, 2, 3)
    assert(alive === 4L, "after 3 peels nodes {3,4,5,6} remain")
    assert(aliveNext === 2L && removed === 2L,
      "round 4 still removes nodes — the telemetry must catch it")
    // a 4-clique under k=3 is its own 3-core: nothing to remove
    val clique = Seq((0L, 1L), (0L, 2L), (0L, 3L),
      (1L, 2L), (1L, 3L), (2L, 3L))
    assert(kcoreTelemetry(clique, 3, 3) === ((4L, 4L, 0L)))
  }

  test("kcore telemetry on the co-purchase corpus: removed_next = 0 " +
    "(the registered round budget reaches the true fixpoint here)") {
    import spark.implicits._
    val (alive, aliveNext, removed) = GraphOps.kcoreConverged
      .build(spark, sf001).as[(Long, Long, Long)].head()
    assert(removed === 0L && alive === aliveNext)
    assert(alive > 0L)
  }

  test("lpa telemetry: a 2-node label swap oscillates forever " +
    "(synchronous LPA's 2-cycle) — changed_next is the full node " +
    "count; a triangle converges inside the budget") {
    import spark.implicits._
    // nodes 1,2 joined only to each other: each round they exchange
    // labels, so NO budget converges — the telemetry must say so
    val pair = Seq((1L, 2L)).toDF("a", "b")
    assert(GraphOps.lpaConvergence(pair, GraphOps.LpaIters)
      .as[(Long, Long)].head() === ((2L, 2L)))
    // triangle: round 2 reaches all-min and round 3 confirms it
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    assert(GraphOps.lpaConvergence(tri, GraphOps.LpaIters)
      .as[(Long, Long)].head() === ((3L, 0L)))
  }

  test("pagerank residual telemetry: zero at a true fixed point, and " +
    "equal to the driver-side recomputation elsewhere") {
    import spark.implicits._
    // mutually-linked pair: every iterate is exactly S (the pinned
    // arithmetic above) — residual must be exactly 0
    val pair = Seq((1L, 2L)).toDF("a", "b")
    assert(GraphOps.pagerankResidualOf(pair, GraphOps.PagerankIters)
      .as[(Long, Long, Long)].head() === ((2L, 0L, 0L)))
    // star 0-{1,2,3}: ranks still moving at the budget; recompute the
    // integer recurrence driver-side for iters and iters+1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val adj = (star ++ star.map { case (a, b) => (b, a) })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val s = GraphOps.PagerankScale
    val base = 3 * s / 20
    def iterate(n: Int): Map[Long, Long] = {
      var r = adj.keys.map(_ -> s).toMap
      for (_ <- 1 to n) {
        val contrib = scala.collection.mutable.Map
          .empty[Long, Long].withDefaultValue(0L)
        for ((u, vs) <- adj; c = r(u) / vs.length; v <- vs) contrib(v) += c
        r = adj.keys.map(v => v -> (base + 17 * contrib(v) / 20)).toMap
      }
      r
    }
    val rB = iterate(GraphOps.PagerankIters)
    val rN = iterate(GraphOps.PagerankIters + 1)
    // keys is set-backed: map BEFORE dedup would collapse the three
    // identical leaf deltas to one — force a Seq first
    val deltas = adj.keys.toSeq.map(v => math.abs(rN(v) - rB(v)))
    val got = GraphOps.pagerankResidualOf(star.toDF("a", "b"),
      GraphOps.PagerankIters).as[(Long, Long, Long)].head()
    assert(got === ((4L, deltas.sum, deltas.max)))
    assert(deltas.sum > 0L, "the star must not be converged at the budget")
  }
}
