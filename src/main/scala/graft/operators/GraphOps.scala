package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph stage of the dedup pipeline (north star, SURVEY §7.4): pair
  * detection (MinHash/SimHash/Jaccard) emits near-dup EDGES, but what a
  * curation pipeline actually needs is duplicate CLUSTERS — transitive
  * closure over the pair graph, one canonical representative kept per
  * cluster (the union-find step of SlimPajama/Dolma-style dedup).
  *
  * Scale design: iterative min-label propagation over the edge list —
  * each round is one shuffle join (edges ⋈ labels) + one hash aggregate,
  * all map-side-combinable; the driver holds only the loop counter and a
  * converged flag (an `isEmpty` probe per round, never data). Rounds =
  * pair-graph diameter. Near-dup graphs are the BEST case for this:
  * duplicate clusters are near-cliques (diameter ≤ 2–3 — measured: the
  * testdata corpus converges in 2 rounds at every SF), so propagation
  * beats the O(log² n) star-contraction alternative (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) on constant
  * factors while staying a fraction of its code. A corpus with
  * adversarially long duplicate CHAINS would switch to star contraction;
  * the API boundary here (any (src,dst) edge frame in, (node,label) out)
  * is exactly where that swap would land.
  *
  * Lineage: iterative plans grow multiplicatively, so each round's label
  * frame is `localCheckpoint`ed (eager) — the next round's plan starts
  * from materialized blocks, not the whole join history. On a real
  * cluster this becomes reliable `checkpoint` to the lakehouse; the
  * choice is a config, not a shape change.
  */
object GraphOps {

  /** Connected components of the undirected graph given as an edge
    * frame: returns (node, lbl) where lbl = min node id reachable.
    * Deterministic for any edge order. Propagation provably converges
    * in ≤ diameter+1 rounds; `maxRounds` is the safety bound for a
    * pathological input, and hitting it without convergence THROWS —
    * a silently split cluster (multiple canonicals for one real
    * component) must never look like success.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 64): DataFrame = {
    // symmetric edge list, checkpointed ONCE: every round re-reads the
    // edges, and their upstream lineage (e.g. the whole MinHash+LSH
    // candidate pipeline) must not re-execute per round. Pre-partitioned
    // on src BEFORE the checkpoint (r15): localCheckpoint preserves the
    // materialized partitioning, so every round's edge⋈label join reuses
    // it and only the (far smaller) label table shuffles per round — the
    // edge frame crosses the network once per CC, not once per round
    // (guide §2.4; at 100 TB the edges are the corpus-scaled side).
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    var labelsCkpt = sym.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    var labels = labelsCkpt
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // one round = ONE edge join + ONE pointer-jump join + ONE
      // aggregation: neighbour labels, the node's own label AND the
      // label's own label (pointer jumping — lbl is always a node of the
      // same graph, so the jump join is total) flow into the same
      // min-aggregate; the own-leg additionally carries the node's
      // PREVIOUS label out as the own-row min. The jump leg (r15) is
      // what makes rounds O(log diameter) instead of O(diameter): plain
      // min-label flooding walked one hop per round, so a 14-deep chain
      // cost 14 join+aggregate rounds (measured on the fuzzy-pair
      // quotient at sf0.1) — with label-of-label the label table
      // short-circuits toward the component min geometrically, the
      // device of Kiveris et al.'s star contraction without the
      // two-phase bookkeeping. The converged labels are IDENTICAL (the
      // fixpoint is still "every node holds the min reachable label");
      // only the round count changes. The convergence probe stays a
      // filter over the just-materialized round snapshot.
      val nbr = sym
        .join(labels.withColumnRenamed("node", "src")
          .withColumnRenamed("lbl", "clbl"), Seq("src"))
        .select(col("dst").as("node"), col("clbl"), lit(false).as("own"))
      val own = labels.select(col("node"),
        col("lbl").as("clbl"), lit(true).as("own"))
      // ADAPTIVE jump: the first three rounds run plain propagation —
      // the measured corpora (fuzzy quotient, LSH pair graph) converge
      // in 2–3 rounds, where the extra label⋈label join is pure
      // overhead — and a graph still moving at round 4 is deep, so the
      // jump leg joins in from there and the remaining distance halves
      // per round instead of stepping one hop
      val cand =
        if (round < 3) nbr.unionByName(own)
        else nbr.unionByName(own).unionByName(labels
          .join(labels.select(col("node").as("jn"), col("lbl").as("jl")),
            col("lbl") === col("jn"))
          .select(col("node"), col("jl").as("clbl"), lit(false).as("own")))
      val next = cand
        .groupBy(col("node"))
        .agg(min(col("clbl")).as("lbl"),
          min(when(col("own"), col("clbl"))).as("prev"))
        .localCheckpoint()
      // labels only ever decrease ⇒ "any strict decrease" = "changed"
      // (the jump leg preserves this: lbl(lbl(v)) ≤ lbl(v) because
      // every label row's own lbl already satisfies lbl(u) ≤ u)
      converged = next.filter(col("lbl") < col("prev")).isEmpty
      SessionCache.releaseFrame(labelsCkpt) // superseded round snapshot
      labelsCkpt = next
      labels = next.select(col("node"), col("lbl"))
      round += 1
    }
    SessionCache.releaseFrame(sym)
    require(converged,
      s"connectedComponents did not converge within $maxRounds rounds — " +
        "graph diameter exceeds the bound; raise maxRounds (pointer-" +
        "jumped propagation needs ~log2(diameter)+2 rounds) or switch " +
        "to star-contraction")
    labels
  }

  /** Duplicate-cluster resolution over the verified near-dup pair set
    * (J ≥ 0.5 — the exact contract q_minhash_lsh is oracled to): each
    * doc appearing in any near-dup pair is assigned its cluster
    * (transitive closure), cluster id = min doc_id, which is also the
    * canonical representative a pipeline would keep. Oracle recomputes
    * the closure in SQL with a recursive CTE over the same all-pairs
    * J ≥ 0.5 edge set.
    */
  val dupClusters: Op = Op(
    "q_dup_clusters",
    s"""WITH RECURSIVE ${Dedup.jaccardPairCtes()},
       |np AS (
       |  SELECT doc_id_a, doc_id_b FROM pairs
       |  WHERE CAST(i AS DOUBLE)/CAST(u AS DOUBLE) >= 0.5
       |), edges AS (
       |  SELECT doc_id_a AS src, doc_id_b AS dst FROM np
       |  UNION ALL
       |  SELECT doc_id_b, doc_id_a FROM np
       |), reach AS (
       |  SELECT src AS node, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
       |), cc AS (
       |  SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
       |)
       |SELECT doc_id, cluster_id,
       |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |       doc_id = cluster_id AS is_canonical
       |FROM cc""".stripMargin) { (spark, dir) =>
    val pairs = Dedup.lshPairIndex(spark, dir)
      .select("doc_id_a", "doc_id_b")
    val cc = connectedComponents(pairs, "doc_id_a", "doc_id_b")
    val sizes = cc.groupBy(col("lbl").as("cid"))
      .agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, col("lbl") === col("cid"))
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"),
        (col("node") === col("lbl")).as("is_canonical"))
  }

  /** Incremental-clustering merge kernel: fold a delta batch's
    * verified pairs into STANDING cluster labels without re-running
    * CC over the corpus. The quotient device: standing components
    * collapse to their labels, so the only graph that needs iterating
    * is (delta doc | standing label) nodes connected by the DELTA
    * edges — a |delta-matches|-sized frame, never the corpus. Every
    * standing label is the MIN doc of its component, so the quotient's
    * min-label CC yields exactly the full recompute's labels (min of
    * a union is the min of the parts' mins).
    *
    *  - `standingPairs` — verified pairs wholly inside the standing
    *    corpus; CC over these is yesterday's label table (in
    *    production it is READ, not recomputed — it's the persisted
    *    output of the previous run).
    *  - `crossPairs` — verified (delta doc_id_a, standing doc_id_b).
    *  - `deltaPairs` — verified pairs wholly inside the delta.
    *
    * Returns (doc_id, cluster_id) for every doc in any pair. */
  private[graft] def incrementalCc(
      standingPairs: DataFrame, crossPairs: DataFrame,
      deltaPairs: DataFrame): DataFrame =
    incrementalCcFrom(
      connectedComponents(standingPairs, "doc_id_a", "doc_id_b"),
      crossPairs, deltaPairs)

  /** [[incrementalCc]] over a PRECOMPUTED standing (node, lbl) table —
    * the production entry point: the standing table is yesterday's
    * persisted output, so only the quotient CC below costs anything. */
  private[graft] def incrementalCcFrom(
      standingLbl: DataFrame, crossPairs: DataFrame,
      deltaPairs: DataFrame): DataFrame = {
    val crossQ = crossPairs
      .join(standingLbl.withColumnRenamed("node", "doc_id_b"),
        Seq("doc_id_b"), "left")
      .select(col("doc_id_a").as("qa"),
        // a standing doc absent from standingLbl has no standing pair;
        // it enters the quotient as its own singleton label
        coalesce(col("lbl"), col("doc_id_b")).as("qb"))
    val deltaQ = deltaPairs
      .select(col("doc_id_a").as("qa"), col("doc_id_b").as("qb"))
    val quotient = connectedComponents(
        crossQ.unionByName(deltaQ), "qa", "qb")
      .select(col("node").as("qnode"), col("lbl").as("qlbl"))
    val standingFinal = standingLbl
      .join(quotient, col("lbl") === col("qnode"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("qlbl"), col("lbl")).as("cluster_id"))
    // the quotient's node set IS the touched set (r15): CC labels one
    // row per distinct node of its symmetric edge frame, i.e. exactly
    // the union of crossQ/deltaQ endpoints — the former 4-way union +
    // distinct re-derived that set from the pair frames and joined it
    // back. Nodes that are standing LABELS are covered by
    // standingFinal; keep only nodes that are not standing-pair docs.
    standingFinal.unionByName(quotient
      .join(standingLbl.withColumnRenamed("node", "qnode"),
        Seq("qnode"), "left_anti")
      .select(col("qnode").as("doc_id"), col("qlbl").as("cluster_id")))
  }

  /** [[dupClusters]] computed INCREMENTALLY — the clustering stage of
    * the `q_dedup_incremental` story closed end-to-end: the standing
    * corpus (doc_id % 10 ≠ 0) keeps its label table, the delta batch's
    * verified matches (the incremental probe's own output, plus
    * delta-internal pairs) merge in through the quotient CC of
    * [[incrementalCc]], and the result must equal the FULL batch
    * recompute — the oracle IS `q_dup_clusters`' recursive-CTE SQL
    * over the whole corpus, so equality holds only if no merge is
    * missed, no label diverges from the global min, and singleton/
    * bridge cases all resolve. Cost: CC iterates only over the
    * delta-sized quotient; the standing label table is input, not
    * work (here it is recomputed once for self-containedness — a
    * production run reads the previous output). */
  private[graft] val standingLblCache = new SessionCache.Cache[DataFrame]

  /** The STANDING corpus' (node, lbl) cluster table — session-cached
    * AND at rest ([[PersistedStore]], round-7): this is the previous
    * run's persisted output in the incremental contract (the op's cost
    * is the delta merge, not yesterday's CC), so it now literally IS a
    * persisted artifact — built once per corpus, read back as parquet
    * by every later session/process, invalidated exactly when the
    * documents files change. Parity with fresh CC is spec-pinned. */
  private[graft] def standingLabels(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    standingLblCache.getOrBuild(spark, dir, "documents.parquet") {
      val store = PersistedStore.ensure(spark, dir, "documents.parquet",
        "standing_labels", "v2") { root => // v2: ascii-casefold law
        val mod = Dedup.IncrementalDeltaMod
        connectedComponents(
          Dedup.lshPairIndex(spark, dir)
            .select("doc_id_a", "doc_id_b")
            .filter(col("doc_id_a") % mod =!= 0 &&
              col("doc_id_b") % mod =!= 0),
          "doc_id_a", "doc_id_b")
          .write.mode("overwrite").parquet(s"$root/labels")
      }
      graft.Tables.parquet(spark, s"$store/labels")
    }

  /** The WHOLE corpus' (node, lbl) near-dup cluster table assembled
    * the PRODUCTION way: persisted standing labels + the delta batch's
    * fold through the quotient CC. Equals CC over the full verified
    * pair graph — the equality `q_dedup_incr_cc`'s full-recompute
    * oracle proves — while iterating only the delta-sized quotient.
    * Shared by [[dupClustersIncremental]], [[clusterRep]] and (via the
    * incremental op) [[Curation.cleanCorpus]]: every consumer of corpus
    * cluster labels reads yesterday's artifact and pays the delta. */
  private val corpusLblCache = new SessionCache.Cache[DataFrame]

  private[graft] def corpusLabels(
      spark: SparkSession, dir: String): DataFrame =
    // session-cached like [[standingLabels]] one level below (r14): the
    // assembled standing+delta label table is the shared index FIVE
    // registered consumers read (q_dedup_incr_cc, q_cluster_rep,
    // q_clean_corpus, q_clean_corpus_scored, q_pipeline_e2e), and each
    // was re-folding the delta through its own quotient-CC loop —
    // ~10 Spark jobs per consumer for an identical (node, lbl) frame.
    // At 100 TB this is exactly the production contract already stated
    // below: labels are an artifact read by every consumer, not
    // re-derived per query. Staleness: documents listing signature,
    // same as every cache in this stack.
    corpusLblCache.getOrBuild(spark, dir, "documents.parquet")(
      corpusLabelsFresh(spark, dir).localCheckpoint())

  private[graft] def corpusLabelsFresh(
      spark: SparkSession, dir: String): DataFrame = {
    val mod = Dedup.IncrementalDeltaMod
    val isDeltaA = col("doc_id_a") % mod === 0
    val isDeltaB = col("doc_id_b") % mod === 0
    val all = Dedup.lshPairIndex(spark, dir).select("doc_id_a", "doc_id_b")
    // subset slices of the verified pair set are valid standing/delta
    // pair sets under the corpus premise q_minhash_lsh already pins:
    // banded recall is 1, so pairs(subset) = pairs(all) ∩ subset²
    val deltaPairs = all.filter(isDeltaA && isDeltaB)
    // the incremental probe's own verified delta×standing match set
    val crossPairs = Dedup.incrementalMatches(spark, dir)
      .select("doc_id_a", "doc_id_b")
    incrementalCcFrom(standingLabels(spark, dir), crossPairs, deltaPairs)
      .select(col("doc_id").as("node"), col("cluster_id").as("lbl"))
  }

  val dupClustersIncremental: Op = Op(
    "q_dedup_incr_cc",
    dupClusters.oracle.get) { (spark, dir) =>
    val lab = corpusLabels(spark, dir)
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
    val sizes = lab.groupBy(col("cluster_id").as("cid"))
      .agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, col("cluster_id") === col("cid"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  /** Cluster-representative selection — the survivor-picking stage
    * that completes the dedup pipeline (detect pairs → cluster →
    * KEEP THE BEST, the SlimPajama/Dolma resolution step;
    * [[dupClusters]]' min-id canonical is the tie-break fallback, this
    * op picks by measured QUALITY): every document gets its near-dup
    * cluster (singleton = itself), and each cluster keeps exactly one
    * doc by (quality_pass DESC, ws-token length DESC, doc_id ASC) —
    * prefer passing docs, then longer, then deterministic.
    *
    * Scale shape: clusters come from the same iterative CC; the
    * selection itself is ONE max(struct) hash aggregate per cluster
    * (map-side partial — no window over the corpus), joined back
    * broadcast-small (clusters ≪ docs). The quality columns are the
    * registered q_text_quality metrics, so the pick is reproducible
    * straight from the oracle SQL.
    *
    * Oracle-parity precondition (shared with [[Dedup.minhashLsh]] /
    * [[dupClusters]], and amplified here because one missed pair can
    * split a cluster and flip many keep flags): the oracle derives
    * pairs from EXACT all-pairs Jaccard while the build uses MinHash-
    * LSH candidates, so hash-exact parity relies on the corpus having
    * no pairs in the J∈(0.2, 0.9) band where 8×4 banded recall is
    * probabilistic rather than deterministically 1.0 — see the recall
    * note on [[Dedup.minhashLsh]].
    */
  val clusterRep: Op = Op(
    "q_cluster_rep",
    s"""WITH RECURSIVE ${Dedup.jaccardPairCtes()},
       |np AS (
       |  SELECT doc_id_a, doc_id_b FROM pairs
       |  WHERE CAST(i AS DOUBLE)/CAST(u AS DOUBLE) >= 0.5
       |), edges AS (
       |  SELECT doc_id_a AS src, doc_id_b AS dst FROM np
       |  UNION ALL
       |  SELECT doc_id_b, doc_id_a FROM np
       |), reach AS (
       |  SELECT src AS node, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
       |), cc AS (
       |  SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
       |), q AS (
       |  SELECT doc_id,
       |    len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS n_ws,
       |    (len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) >= 5
       |      AND CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
       |          / CAST(greatest(length(text), 1) AS DOUBLE) < 0.2) AS qp
       |  FROM documents
       |), lab AS (
       |  SELECT q.doc_id, COALESCE(cc.cluster_id, q.doc_id) AS cluster_id,
       |         q.n_ws, q.qp
       |  FROM q LEFT JOIN cc ON cc.doc_id = q.doc_id
       |), best AS (
       |  SELECT cluster_id, doc_id AS rep_doc_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
       |      ORDER BY qp DESC, n_ws DESC, doc_id ASC) AS rn FROM lab) WHERE rn = 1
       |)
       |SELECT l.doc_id, l.cluster_id,
       |       COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
       |       l.doc_id = b.rep_doc_id AS keep
       |FROM lab l JOIN best b ON b.cluster_id = l.cluster_id""".stripMargin) {
    (spark, dir) =>
    import graft.functions.TextAnalysis.{punctRatio, wsTokenCount}
    // cluster labels via the incremental assembly (≡ full CC, oracle
    // unchanged) — survivor selection reads yesterday's labels + delta
    val cc = corpusLabels(spark, dir)
    val nWs = wsTokenCount(col("text"))
    val docs = graft.Tables.documents(spark, dir).select(
      col("doc_id"), nWs.as("n_ws"),
      (nWs >= 5 && punctRatio(col("text")) < 0.2).as("qp"))
    val lab = docs.join(cc, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"),
        col("n_ws"), col("qp"))
    // winner per cluster as ONE aggregate: max of (qp, n_ws, -doc_id)
    // ⇔ (qp DESC, n_ws DESC, doc_id ASC) — no corpus-wide window sort;
    // bounded-heap form (BestAgg r15) so the struct argmax doesn't
    // drag the whole aggregate to a SortAggregate plan
    val best = lab.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        BestAgg.largest1(
          struct(col("qp").cast("int").as("q"), col("n_ws").as("n"),
            negate(col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster_id"), col("cluster_size"),
        negate(col("b.nid")).as("rep_doc_id"))
    lab.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("rep_doc_id")).as("keep"))
  }

  /** Triangle counting over the co-purchase graph (parts sharing ≥2
    * orders) — the graph-analytics kernel one step past connected
    * components: triangle density drives clustering coefficient,
    * community strength, and spam detection in recommendation graphs.
    *
    * The scale device is DEGREE-ORDERED ORIENTATION (Chiba–Nishizeki;
    * Schank–Wagner's node-iterator++, and what GraphX/Giraph implement):
    * orient every undirected edge from its lower-(degree, id) endpoint
    * to the higher, so each triangle is generated EXACTLY ONCE — by its
    * minimum-degree corner — and a hub of degree d generates wedges
    * from its (short) out-list, never its full d² neighbor pairs: total
    * wedge work is O(m^1.5) instead of Σd². The wedge set then
    * semi-joins the oriented edge list. The oracle counts the same
    * triangles via id-ordered 3-way self-join — orientation changes the
    * generation order, never the count.
    *
    * Pair generation never self-joins the fact table: per-order part
    * sets aggregate once (baskets are small), pairs explode map-locally
    * from each sorted basket, and the (a, b) count is map-combinable. */
  val triangleCount: Op = Op(
    "q_triangle_count",
    """WITH p AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), e AS (
      |  SELECT a.l_partkey AS a, b.l_partkey AS b
      |  FROM p a JOIN p b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |), t AS (
      |  SELECT COUNT(*) AS c FROM e e1
      |  JOIN e e2 ON e2.a = e1.a AND e1.b < e2.b
      |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
      |)
      |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
      |       CAST(t.c AS BIGINT) AS n_triangles
      |FROM t""".stripMargin) { (spark, dir) =>
    val edges = copurchaseEdges(spark, dir)
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    trianglesOf(edges)
      .agg(count(lit(1)).as("n_triangles"))
      .crossJoin(nEdges)
      .select(col("n_edges"), col("n_triangles"))
  }

  /** The co-purchase edge frame shared by [[triangleCount]] and
    * [[pagerank]]: undirected (a, b), a < b, parts co-occurring in ≥ 2
    * orders. Pair generation never self-joins the fact table: per-order
    * part sets aggregate once (baskets are small; no pre-`distinct` —
    * collect_set dedupes with map-side partials, a distinct would add a
    * second full Exchange), pairs explode map-locally from each sorted
    * basket, and the (a, b) count is map-combinable. The frame is
    * localCheckpointed: it feeds several consumers in each caller and
    * each lazy reference would re-run the basket → pair-explode → count
    * pipeline (measured: 27 Exchanges in triangleCount's uncheckpointed
    * plan). */
  /** k-core peel depth and threshold. 3 rounds of k=3 peeling — the
    * same bounded-iteration contract as [[communities]]/[[pagerank]]
    * (a fixed unrollable round count keeps the DuckDB oracle exact);
    * [[GraphOpsSpec]] checks the corpus actually CONVERGES within the
    * budget, so the bound is not silently truncating the fixpoint. */
  val KcoreK = 3
  val KcoreRounds = 3

  /** k-core decomposition (bounded peel) — the graph-trio's density
    * filter: iteratively drop nodes with degree < k, keeping only the
    * subgraph where every survivor has ≥ k surviving neighbors (the
    * dense backbone used to focus expensive analytics — triangle /
    * community work — on the part of the graph that can have
    * structure). Per round: ONE map-combinable degree aggregate over
    * the current edge set + two semi-joins filtering edges to
    * surviving endpoints; iterates stay lazy ([[pagerank]]'s device),
    * the static start is the localCheckpointed co-purchase edge list.
    * Output: surviving nodes with their degree inside the peeled
    * subgraph. */
  val kcore: Op = Op(
    "q_kcore",
    s"""WITH p AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), e0 AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM p a JOIN p b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |), ed0 AS (
       |  SELECT a AS src, b AS dst FROM e0
       |  UNION ALL SELECT b, a FROM e0
       |), a1 AS (
       |  SELECT src FROM ed0 GROUP BY src HAVING COUNT(*) >= $KcoreK
       |), ed1 AS (
       |  SELECT src, dst FROM ed0
       |  WHERE src IN (SELECT src FROM a1) AND dst IN (SELECT src FROM a1)
       |), a2 AS (
       |  SELECT src FROM ed1 GROUP BY src HAVING COUNT(*) >= $KcoreK
       |), ed2 AS (
       |  SELECT src, dst FROM ed1
       |  WHERE src IN (SELECT src FROM a2) AND dst IN (SELECT src FROM a2)
       |), a3 AS (
       |  SELECT src FROM ed2 GROUP BY src HAVING COUNT(*) >= $KcoreK
       |), ed3 AS (
       |  SELECT src, dst FROM ed2
       |  WHERE src IN (SELECT src FROM a3) AND dst IN (SELECT src FROM a3)
       |)
       |SELECT src AS node, COUNT(*) AS deg FROM ed3 GROUP BY 1""".stripMargin) {
    (spark, dir) =>
    val und = copurchaseEdges(spark, dir)
    kcoreOf(und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst"))),
      KcoreK, KcoreRounds)
  }

  /** One peel round: keep edges whose BOTH endpoints currently hold
    * degree ≥ k (one map-combinable degree aggregate + two semi-joins). */
  private def kcorePeel(ed: DataFrame, k: Int): DataFrame = {
    val alive = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("src"))
    ed.join(alive, Seq("src"), "left_semi")
      .join(alive.select(col("src").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /** The budget-round peeled edge frame, checkpointed per round (r14):
    * the lazy chain referenced each round's frame THREE times (degree
    * aggregate + two semi-joins), so the 3-round plan held 3³ copies of
    * the base subtree — 498 Exchange nodes, ~900 operators, and the
    * driver paid seconds of analysis/codegen per run even though
    * runtime exchange reuse deduplicated the execution. One
    * localCheckpoint per round keeps the plan LINEAR in rounds;
    * superseded snapshots release eagerly ([[connectedComponents]]'
    * discipline), the returned budget frame stays live for its
    * consumers. */
  private def kcorePeeledEdges(
      edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var ed = edges
    var prev: Option[DataFrame] = None
    for (_ <- 1 to rounds) {
      val next = kcorePeel(ed, k).localCheckpoint()
      prev.foreach(SessionCache.releaseFrame)
      prev = Some(next)
      ed = next
    }
    ed
  }

  /** [[kcore]] kernel over a SYMMETRIC (src, dst) edge frame. */
  def kcoreOf(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    kcorePeeledEdges(edges, k, rounds)
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))

  /** CONVERGENCE TELEMETRY kernel of the bounded peel (r12 verdict #2):
    * alive-node counts at the round budget and after ONE extra round.
    * `removed_next = 0` iff the peel reached its fixpoint inside the
    * budget — a larger-diameter graph that would silently truncate
    * under the fixed budget instead publishes a nonzero removal count
    * here (the `q_imi_recall` device applied to the graph family).
    * Cost: one extra peel round over the already-peeled (small) edge
    * frame; the budget-round frame is localCheckpointed because both
    * counts and the extra round read it. */
  def kcoreConvergence(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val edB = kcorePeeledEdges(edges, k, rounds) // checkpointed per round
    val edN = kcorePeel(edB, k)
    val aliveB = edB.select(col("src")).distinct()
      .agg(count(lit(1)).as("alive_at_budget"))
    val aliveN = edN.select(col("src")).distinct()
      .agg(count(lit(1)).as("alive_next"))
    // two 1-row scalar aggregates — bounded metadata crossJoin
    aliveB.crossJoin(aliveN).select(
      col("alive_at_budget"), col("alive_next"),
      (col("alive_at_budget") - col("alive_next")).as("removed_next"))
  }

  /** Registered convergence telemetry for [[kcore]] — the alarm that
    * makes a truncated fixpoint LOUD (r12 verdict #2: the spec proves
    * convergence on the gate corpus only; a 100× graph with larger
    * peel depth would silently stop early). The oracle replays the
    * same law (unrolls the extra round in SQL), so the row is green
    * on any corpus while `removed_next` publishes whether the budget
    * sufficed; a monitoring pipeline thresholds on it. */
  val kcoreConverged: Op = Op(
    "q_kcore_converged",
    s"""WITH p AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), e0 AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM p a JOIN p b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |), ed0 AS (
       |  SELECT a AS src, b AS dst FROM e0
       |  UNION ALL SELECT b, a FROM e0
       |), a1 AS (
       |  SELECT src FROM ed0 GROUP BY src HAVING COUNT(*) >= $KcoreK
       |), ed1 AS (
       |  SELECT src, dst FROM ed0
       |  WHERE src IN (SELECT src FROM a1) AND dst IN (SELECT src FROM a1)
       |), a2 AS (
       |  SELECT src FROM ed1 GROUP BY src HAVING COUNT(*) >= $KcoreK
       |), ed2 AS (
       |  SELECT src, dst FROM ed1
       |  WHERE src IN (SELECT src FROM a2) AND dst IN (SELECT src FROM a2)
       |), a3 AS (
       |  SELECT src FROM ed2 GROUP BY src HAVING COUNT(*) >= $KcoreK
       |), ed3 AS (
       |  SELECT src, dst FROM ed2
       |  WHERE src IN (SELECT src FROM a3) AND dst IN (SELECT src FROM a3)
       |), a4 AS (
       |  SELECT src FROM ed3 GROUP BY src HAVING COUNT(*) >= $KcoreK
       |), ed4 AS (
       |  SELECT src, dst FROM ed3
       |  WHERE src IN (SELECT src FROM a4) AND dst IN (SELECT src FROM a4)
       |)
       |SELECT (SELECT COUNT(DISTINCT src) FROM ed3) AS alive_at_budget,
       |       (SELECT COUNT(DISTINCT src) FROM ed4) AS alive_next,
       |       (SELECT COUNT(DISTINCT src) FROM ed3)
       |         - (SELECT COUNT(DISTINCT src) FROM ed4) AS removed_next""".stripMargin) {
    (spark, dir) =>
    val und = copurchaseEdges(spark, dir)
    kcoreConvergence(und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst"))),
      KcoreK, KcoreRounds)
  }

  /** Session cache of the co-purchase edge list per corpus dir: four
    * registered ops (triangles, PageRank, LPA communities, k-core) all
    * start from this frame, and the basket → pair-explode → count
    * pipeline behind it is each op's single fact-table-scaled stage —
    * building it once per session is the same index split the dedup
    * family's [[Dedup.minhashIndex]] makes. Construction is
    * deterministic, so cached and fresh frames are row-identical and
    * oracles are unaffected. Keyed by session identity so a replaced
    * session rebuilds instead of touching dead checkpoints. */
  private[graft] val copurchaseCache = new SessionCache.Cache[DataFrame]

  private[graft] def copurchaseEdges(
      spark: SparkSession, dir: String): DataFrame =
    copurchaseCache.getOrBuild(spark, dir, "lineitem.parquet") {
      val store = PersistedStore.ensure(spark, dir, "lineitem.parquet",
        "copurchase_edges", "v1") { root =>
        copurchasePlan(spark, dir)
          .write.mode("overwrite").parquet(s"$root/edges")
      }
      graft.Tables.parquet(spark, s"$store/edges")
    }

  /** Fresh (un-persisted) construction — the parity reference. */
  private[graft] def buildCopurchaseEdges(
      spark: SparkSession, dir: String): DataFrame =
    copurchasePlan(spark, dir).localCheckpoint()

  private def copurchasePlan(spark: SparkSession, dir: String): DataFrame = {
    val baskets = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    val pairCol = flatten(transform(col("ps"), (x, i) =>
      transform(slice(col("ps"), i + 2, size(col("ps"))),
        y => struct(x.as("a"), y.as("b")))))
    baskets
      .select(explode(pairCol).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("a"), col("b"))
  }

  /** PageRank fixed-point scale: ranks live in units of 10⁻¹² (S
    * divisible by 20, so the base term (1−d)·S = 3S/20 is exact). */
  val PagerankScale = 1000000000000L
  /** Damping d = 17/20 (0.85, the Brin–Page constant, as an exact
    * rational so the contract stays in integer arithmetic). */
  val PagerankIters = 3

  /** PageRank over the co-purchase graph — the influence ranking
    * completing the graph-analytics trio (connected components,
    * triangles, PageRank). Undirected edges walk both ways.
    *
    * The CONTRACT is an integer fixed-point iteration, not the real-
    * valued recurrence: with rank units of 1/[[PagerankScale]],
    *   r₀(v) = S,
    *   rₖ₊₁(v) = 3S/20 + (17 · Σ_{u→v} (rₖ(u) div outdeg(u))) div 20,
    * every division a floor on non-negative longs. Floors make each
    * iterate EXACTLY representable, so Spark and DuckDB produce
    * hash-identical BIGINTs — the same portability device as the
    * integer ANN kernels (float PageRank sums are shuffle-order-
    * dependent and could never hash-match an oracle). Three iterations
    * pin the shape; the error vs the converged real ranking is the
    * usual power-iteration tail, irrelevant to the contract.
    *
    * Scale shape: the classic Pregel loop — per-iteration cost is one
    * edge⋈rank hash join (shuffle on src) + one dst-keyed partial-
    * combined aggregate; the (src, dst, outdeg) frame is built once and
    * localCheckpointed. The iterates themselves stay LAZY: each feeds
    * exactly one consumer (the next iteration), so at a small fixed k
    * the whole 3-deep DAG executes once and per-iterate checkpoints
    * would be pure materialization overhead — the opposite trade from
    * [[connectedComponents]], whose unbounded rounds must checkpoint to
    * stop lineage growth; a convergence-loop PageRank (large k) flips
    * back to that cadence. At 100 TB both sides pre-partition on node
    * id once and every iteration reuses that partitioning; dangling
    * nodes cannot exist (bidirectional edges ⇒ in-degree = out-degree
    * ≥ 1 for every node in the frame). */
  val pagerank: Op = Op(
    "q_pagerank",
    s"""WITH p AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), e0 AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM p a JOIN p b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |), ed AS (
       |  SELECT a AS src, b AS dst FROM e0
       |  UNION ALL SELECT b, a FROM e0
       |), deg AS (
       |  SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY 1
       |), r0 AS (
       |  SELECT src AS node, CAST($PagerankScale AS BIGINT) AS r FROM deg
       |), r1 AS (
       |  SELECT ed.dst AS node,
       |         ${3 * PagerankScale / 20} + (17 * SUM(r0.r // deg.outdeg)) // 20 AS r
       |  FROM ed JOIN r0 ON r0.node = ed.src JOIN deg ON deg.src = ed.src
       |  GROUP BY 1
       |), r2 AS (
       |  SELECT ed.dst AS node,
       |         ${3 * PagerankScale / 20} + (17 * SUM(r1.r // deg.outdeg)) // 20 AS r
       |  FROM ed JOIN r1 ON r1.node = ed.src JOIN deg ON deg.src = ed.src
       |  GROUP BY 1
       |), r3 AS (
       |  SELECT ed.dst AS node,
       |         ${3 * PagerankScale / 20} + (17 * SUM(r2.r // deg.outdeg)) // 20 AS r
       |  FROM ed JOIN r2 ON r2.node = ed.src JOIN deg ON deg.src = ed.src
       |  GROUP BY 1
       |)
       |SELECT node, CAST(r AS BIGINT) AS rank FROM r3""".stripMargin) {
    (spark, dir) =>
    val (withDeg, r0) = pagerankStaticCached(spark, dir)
    var r = r0
    for (_ <- 1 to PagerankIters) r = pagerankRound(withDeg, r)
    r.select(col("node"), col("r").as("rank"))
  }

  /** The static side of every PageRank iteration: the
    * localCheckpointed (src, dst, outdeg) frame and the uniform r₀. */
  private def pagerankStatic(und: DataFrame): (DataFrame, DataFrame) = {
    val ed = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // (src, dst, outdeg) built once, hash-clustered on src so every
    // iteration's edge⋈rank join reuses the materialized partitioning
    // (only the rank table shuffles per round — guide §2.4)
    val withDeg = ed.join(deg, Seq("src")).repartition(col("src"))
      .localCheckpoint()
    val r0 = deg.select(col("src").as("node"), lit(PagerankScale).as("r"))
      .localCheckpoint()
    (withDeg, r0)
  }

  private val pagerankStaticCache = new SessionCache.Cache[(DataFrame, DataFrame)]

  /** [[pagerankStatic]] over the registered co-purchase graph,
    * session-cached (r15): the (src, dst, outdeg) frame and r₀ are the
    * static side of every iteration and are shared by TWO registered
    * consumers (`q_pagerank`, `q_pagerank_residual`) — each was
    * re-deriving the doubled-edge + degree join per run. Same
    * multi-consumer-INTERMEDIATE-index contract as every cache in this
    * stack (the iterates themselves are never cached — both consumers
    * run their own power iterations per run); staleness follows the
    * lineitem listing signature. */
  private[graft] def pagerankStaticCached(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    pagerankStaticCache.getOrBuild(spark, dir, "lineitem.parquet")(
      pagerankStatic(copurchaseEdges(spark, dir)))

  /** One integer power-iteration round (the exact contract of
    * [[pagerank]]'s recurrence, floors everywhere). */
  private def pagerankRound(withDeg: DataFrame, r: DataFrame): DataFrame =
    withDeg.join(r, withDeg("src") === r("node"))
      .select(col("dst"), expr("r div outdeg").as("c"))
      .groupBy(col("dst"))
      .agg(sum(col("c")).as("s"))
      .select(col("dst").as("node"),
        (lit(3 * PagerankScale / 20) + expr("(17 * s) div 20")).as("r"))

  /** CONVERGENCE TELEMETRY kernel for [[pagerank]] (r12 verdict #2):
    * the L1 and max residual between the budget iterate and ONE more
    * round, in integer rank units — the standard power-iteration
    * stopping signal. A graph whose ranking is still moving at the
    * fixed budget publishes a large residual instead of silently
    * shipping an unconverged ranking; the residual contracts by ~the
    * damping factor per round, so thresholds are portable. */
  def pagerankResidualOf(und: DataFrame, iters: Int): DataFrame =
    pagerankResidualFrom(pagerankStatic(und), iters)

  /** [[pagerankResidualOf]] over a PREPARED (withDeg, r0) static pair —
    * the registered op passes the session-cached
    * [[pagerankStaticCached]]. */
  private[graft] def pagerankResidualFrom(
      static: (DataFrame, DataFrame), iters: Int): DataFrame = {
    val (withDeg, r0) = static
    var r = r0
    for (_ <- 1 to iters) r = pagerankRound(withDeg, r)
    val rB = r.localCheckpoint()
    val rN = pagerankRound(withDeg, rB).withColumnRenamed("r", "r_next")
    rB.join(rN, Seq("node"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(abs(col("r_next") - col("r"))).as("residual_l1"),
        max(abs(col("r_next") - col("r"))).as("residual_max"))
  }

  /** Registered residual telemetry for [[pagerank]] — integer-exact
    * like the op itself, so the oracle's unrolled extra round hash-
    * matches bit for bit. */
  val pagerankResidual: Op = Op(
    "q_pagerank_residual",
    s"""WITH p AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), e0 AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM p a JOIN p b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |), ed AS (
       |  SELECT a AS src, b AS dst FROM e0
       |  UNION ALL SELECT b, a FROM e0
       |), deg AS (
       |  SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY 1
       |), r0 AS (
       |  SELECT src AS node, CAST($PagerankScale AS BIGINT) AS r FROM deg
       |), r1 AS (
       |  SELECT ed.dst AS node,
       |         ${3 * PagerankScale / 20} + (17 * SUM(r0.r // deg.outdeg)) // 20 AS r
       |  FROM ed JOIN r0 ON r0.node = ed.src JOIN deg ON deg.src = ed.src
       |  GROUP BY 1
       |), r2 AS (
       |  SELECT ed.dst AS node,
       |         ${3 * PagerankScale / 20} + (17 * SUM(r1.r // deg.outdeg)) // 20 AS r
       |  FROM ed JOIN r1 ON r1.node = ed.src JOIN deg ON deg.src = ed.src
       |  GROUP BY 1
       |), r3 AS (
       |  SELECT ed.dst AS node,
       |         ${3 * PagerankScale / 20} + (17 * SUM(r2.r // deg.outdeg)) // 20 AS r
       |  FROM ed JOIN r2 ON r2.node = ed.src JOIN deg ON deg.src = ed.src
       |  GROUP BY 1
       |), r4 AS (
       |  SELECT ed.dst AS node,
       |         ${3 * PagerankScale / 20} + (17 * SUM(r3.r // deg.outdeg)) // 20 AS r
       |  FROM ed JOIN r3 ON r3.node = ed.src JOIN deg ON deg.src = ed.src
       |  GROUP BY 1
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |       CAST(SUM(ABS(r4.r - r3.r)) AS BIGINT) AS residual_l1,
       |       CAST(MAX(ABS(r4.r - r3.r)) AS BIGINT) AS residual_max
       |FROM r3 JOIN r4 ON r3.node = r4.node""".stripMargin) {
    (spark, dir) =>
    pagerankResidualFrom(pagerankStaticCached(spark, dir), PagerankIters)
  }

  /** Label-propagation rounds for [[communities]]: few and fixed, the
    * same pinned-shape device as [[PagerankIters]]. */
  val LpaIters = 3

  /** Label-propagation community detection over the co-purchase graph —
    * the fourth classic next to components, triangles and PageRank.
    * Communities differ from connected components: LPA converges to
    * DENSE neighborhoods (a bridge edge doesn't merge two tight
    * clusters the way CC's min-label flood does).
    *
    * Contract (deterministic synchronous LPA): label₀(v) = v; each
    * round every node adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — a total order, so
    * no RNG anywhere (classic async LPA breaks ties randomly; the
    * deterministic form is what can hash-match an oracle).
    * [[LpaIters]] fixed rounds pin the shape.
    *
    * Scale shape: per round one edge⋈label hash join (shuffle on src)
    * + TWO partial-combined aggregates — (dst, lbl) counts, then the
    * per-dst argmax via min(struct(-count, label)) — each map-side
    * combinable, nothing corpus-wide; the edge frame builds once.
    * Like PageRank the iterates stay lazy (fixed small round count,
    * one consumer each); an until-convergence variant flips to the
    * per-round localCheckpoint cadence of [[connectedComponents]]. At
    * 100 TB both sides pre-partition on node id once. */
  val communities: Op = Op(
    "q_communities",
    s"""WITH p AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), e0 AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM p a JOIN p b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |), ed AS (
       |  SELECT a AS src, b AS dst FROM e0
       |  UNION ALL SELECT b, a FROM e0
       |), l0 AS (
       |  SELECT DISTINCT src AS node, src AS lbl FROM ed
       |), l1 AS (
       |  SELECT dst AS node, lbl FROM (
       |    SELECT ed.dst, l0.lbl, COUNT(*) AS c,
       |           ROW_NUMBER() OVER (PARTITION BY ed.dst
       |             ORDER BY COUNT(*) DESC, l0.lbl) AS rn
       |    FROM ed JOIN l0 ON l0.node = ed.src
       |    GROUP BY ed.dst, l0.lbl) WHERE rn = 1
       |), l2 AS (
       |  SELECT dst AS node, lbl FROM (
       |    SELECT ed.dst, l1.lbl, COUNT(*) AS c,
       |           ROW_NUMBER() OVER (PARTITION BY ed.dst
       |             ORDER BY COUNT(*) DESC, l1.lbl) AS rn
       |    FROM ed JOIN l1 ON l1.node = ed.src
       |    GROUP BY ed.dst, l1.lbl) WHERE rn = 1
       |), l3 AS (
       |  SELECT dst AS node, lbl FROM (
       |    SELECT ed.dst, l2.lbl, COUNT(*) AS c,
       |           ROW_NUMBER() OVER (PARTITION BY ed.dst
       |             ORDER BY COUNT(*) DESC, l2.lbl) AS rn
       |    FROM ed JOIN l2 ON l2.node = ed.src
       |    GROUP BY ed.dst, l2.lbl) WHERE rn = 1
       |)
       |SELECT node, lbl AS community FROM l3""".stripMargin) {
    (spark, dir) =>
    lpaOfEd(lpaEdgesCached(spark, dir), LpaIters)
  }

  private val lpaEdgeCache = new SessionCache.Cache[DataFrame]

  /** The doubled (src, dst) co-purchase edge frame LPA iterates over —
    * session-cached (r15): `q_communities` and `q_lpa_converged` each
    * re-doubled + re-checkpointed it per run. Hash-clustered on src so
    * every LPA round's edge⋈label join reuses the materialized
    * partitioning (only the label table shuffles per round). */
  private[graft] def lpaEdgesCached(
      spark: SparkSession, dir: String): DataFrame =
    lpaEdgeCache.getOrBuild(spark, dir, "lineitem.parquet") {
      val und = copurchaseEdges(spark, dir)
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("src"))
        .localCheckpoint()
    }

  /** Synchronous deterministic LPA over an undirected edge frame
    * (a, b): labels start as node ids, each round every node adopts
    * its neighbors' mode label (ties → smallest). Exposed for crafted-
    * graph specs; the registered op runs it on the co-purchase frame. */
  /** One synchronous LPA round: every node adopts its neighbors' mode
    * label, ties broken by the smallest label (min over
    * struct(-count, label) — a total order, no RNG). */
  private def lpaRound(ed: DataFrame, l: DataFrame): DataFrame =
    ed.join(l, ed("src") === l("node"))
      .groupBy(col("dst"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("dst"))
      // bounded-heap argmax (BestAgg r15): largest (c, −lbl) ≡ the
      // mode with smallest-label tiebreak the min(struct) computed —
      // without the SortAggregate plan the struct buffer forced
      .agg(BestAgg.largest1(
        struct(col("c"), (-col("lbl")).as("nlbl"))).as("b"))
      .select(col("dst").as("node"), (-col("b.nlbl")).as("lbl"))

  def lpaOf(und: DataFrame, iters: Int): DataFrame =
    lpaOfEd(
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint(),
      iters)

  /** [[lpaOf]] over a PREPARED doubled (src, dst) edge frame — the
    * registered ops pass the session-cached [[lpaEdgesCached]]. */
  private[graft] def lpaOfEd(ed: DataFrame, iters: Int): DataFrame = {
    var l = ed.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to iters) l = lpaRound(ed, l)
    l.select(col("node"), col("lbl").as("community"))
  }

  /** CONVERGENCE TELEMETRY kernel for [[communities]] (r12 verdict
    * #2): label-change count between the budget round and ONE extra
    * round. `changed_next = 0` iff synchronous LPA reached a fixpoint
    * inside [[LpaIters]]; a graph still propagating (or 2-cycling —
    * synchronous LPA's known oscillation mode) publishes a nonzero
    * count instead of silently shipping half-converged communities. */
  def lpaConvergence(und: DataFrame, iters: Int): DataFrame =
    lpaConvergenceEd(
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint(),
      iters)

  /** [[lpaConvergence]] over a PREPARED doubled edge frame. */
  private[graft] def lpaConvergenceEd(ed: DataFrame, iters: Int): DataFrame = {
    var l = ed.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to iters) l = lpaRound(ed, l)
    val lB = l.localCheckpoint()
    val lN = lpaRound(ed, lB).withColumnRenamed("lbl", "lbl_next")
    lB.join(lN, Seq("node"))
      .agg(count(lit(1)).as("n_nodes"),
        count(when(col("lbl") =!= col("lbl_next"), 1)).as("changed_next"))
  }

  /** Registered convergence telemetry for [[communities]] — same
    * alarm shape as [[kcoreConverged]]: oracle replays the extra
    * round, the published `changed_next` is what a deployment
    * thresholds on before trusting the community table. */
  val lpaConverged: Op = Op(
    "q_lpa_converged",
    s"""WITH p AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), e0 AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM p a JOIN p b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |), ed AS (
       |  SELECT a AS src, b AS dst FROM e0
       |  UNION ALL SELECT b, a FROM e0
       |), l0 AS (
       |  SELECT DISTINCT src AS node, src AS lbl FROM ed
       |), l1 AS (
       |  SELECT dst AS node, lbl FROM (
       |    SELECT ed.dst, l0.lbl, COUNT(*) AS c,
       |           ROW_NUMBER() OVER (PARTITION BY ed.dst
       |             ORDER BY COUNT(*) DESC, l0.lbl) AS rn
       |    FROM ed JOIN l0 ON l0.node = ed.src
       |    GROUP BY ed.dst, l0.lbl) WHERE rn = 1
       |), l2 AS (
       |  SELECT dst AS node, lbl FROM (
       |    SELECT ed.dst, l1.lbl, COUNT(*) AS c,
       |           ROW_NUMBER() OVER (PARTITION BY ed.dst
       |             ORDER BY COUNT(*) DESC, l1.lbl) AS rn
       |    FROM ed JOIN l1 ON l1.node = ed.src
       |    GROUP BY ed.dst, l1.lbl) WHERE rn = 1
       |), l3 AS (
       |  SELECT dst AS node, lbl FROM (
       |    SELECT ed.dst, l2.lbl, COUNT(*) AS c,
       |           ROW_NUMBER() OVER (PARTITION BY ed.dst
       |             ORDER BY COUNT(*) DESC, l2.lbl) AS rn
       |    FROM ed JOIN l2 ON l2.node = ed.src
       |    GROUP BY ed.dst, l2.lbl) WHERE rn = 1
       |), l4 AS (
       |  SELECT dst AS node, lbl FROM (
       |    SELECT ed.dst, l3.lbl, COUNT(*) AS c,
       |           ROW_NUMBER() OVER (PARTITION BY ed.dst
       |             ORDER BY COUNT(*) DESC, l3.lbl) AS rn
       |    FROM ed JOIN l3 ON l3.node = ed.src
       |    GROUP BY ed.dst, l3.lbl) WHERE rn = 1
       |)
       |SELECT (SELECT COUNT(*) FROM l3) AS n_nodes,
       |       (SELECT COUNT(*) FROM l3 JOIN l4
       |          ON l3.node = l4.node AND l3.lbl <> l4.lbl) AS changed_next""".stripMargin) {
    (spark, dir) =>
    lpaConvergenceEd(lpaEdgesCached(spark, dir), LpaIters)
  }

  /** One row per triangle of the undirected edge frame (a, b) — corners
    * keyed by the degree-orientation total order.
    *
    * The input needs NO canonical form: duplicate edges, both
    * orientations of the same undirected edge, and self-loops are all
    * normalized away before counting (see the canon step below), so
    * the count is correct over raw pair dumps, not just deduped ones.
    *
    * Lineage note: the oriented frame is `localCheckpoint`ed (it feeds
    * wedge generation AND the closing semi-join) and, in the registered
    * op, so is the edge frame. These blocks stay pinned until the frames
    * are GC'd — a deliberate trade for a returned-lazily result (no
    * release point exists before the caller consumes it); the frames are
    * edge-list-sized, far below the corpus. A long-lived 100 TB
    * deployment swaps in reliable `checkpoint` with directory cleanup,
    * the same config-not-shape switch documented on the object. */
  def trianglesOf(edges: DataFrame): DataFrame = {
    // Normalize first: the helper is generic over ANY edge frame, so it
    // cannot assume each undirected edge appears exactly once in one
    // orientation. Duplicates or both orientations would inflate
    // degrees and duplicate wedges (miscount); self-loops would close
    // degenerate "triangles". least/greatest + distinct is one
    // edge-list-sized shuffle — noise next to wedge generation — and
    // makes the count correct for raw inputs. Callers that already
    // canonicalized (like the registered op) pay an AQE-small dedup of
    // an already-distinct frame.
    val canon = edges
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    // total order: (degree, id) compared LEXICOGRAPHICALLY — never
    // packed into one integer, which would collide for ids ≥ 2³² (this
    // helper is generic over any edge frame, e.g. 64-bit hashed doc
    // ids) and silently break orientation antisymmetry ⇒ lost or
    // double-counted triangles
    val deg = canon.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val keyed = canon
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    def ordKey(d: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      struct(d.as("d"), n.as("n"))
    val aLower = ordKey(col("da"), col("a")) < ordKey(col("db"), col("b"))
    // referenced twice (wedge generation + the closing semi-join);
    // kdst = the (degree, id) order key of the edge's upper endpoint
    val oriented = keyed.select(
      when(aLower, col("a")).otherwise(col("b")).as("src"),
      when(aLower, ordKey(col("db"), col("b")))
        .otherwise(ordKey(col("da"), col("a"))).as("kdst"),
      when(aLower, col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint()
    // wedges from each source's (short, by orientation) out-list
    val wedges = oriented
      .groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("kdst"), col("dst")))).as("out"))
      .select(col("src"), explode(flatten(transform(col("out"), (x, i) =>
        transform(slice(col("out"), i + 2, size(col("out"))),
          y => struct(x.getField("dst").as("b"), y.getField("dst").as("c")))))
        ).as("w"))
      .select(col("src").as("a"), col("w.b").as("b"), col("w.c").as("c"))
    // a wedge closes iff (b -> c) is an oriented edge
    wedges.join(oriented.select(col("src").as("b"), col("dst").as("c")),
      Seq("b", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
  }
}
