package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextAnalysis.{asciiLower, wordShingles}

/** Deduplication family for training-data pipelines (north star):
  * exact, blocked n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - exact dedup = one hash aggregation on the normalized text — the
  *    shuffle key is the content itself, perfectly spread.
  *  - blocked Jaccard = AllPairs prefix filtering — postings linear,
  *    candidates ∝ true near-dups.
  *  - MinHash+LSH: per-doc signature (map-only), explode to (band,
  *    bucket) keys, self-join within buckets, exact-Jaccard verify —
  *    candidate generation is linear in docs + bucket collisions, never
  *    all-pairs. The registered op runs uncapped, which removes the
  *    cap-induced candidate loss — but banding recall stays
  *    probabilistic for mid-J pairs (8 bands × 4 rows can miss
  *    J≈0.5–0.6 pairs with nontrivial probability); the exact-equality
  *    oracle holds on THIS corpus because it has no pairs in (0.2,0.9)
  *    (banded recall measured 1.0 across all SFs — see the op scaladoc).
  *    [[minhashLshCapped]] is the guardrail variant for corpora with
  *    degenerate mass-duplicate keys.
  *  - SimHash: per-doc 64-bit signature (map-only), banded candidate
  *    generation, exact-Jaccard verify; contract scoped to docs within
  *    [[SimhashMinShingles]]..[[SimhashWordCap]] (short docs have
  *    unstable vote margins, longer docs exceed the signature's word
  *    window). The registered default is the HYBRID candidate stage
  *    (4×16 radius-3 banding ∪ MinHash bands — see [[simhash]] for the
  *    measured story); the pure 8×8 radius-7 form survives as
  *    [[simhashRadius7]].
  */
object Dedup {

  /** Exact dedup on normalized text (lower + collapse whitespace). */
  val dedupExact: Op = Op(
    "q_dedup_exact",
    """SELECT regexp_replace(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm,
      |       CAST(min(doc_id) AS BIGINT) AS rep_doc_id,
      |       COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(regexp_replace(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+", " ").as("norm"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))
  }

  /** Fuzzy record linkage: near-identical part names within a brand at
    * edit distance ≤ 2 — the entity-resolution sibling of document
    * dedup (catalog merge, vendor-feed reconciliation). Blocked, never
    * all-pairs: candidates equi-join on brand, and BOTH cheap cuts ride
    * inside the join condition (the simhash fused-cut pattern) — the
    * lossless length band (k edits change length by ≤ k) and Spark's
    * THRESHOLD Levenshtein, a banded O(n·k) DP that bails to -1 the
    * moment the distance provably exceeds k, instead of filling the
    * full O(n·m) matrix per pair. At 100 TB the brand block becomes
    * (brand, length-band) bucketing; the per-pair cost stays O(n·k).
    * Oracle = the plain full-DP SQL formulation — banding changes the
    * cost, provably not the answer. */
  val FuzzyMaxDist = 2

  val fuzzyMatch: Op = Op(
    "q_fuzzy_match",
    s"""SELECT a.p_brand AS brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
       |       levenshtein(a.p_name, b.p_name) AS dist
       |FROM part a JOIN part b
       |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
       |WHERE abs(len(a.p_name) - len(b.p_name)) <= $FuzzyMaxDist
       |  AND levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist""".stripMargin) { (spark, dir) =>
    graft.EngineConf.requireCandidateBudget("q_fuzzy_match", "q_fuzzy_best",
      fuzzyCandidateEstimate(spark, dir),
      graft.EngineConf.candidateBudget(spark))
    fuzzyPairs(spark, dir)
  }

  /** Upper bound on the fused block join's candidate volume, computed
    * from the (brand, name-length) histogram BEFORE any pair is
    * generated (r12 verdict #5): same-length cells contribute C(n,2),
    * cross-length cells inside the lossless ±[[FuzzyMaxDist]] band
    * contribute nᵃ·nᵇ. The histogram is |brands × lengths| rows — a
    * metadata aggregate — so the guard costs one tiny job, never a
    * pair shuffle. NULL brands/names can never match (SQL equi-join
    * semantics), so they leave the histogram. */
  private val fuzzyEstimateCache = new SessionCache.Cache[Long]

  private[graft] def fuzzyCandidateEstimate(
      spark: SparkSession, dir: String): Long =
    // session-cached like the pair index itself: the guard re-checks
    // per call, but the histogram job runs once per (session, corpus)
    fuzzyEstimateCache.getOrBuild(spark, dir, "part.parquet") {
      fuzzyCandidateEstimateFresh(spark, dir)
    }

  private def fuzzyCandidateEstimateFresh(
      spark: SparkSession, dir: String): Long = {
    val h = Tables.part(spark, dir)
      .filter(col("p_brand").isNotNull && col("p_name").isNotNull)
      .groupBy(col("p_brand").as("brand"),
        length(col("p_name")).as("len"))
      .agg(count(lit(1)).as("n"))
    val a = h.select(col("brand"), col("len").as("la"), col("n").as("na"))
    val b = h.select(col("brand"), col("len").as("lb"), col("n").as("nb"))
    val est = a.join(b, Seq("brand"))
      .filter(col("lb") >= col("la") &&
        col("lb") - col("la") <= FuzzyMaxDist)
      .select(when(col("la") === col("lb"),
        expr("na * (na - 1) div 2")) // integer div: Column./ is double
        .otherwise(col("na") * col("nb")).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("s"))
    est.head().getLong(0) // 1-row scalar — bounded metadata collect
  }

  private[graft] val fuzzyPairCache = new SessionCache.Cache[DataFrame]

  /** The verified fuzzy pair graph — (brand, key_a, key_b, dist), the
    * full blocked-DP output — session-cached: [[fuzzyMatch]] emits it
    * and [[entityCluster]] collapses it into entities, and re-running
    * the cut-fused block join for each consumer would pay the corpus'
    * most expensive comparison kernel twice per session (the
    * [[GraphOps.copurchaseEdges]] / [[minhashIndex]] split: pair
    * detection runs ONCE at 100 TB and feeds match, clustering and
    * resolution alike). localCheckpointed; parity with fresh
    * construction is spec-pinned. */
  private[graft] def fuzzyPairs(spark: SparkSession, dir: String): DataFrame =
    fuzzyPairCache.getOrBuild(spark, dir, "part.parquet")(
      fuzzyJoin(spark, dir, withDp = true)
        .select(col("brand"), col("key_a"), col("key_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
        .localCheckpoint())

  /** Candidate pairs of [[fuzzyMatch]] AFTER the cheap lossless cuts
    * (length band + packed bag distance) but BEFORE the banded DP.
    * Exposed so the spec can pin the candidate volume per brand block
    * independently of the verify stage. */
  def fuzzyCandidates(spark: SparkSession, dir: String): DataFrame =
    fuzzyJoin(spark, dir, withDp = false)

  /** Entity resolution capstone — the record-linkage pipeline closed
    * end-to-end, the structured-data twin of `q_cluster_rep`'s
    * text-side resolution: the [[fuzzyMatch]] pair graph (blocked
    * edit-distance matches) collapses into entities via connected
    * components ([[GraphOps.connectedComponents]] — min-label
    * propagation, the same kernel the near-dup clusters ride), every
    * unmatched part stands as its own singleton entity, and the
    * canonical record is the smallest key (the reference resolves
    * variant listings to one canonical product id by exact name only,
    * 01_import_pricecharting_csv.js:129-141 — transitive fuzzy
    * identity is the production generalization). Entity sizes come
    * from a groupBy on the |entities|-row label table joined back —
    * never a window over the full record set. */
  val entityCluster: Op = Op(
    "q_entity_cluster",
    s"""WITH RECURSIVE np AS (
       |  SELECT a.p_partkey AS ka, b.p_partkey AS kb
       |  FROM part a JOIN part b
       |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
       |  WHERE abs(len(a.p_name) - len(b.p_name)) <= $FuzzyMaxDist
       |    AND levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist
       |), edges AS (
       |  SELECT ka AS src, kb AS dst FROM np
       |  UNION ALL SELECT kb, ka FROM np
       |), reach AS (
       |  SELECT src AS node, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
       |), cc AS (
       |  SELECT node, MIN(lbl) AS ent FROM reach GROUP BY node
       |), lab AS (
       |  SELECT p.p_partkey AS key, COALESCE(cc.ent, p.p_partkey) AS entity_id
       |  FROM part p LEFT JOIN cc ON cc.node = p.p_partkey
       |)
       |SELECT key, entity_id,
       |       COUNT(*) OVER (PARTITION BY entity_id) AS entity_size,
       |       key = entity_id AS is_canonical
       |FROM lab""".stripMargin) { (spark, dir) =>
    // the dense pair graph this op clusters is q_fuzzy_match's — the
    // same candidate budget guards it (r12 verdict #5)
    graft.EngineConf.requireCandidateBudget("q_entity_cluster",
      "q_entity_resolve", fuzzyCandidateEstimate(spark, dir),
      graft.EngineConf.candidateBudget(spark))
    // assembled the production way (round-7): yesterday's PERSISTED
    // standing entity labels + the delta fold through the quotient CC —
    // the oracle stays the full-recompute CTE, so green proves the
    // incremental assembly ≡ batch (the q_dedup_incr_cc argument,
    // applied to the fuzzy pair graph). Only the delta-sized quotient
    // iterates per run; the standing CC builds once per corpus and
    // lands at rest via [[fuzzyStandingLabels]].
    val mod = IncrementalDeltaMod
    val all = fuzzyPairs(spark, dir).select(col("key_a"), col("key_b"))
    val isDa = col("key_a") % mod === 0
    val isDb = col("key_b") % mod === 0
    val deltaPairs = all.filter(isDa && isDb)
      .select(col("key_a").as("doc_id_a"), col("key_b").as("doc_id_b"))
    val crossPairs = all.filter(isDa =!= isDb)
      .select(when(isDa, col("key_a")).otherwise(col("key_b")).as("doc_id_a"),
        when(isDa, col("key_b")).otherwise(col("key_a")).as("doc_id_b"))
    val cc = GraphOps.incrementalCcFrom(
        fuzzyStandingLabels(spark, dir), crossPairs, deltaPairs)
      .select(col("doc_id").as("node"), col("cluster_id").as("lbl"))
    val lab = Tables.part(spark, dir).select(col("p_partkey").as("key"))
      .join(cc, col("key") === col("node"), "left")
      .select(col("key"), coalesce(col("lbl"), col("key")).as("entity_id"))
    val sizes = lab.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("entity_size"))
    lab.join(sizes, Seq("entity_id"))
      .select(col("key"), col("entity_id"), col("entity_size"),
        (col("key") === col("entity_id")).as("is_canonical"))
  }

  private[graft] val fuzzyStandingCache = new SessionCache.Cache[DataFrame]

  /** The STANDING parts' (node, lbl) entity table — the fuzzy-graph
    * twin of [[GraphOps.standingLabels]], and PERSISTED at rest
    * ([[PersistedStore]]): in the incremental contract this is
    * yesterday's run's output, read back by every later session; only
    * a changed part corpus rebuilds it. [[entityCluster]] folds each
    * delta into it through the quotient CC. */
  private[graft] def fuzzyStandingLabels(
      spark: SparkSession, dir: String): DataFrame =
    fuzzyStandingCache.getOrBuild(spark, dir, "part.parquet") {
      val store = PersistedStore.ensure(spark, dir, "part.parquet",
        "fuzzy_standing_labels", "v1") { root =>
        val mod = IncrementalDeltaMod
        GraphOps.connectedComponents(
          fuzzyPairs(spark, dir)
            .select(col("key_a"), col("key_b"))
            .filter(col("key_a") % mod =!= 0 && col("key_b") % mod =!= 0),
          "key_a", "key_b")
          .write.mode("overwrite").parquet(s"$root/labels")
      }
      Tables.parquet(spark, s"$store/labels")
    }

  /** Sparse-output sibling of [[fuzzyMatch]] — canonical best-match
    * resolution instead of the full pair set. For each part, its single
    * best match within the brand at edit distance ≤ [[FuzzyMaxDist]]
    * (minimum distance, ties to the smallest part key); parts with no
    * match are absent. Output is ≤ one row per part BY CONSTRUCTION —
    * linear where the pairwise contract's output is measured-quadratic
    * (220k pairs from 20k parts at sf0.1, PERF.md round 4: dense
    * duplicate-name groups make the pair set itself quadratic per
    * block, so no candidate scheme under the pairwise contract can
    * undercut its own output).
    *
    * The sparse contract unlocks a cascade the pairwise one can't use:
    *
    *  1. Exact tier — any part sharing its exact name with another part
    *     in the brand has best_dist = 0 and best_key = the group's
    *     smallest other key: ONE (brand, name)-keyed window pass, no
    *     pair enumeration at all. This tier absorbs exactly the
    *     duplicate-name mass that makes the pairwise output quadratic
    *     (at sf0.1, ALL 20k parts resolve here — measured).
    *  2. Residual tier — only brand-UNIQUE names (544 of 2 000 at
    *     sf0.01, 0 of 20 000 at sf0.1) probe the fused-cut block join
    *     (same cuts as [[fuzzyMatch]]: length band, packed bag bound,
    *     threshold DP), reduced per probe by one min(struct) aggregate —
    *     the clusterRep selection shape, no corpus window sort.
    *
    * The probe population SHRINKS as the corpus grows (name vocabulary
    * saturates), so candidate volume collapses with scale
    * (2 783 → 0 across the sf0.01→sf0.1 step, PERF.md)
    * while the pairwise kernel's grows at its measured 2.02. The exact
    * kernel [[fuzzyMatch]] stays registered as the recall reference. */
  val fuzzyBest: Op = Op(
    "q_fuzzy_best",
    s"""SELECT brand, key, best_key, best_dist FROM (
       |  SELECT a.p_brand AS brand, a.p_partkey AS key,
       |         b.p_partkey AS best_key,
       |         levenshtein(a.p_name, b.p_name) AS best_dist,
       |         row_number() OVER (PARTITION BY a.p_partkey
       |           ORDER BY levenshtein(a.p_name, b.p_name), b.p_partkey) AS rn
       |  FROM part a JOIN part b
       |    ON a.p_brand = b.p_brand AND a.p_partkey <> b.p_partkey
       |  WHERE abs(len(a.p_name) - len(b.p_name)) <= $FuzzyMaxDist
       |    AND levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist
       |) WHERE rn = 1""".stripMargin) { (spark, dir) =>
    fuzzyBestFrame(spark, dir)
  }

  /** [[fuzzyBest]]'s build as a reusable frame — shared with
    * [[entityResolve]], which clusters over these edges. */
  private[graft] def fuzzyBestFrame(
      spark: SparkSession, dir: String): DataFrame = {
    // explicit null gate (adversarial dim 8, r12): the oracle's join +
    // levenshtein SQL semantics silently exclude NULL names/brands
    // (NULL = NULL is not a match, levenshtein(NULL, x) <= k is never
    // true), but the exact tier's WINDOW PARTITION treats NULLs as
    // EQUAL — without this filter a pair of null-name parts "exactly
    // matched" at dist 0 and leaked phantom entities downstream
    // (q_entity_resolve). A record with no name has nothing to match.
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand").isNotNull && col("p_name").isNotNull)
      .select(col("p_brand").as("brand"),
        col("p_partkey").as("key"), col("p_name").as("name"))
    // exact tier: two window passes on ONE (brand, name) shuffle — the
    // second min must see the first (m2 = smallest key ≠ m1), hence the
    // two selects over the same window partitioning
    val w = Window.partitionBy(col("brand"), col("name"))
    val g1 = parts
      .withColumn("grp_n", count(lit(1)).over(w))
      .withColumn("m1", min(col("key")).over(w))
    val gs = g1.withColumn("m2",
      min(when(col("key") =!= col("m1"), col("key"))).over(w))
    val exactBest = gs.filter(col("grp_n") >= 2)
      .select(col("brand"), col("key"),
        when(col("key") === col("m1"), col("m2")).otherwise(col("m1"))
          .as("best_key"),
        lit(0).as("best_dist"))
    // residual tier: brand-unique names probe the fused-cut block join
    val uniq = gs.filter(col("grp_n") === 1)
      .select(col("brand"), col("key"), col("name"))
    val nearBest = fuzzyBlockJoin(uniq, parts,
        (a, b) => a =!= b, withDp = true)
      .select(col("brand"), col("key_a").as("key"), col("key_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"))
      .groupBy(col("brand"), col("key"))
      // bounded-heap argmin via sign-flipped argmax (BestAgg r15):
      // largest (−dist, −key_b) ≡ smallest (dist, key_b)
      .agg(BestAgg.largest1(
        struct((-col("dist")).as("nd"), (-col("key_b")).as("nk"))).as("best"))
      .select(col("brand"), col("key"),
        (-col("best.nk")).as("best_key"), (-col("best.nd")).as("best_dist"))
    exactBest.unionByName(nearBest)
  }

  /** Entity resolution on the SPARSE best-match graph — the
    * [[Similarity.embedNearDupAnn]] move applied to record linkage:
    * [[entityCluster]]'s contract rides the dense pair graph, whose
    * edge volume is the adjudicated quadratic (duplicate-name groups
    * make the pair SET itself quadratic per block); this sibling
    * clusters over [[fuzzyBest]]'s best-match edges instead — ≤ ONE
    * edge per part BY CONSTRUCTION, so graph size, CC work and output
    * are all linear in the corpus. Transitivity still merges chains
    * (A→B best, C→B best puts A, B, C in one entity even though (A, C)
    * was never compared), which is exactly the entity semantics a
    * resolution pipeline wants from a sparse match set; the dense op
    * stays registered as the recall reference. Same output shape as
    * [[entityCluster]]: every part labeled, singletons preserved,
    * canonical = smallest key, sizes from a |entities|-row aggregate
    * joined back — never a corpus window. */
  val entityResolve: Op = Op(
    "q_entity_resolve",
    s"""WITH RECURSIVE best AS (
       |  SELECT key, best_key FROM (
       |    SELECT a.p_partkey AS key, b.p_partkey AS best_key,
       |           row_number() OVER (PARTITION BY a.p_partkey
       |             ORDER BY levenshtein(a.p_name, b.p_name), b.p_partkey) AS rn
       |    FROM part a JOIN part b
       |      ON a.p_brand = b.p_brand AND a.p_partkey <> b.p_partkey
       |    WHERE abs(len(a.p_name) - len(b.p_name)) <= $FuzzyMaxDist
       |      AND levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist
       |  ) WHERE rn = 1
       |), edges AS (
       |  SELECT key AS src, best_key AS dst FROM best
       |  UNION ALL SELECT best_key, key FROM best
       |), reach AS (
       |  SELECT src AS node, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
       |), cc AS (
       |  SELECT node, MIN(lbl) AS ent FROM reach GROUP BY node
       |), lab AS (
       |  SELECT p.p_partkey AS key, COALESCE(cc.ent, p.p_partkey) AS entity_id
       |  FROM part p LEFT JOIN cc ON cc.node = p.p_partkey
       |)
       |SELECT key, entity_id,
       |       COUNT(*) OVER (PARTITION BY entity_id) AS entity_size,
       |       key = entity_id AS is_canonical
       |FROM lab""".stripMargin) { (spark, dir) =>
    val cc = sparseEntityLabels(spark, dir)
    val lab = Tables.part(spark, dir).select(col("p_partkey").as("key"))
      .join(cc, col("key") === col("node"), "left")
      .select(col("key"), coalesce(col("lbl"), col("key")).as("entity_id"))
    val sizes = lab.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("entity_size"))
    lab.join(sizes, Seq("entity_id"))
      .select(col("key"), col("entity_id"), col("entity_size"),
        (col("key") === col("entity_id")).as("is_canonical"))
  }

  private[graft] val sparseEntityCache = new SessionCache.Cache[DataFrame]

  /** The sparse best-match entity labels (node, lbl) at rest
    * ([[PersistedStore]]) — like every cluster-label table, this is a
    * per-corpus artifact: built once (best-match tiers + CC over ≤1
    * edge per part), persisted behind the part source signature, read
    * back by every later session. Note the sparse graph does NOT admit
    * the standing+delta fold the dense ops use — a delta part can
    * CHANGE a standing part's best match, so incremental assembly
    * would be semantically wrong here; the honest incremental shape
    * is rebuild-on-corpus-change, which is what the signature guard
    * implements. */
  private[graft] def sparseEntityLabels(
      spark: SparkSession, dir: String): DataFrame =
    sparseEntityCache.getOrBuild(spark, dir, "part.parquet") {
      val store = PersistedStore.ensure(spark, dir, "part.parquet",
        "sparse_entity_labels", "v2") { root => // v2: null-name gate (dim 8)
        val edges = fuzzyBestFrame(spark, dir)
          .select(col("key"), col("best_key"))
        GraphOps.connectedComponents(edges, "key", "best_key")
          .write.mode("overwrite").parquet(s"$root/labels")
      }
      Tables.parquet(spark, s"$store/labels")
    }

  /** The blocked fuzzy join with every cut FUSED into the join
    * condition, cheapest first: key order, the lossless length band,
    * the native packed bag-distance bound, and (when `withDp`) the
    * banded threshold Levenshtein. Conjunct order is load-bearing —
    * And short-circuits left-to-right inside the generated join loop,
    * so each pair pays only as much as the first cut that kills it.
    * (An earlier draft expressed the DP as a post-join `.filter`;
    * PushPredicateThroughJoin merged it back into the condition
    * PREPENDED, running the O(n·k) DP before the O(1) cuts — fusing
    * here keeps the intended order. The executed order is pinned by
    * PlanQualitySpec.)
    *
    * The bag cut uses the native [[graft.expressions.PackedBagDistance]]
    * over per-ROW packed histograms (measured 22× pair reduction past
    * the length band at sf0.1; an interpreted higher-order-function bag
    * was measured 6× slower than the DP it gates, PERF.md round 3). */
  private[graft] def fuzzyJoin(spark: SparkSession, dir: String,
      withDp: Boolean): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_brand").as("brand"),
      col("p_partkey").as("key"), col("p_name").as("name"))
    fuzzyBlockJoin(p, p, (a, b) => a < b, withDp)
  }

  /** The blocked fuzzy join generalized over probe/build frames (both
    * with columns brand, key, name) and the key predicate — `<` for the
    * unordered pair contract, `=!=` for directed best-match probes. */
  private def fuzzyBlockJoin(probe: DataFrame, build: DataFrame,
      keyCond: (Column, Column) => Column, withDp: Boolean): DataFrame = {
    // lengths and bags are per-ROW projections, never recomputed per
    // pair inside the join loop; every column is renamed per side, so
    // the condition names its columns even when both sides project
    // one frame (no reliance on Spark's self-join re-resolution)
    def side(df: DataFrame, s: String) =
      df.select(col("brand").as(s"brand_$s"),
          col("key").as(s"key_$s"), col("name").as(s"name_$s"),
          length(col("name")).as(s"len_$s"))
        .withColumn(s"bag_$s",
          call_function("graft_letter_bag", col(s"name_$s")))
    val a = side(probe, "a")
    val b = side(build, "b")
    var cond = col("brand_a") === col("brand_b") &&
      keyCond(col("key_a"), col("key_b")) &&
      abs(col("len_a") - col("len_b")) <= FuzzyMaxDist &&
      call_function("graft_bag_dist", col("bag_a"), col("bag_b")) <= FuzzyMaxDist
    if (withDp)
      cond = cond && levenshtein(col("name_a"), col("name_b"), FuzzyMaxDist) =!= -1
    a.join(b, cond)
      .select(col("brand_a").as("brand"), col("key_a"), col("key_b"),
        col("name_a"), col("name_b"))
  }

  /** Distinct 3-word shingles as ROWS — (lang, source, doc_id, s) —
    * by exploding the slice-built shingle array (TextAnalysis
    * .wordShingles): a generator inside the scan stage, NO shuffle, and
    * rows arrive already distinct-per-doc (the array is
    * array_distinct'ed). An alternative posexplode+lead-window
    * formulation needs one split per doc but pays 2-3 shuffles of the
    * posting rows — measured slower at this block structure.
    */
  private val shingleRowCache = new SessionCache.Cache[DataFrame]

  /** Exploded distinct 3-word shingle rows — session-cached: this is
    * the tokenize+explode base under THIRTEEN call sites (Jaccard,
    * containment, minhash signatures via [[minhashIndex]], every
    * `verifyExact` shingle attach, fuzzy decontamination) and the
    * regex/slice shingling over the full text corpus is the dominant
    * scan-stage cost they all repeat. One build per (session, corpus),
    * localCheckpointed; parity with fresh construction spec-pinned
    * (the [[lshPairIndex]]/[[graft.operators.TextOps.tfIndex]]
    * convention, one level lower in the stack). */
  private[operators] def shingleRows(spark: SparkSession, dir: String): DataFrame =
    shingleRowCache.getOrBuild(spark, dir, "documents.parquet")(
      buildShingleRows(spark, dir).localCheckpoint())

  private[operators] def buildShingleRows(
      spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), col("source"),
      explode(wordShingles(col("text"), 3)).as("s"))

  /** [[shingleRows]] + per-doc distinct-shingle count (one shuffle). */
  private[graft] def shingleRowsWithSize(spark: SparkSession, dir: String): DataFrame =
    shingleRows(spark, dir).withColumn("n_sh",
      count(lit(1)).over(Window.partitionBy(col("doc_id"))))

  private val shingleDfCache = new SessionCache.Cache[DataFrame]

  /** Posting rows with per-doc distinct-shingle count AND per-shingle
    * document frequency — (lang, source, s, doc_id, n_sh, df) —
    * session-cached (r14): the (lang, source, shingle) df aggregate and
    * its join back onto the postings were re-derived by BOTH blocked
    * candidate stages (AllPairs prefix filtering orders by df;
    * containment blocks on df ≤ cap) — one full posting-scale shuffle
    * each per run. At 100 TB the df-annotated posting list IS the
    * persisted inverted index both stages probe; built once per
    * (session, corpus) like every index here. Parity with fresh
    * construction spec-pinned. */
  private[graft] def shingleRowsWithDf(
      spark: SparkSession, dir: String): DataFrame =
    shingleDfCache.getOrBuild(spark, dir, "documents.parquet",
      "shingle-df") {
      val bare = shingleRows(spark, dir)
      val (_, sizes) = minhashIndex(spark, dir)
      val freq = bare.groupBy(col("lang"), col("source"), col("s"))
        .agg(count(lit(1)).as("df"))
      bare.join(sizes, Seq("doc_id"))
        .join(freq, Seq("lang", "source", "s"))
        .localCheckpoint()
    }

  /** Blocked exact n-gram Jaccard: candidate pairs share (lang, source),
    * similarity = |A∩B| / |A∪B| over distinct 3-word shingles. */
  val ngramJaccard: Op = Op(
    "q_ngram_jaccard",
    """WITH d AS (
      |  SELECT doc_id, lang, source,
      |         string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\x0B\f\r]+') AS w
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, lang, source,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w)-1),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [array_to_string(w, ' ')] END AS sh
      |  FROM d
      |), pairs AS (
      |  SELECT a.lang, a.source, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
      |         len(list_intersect(a.sh, b.sh)) AS inter_size,
      |         len(list_distinct(list_concat(a.sh, b.sh))) AS union_size
      |  FROM sh a JOIN sh b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |)
      |SELECT lang, source, doc_id_a, doc_id_b, inter_size, union_size,
      |       CAST(inter_size AS DOUBLE) / CAST(union_size AS DOUBLE) AS jaccard
      |FROM pairs
      |WHERE CAST(inter_size AS DOUBLE) / CAST(union_size AS DOUBLE) >= 0.5""".stripMargin) { (spark, dir) =>
    // AllPairs prefix filtering (Bayardo et al., WWW'07) — exact:
    // J(A,B) ≥ 0.5 ⇒ |A∩B| ≥ (|A|+|B|)/3, and the size filter below
    // admits only partners with min ≥ max/2, so for every eligible pair
    // |A∩B| ≥ (|A|+|A|/2)/3 = |A|/2 (likewise ≥ |B|/2 on the smaller
    // side). With every doc's shingles sorted by ONE global canonical
    // order, a qualifying pair must therefore collide inside both docs'
    // first |A|-⌈|A|/2⌉+1 shingles — a ~n/2 prefix, not the looser
    // ~2n/3 the pair-independent ⌈|A|/3⌉ bound gives.
    // Ordering that canonical order by ascending document frequency
    // puts boilerplate shingles in the suffix — the posting join only
    // ever fans out on RARE shingles. A plain inverted-index join
    // explodes quadratically on hot shingles (measured 2× worse than
    // all-pairs on this corpus); the all-pairs block product is
    // quadratic in block size. Prefix filtering is the shape that
    // survives 100 TB: linear postings, candidates ∝ true near-dups.
    // per-doc sizes AND the per-shingle df both ride the session-cached
    // df-annotated posting index ([[shingleRowsWithDf]], r14) — the
    // former inline freq aggregate + join re-shuffled the postings per
    // run for a frame the containment stage also rebuilds.
    // exact verification on candidate pairs, row-wise: |A∩B| = count of
    // shingles present in both docs — no arrays materialized anywhere
    verifyExact(ngramCandidatesOfDf(shingleRowsWithDf(spark, dir)),
      shingleArrays(spark, dir), Seq("lang", "source"))
  }

  /** The AllPairs prefix-filtered candidate stage of [[ngramJaccard]]
    * (prefix filter + pair generation) over df-annotated posting rows
    * (lang, source, s, doc_id, n_sh, df); its candidate-pair growth
    * across corpus sizes is in PERF.md. */
  private[graft] def ngramCandidatesOfDf(rowsDf: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy(col("lang"), col("source"), col("doc_id"))
      .orderBy(col("df").asc, col("s").asc)
    val prefix = rowsDf
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= col("n_sh") - expr("(n_sh + 1) div 2") + 1)
      // df ≥ 2 is LOSSLESS here (a pair needs two prefix members in a
      // shingle's group, and group size ≤ df) and culls the Zipf tail
      // BEFORE the group-collect: the df-ascending prefix is dominated
      // by df-1 shingles that can never collide.
      .filter(col("df") >= 2)
      .select(col("lang"), col("source"), col("s"),
        col("doc_id"), col("n_sh"))
    // pair generation per prefix shingle IN-ROW (r14): collect each
    // (lang, source, s)'s posting entries once and emit ordered pairs
    // from the sorted array — the former candA⋈candB self-join
    // duplicated the whole rows⋈freq+window subtree in the plan and
    // shuffled the prefix postings twice. The aggregation buffer per
    // shingle is its prefix-posting count — the same rows the join
    // form shuffled, and the pair OUTPUT is quadratic in it either
    // way; prefix filtering existing to bound exactly that quantity.
    pairsFromPostings(
      prefix.groupBy(col("lang"), col("source"), col("s"))
        .agg(array_sort(collect_list(
          struct(col("doc_id"), col("n_sh")))).as("ds")))
      // lossless size prefilter: J≥0.5 needs min/max size ratio ≥ 0.5
      .filter(least(col("n_a"), col("n_b")) * 2 >=
        greatest(col("n_a"), col("n_b")))
      .distinct()
  }

  /** Ordered (a < b) candidate pairs from per-shingle posting arrays
    * `(lang, source, ds: array<struct<doc_id, n_sh>>)` — shared by the
    * AllPairs prefix stage and the rare-shingle containment blocking.
    * `ds` is sorted by doc_id (distinct within a group), so nested
    * slice enumeration yields each ordered pair exactly once. */
  private def pairsFromPostings(grouped: DataFrame): DataFrame =
    grouped
      .select(col("lang"), col("source"),
        explode(flatten(transform(col("ds"), (x, i) =>
          transform(slice(col("ds"), i + lit(2), size(col("ds"))), y =>
            struct(x.getField("doc_id").as("doc_id_a"),
              y.getField("doc_id").as("doc_id_b"),
              x.getField("n_sh").as("n_a"),
              y.getField("n_sh").as("n_b")))))).as("p"))
      .select(col("lang"), col("source"), col("p.doc_id_a").as("doc_id_a"),
        col("p.doc_id_b").as("doc_id_b"), col("p.n_a").as("n_a"),
        col("p.n_b").as("n_b"))

  /** Containment blocking: candidate pairs must share a shingle with
    * document frequency ≤ this cap. Rare-posting joins are the scale
    * device: candidates ≤ Σ_{df∈[2,cap]} C(df,2) ≤ C(cap,2)·|distinct
    * shingles| — a HARD ceiling linear in the corpus's distinct-shingle
    * volume, where an unconstrained posting join explodes on the Zipf
    * head. Soak-measured (PERF.md): the step exponent sf0.01→sf0.1
    * reads 1.99, but that is the df∈[2,cap] band POPULATING on this
    * template corpus (198 → 14,715 qualifying shingles while distinct
    * shingles grew only 9.4×), not super-linear blocking — measured
    * candidates track the per-band bound tightly (150/200 and
    * 14,578/16,317) and both sit orders under the linear ceiling
    * (10·|shingles| = 2.45M at sf0.1). */
  val ContainDfCap = 5

  /** Asymmetric containment dedup (Broder's containment next to the
    * resemblance family): C(A→B) = |A∩B| / |A| ≥ 4/5 flags A as
    * nearly contained in B — the doc-in-doc relation (quote inflation,
    * truncated re-crawls, boilerplate-wrapped copies) that RESEMBLANCE
    * ops structurally miss: a 50-shingle doc inside a 500-shingle doc
    * has J ≈ 0.1 (invisible to `q_ngram_jaccard`/`q_minhash_lsh` at
    * 0.5) but containment 1.0. MinHash bands can't supply candidates
    * here for the same reason — banded collision probability tracks J,
    * not C — so the candidate CONTRACT is rare-shingle blocking (share
    * ≥ 1 shingle with df ≤ [[ContainDfCap]] inside the (lang, source)
    * block), replayed exactly by the oracle; the exact-intersection
    * verify and the 4/5 threshold are integer cross-multiplies.
    * [[DedupSimilaritySpec]] pins the asymmetry on a crafted
    * sub/superset pair and pins (loudly, as a corpus property) that on
    * the testdata every exact C ≥ 4/5 pair does share a rare shingle,
    * so the registered contract loses nothing here. */
  val containment: Op = Op(
    "q_containment",
    s"""WITH d AS (
       |  SELECT doc_id, lang, source,
       |         string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0B\\f\\r]+') AS w
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, lang, source,
       |         CASE WHEN len(w) >= 3
       |              THEN list_distinct(list_transform(range(1, len(w)-1),
       |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
       |              ELSE [array_to_string(w, ' ')] END AS sh
       |  FROM d
       |), r AS (
       |  SELECT doc_id, lang, source, unnest(sh) AS s FROM sh
       |), f AS (
       |  SELECT lang, source, s, COUNT(*) AS df FROM r GROUP BY 1, 2, 3
       |), rare AS (
       |  SELECT r.* FROM r JOIN f USING (lang, source, s)
       |  WHERE f.df <= $ContainDfCap
       |), cand AS (
       |  SELECT DISTINCT a.lang, a.source,
       |         a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
       |  FROM rare a JOIN rare b
       |    ON a.lang = b.lang AND a.source = b.source AND a.s = b.s
       |   AND a.doc_id < b.doc_id
       |)
       |SELECT c.lang, c.source, c.doc_id_a, c.doc_id_b,
       |       len(list_intersect(x.sh, y.sh)) AS inter_size,
       |       len(x.sh) AS n_a, len(y.sh) AS n_b,
       |       len(list_intersect(x.sh, y.sh)) * 5 >= len(x.sh) * 4 AS contained_a,
       |       len(list_intersect(x.sh, y.sh)) * 5 >= len(y.sh) * 4 AS contained_b
       |FROM cand c
       |JOIN sh x ON x.doc_id = c.doc_id_a
       |JOIN sh y ON y.doc_id = c.doc_id_b
       |WHERE len(list_intersect(x.sh, y.sh)) * 5 >= len(x.sh) * 4
       |   OR len(list_intersect(x.sh, y.sh)) * 5 >= len(y.sh) * 4""".stripMargin) {
    (spark, dir) =>
    // candidates from the session-cached df-annotated posting index
    // ([[shingleRowsWithDf]], r14) — a pure filter + bounded collect,
    // no per-run freq aggregate or join
    containmentVerify(
      containmentCandidatesOfDf(shingleRowsWithDf(spark, dir), ContainDfCap),
      shingleArrays(spark, dir))
  }

  /** [[containment]] kernel over shingle rows carrying `n_sh` (and the
    * bare rows for the exact verify), exposed for crafted-graph specs
    * and the candidate-growth soak. */
  private[graft] def containmentPairs(
      rows: DataFrame, bare: DataFrame, dfCap: Int,
      arraysOpt: Option[DataFrame] = None): DataFrame =
    containmentVerify(containmentCandidates(rows, bare, dfCap),
      arraysOpt.getOrElse(shingleArraysOf(bare)))

  /** The exact-containment verify stage — in-row array intersection
    * (the [[verifyExact]] r14 shape): candidates are distinct pairs,
    * the attach joins are 1:1, and a zero-overlap pair can't pass the
    * 4/5 containment gate (the former count join dropped such pairs
    * before the filter). */
  private[graft] def containmentVerify(
      cand: DataFrame, arrays: DataFrame): DataFrame = {
    val inter = col("inter_size")
    cand
      .join(arrays.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")),
        Seq("doc_id_a"))
      .join(arrays.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")),
        Seq("doc_id_b"))
      .withColumn("inter_size",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .select(col("lang"), col("source"), col("doc_id_a"), col("doc_id_b"),
        inter.as("inter_size"), col("n_a"), col("n_b"),
        (inter * 5 >= col("n_a") * 4).as("contained_a"),
        (inter * 5 >= col("n_b") * 4).as("contained_b"))
      .filter(col("contained_a") || col("contained_b"))
  }

  /** The rare-shingle blocking stage of [[containment]] — distinct
    * candidate pairs pre-verification (candidate growth across corpus
    * sizes: PERF.md). */
  private[graft] def containmentCandidates(
      rows: DataFrame, bare: DataFrame, dfCap: Int): DataFrame = {
    // df computed inline for arbitrary row frames (soak/spec callers);
    // the registered op rides the session-cached [[shingleRowsWithDf]]
    val freq = bare.groupBy(col("lang"), col("source"), col("s"))
      .agg(count(lit(1)).as("df"))
    containmentCandidatesOfDf(rows.join(freq, Seq("lang", "source", "s")),
      dfCap)
  }

  /** The rare-shingle blocking stage over df-annotated posting rows.
    * In-row pair generation per rare shingle (r14, the
    * [[pairsFromPostings]] device): ≤ dfCap postings per group by
    * construction, so the aggregation buffer is hard-bounded — the
    * former self-join duplicated the rows⋈freq subtree and shuffled
    * the rare postings twice. */
  private[graft] def containmentCandidatesOfDf(
      rowsDf: DataFrame, dfCap: Int): DataFrame =
    pairsFromPostings(
      // df ≥ 2 is LOSSLESS (a df-1 shingle can't emit a pair) and is
      // the volume lever on a Zipf tail: measured at sf0.1, df ≤ cap
      // alone keeps 260k/260k posting rows (94% singletons) and the
      // collect_list aggregates 245k groups for 14.6k pairs — the
      // [2, cap] band keeps ~15k groups for the same pairs.
      rowsDf.filter(col("df").between(2, dfCap))
        .groupBy(col("lang"), col("source"), col("s"))
        .agg(array_sort(collect_list(
          struct(col("doc_id"), col("n_sh")))).as("ds")))
      .distinct()

  /** Per-doc distinct-shingle ARRAYS — (doc_id, sh) — folded once from
    * the session-cached posting rows and session-cached themselves
    * (r14): exact verification joins the CANDIDATE PAIRS against this
    * one-row-per-doc frame and intersects arrays in-row, instead of the
    * former two posting-scale shuffle joins (cand ⋈ rows ⋈ rows +
    * count aggregate) that re-shuffled every shingle occurrence per
    * verifying consumer. Same bytes as the posting rows, 1/‖doc‖ the
    * row count — strictly fewer shuffled rows at any scale, and the
    * shape the DuckDB oracles already use (`list_intersect` on the
    * `sh` CTE). */
  private val shingleArrayCache = new SessionCache.Cache[DataFrame]

  private[graft] def shingleArrays(
      spark: SparkSession, dir: String): DataFrame =
    shingleArrayCache.getOrBuild(spark, dir, "documents.parquet")(
      shingleArraysOf(shingleRows(spark, dir)).localCheckpoint())

  /** Fold ANY (doc_id, s) posting frame to (doc_id, sh) arrays. */
  private[operators] def shingleArraysOf(rows: DataFrame): DataFrame =
    rows.groupBy(col("doc_id")).agg(collect_list(col("s")).as("sh"))

  /** Exact Jaccard over candidate pairs:
    * inter = |A∩B| via in-row array intersection against the per-doc
    * shingle-array frame, union = n_a + n_b − inter. Candidate frames
    * are DISTINCT pairs at every call site (each candidate stage ends
    * in distinct/dropDuplicates), so the attach joins are 1:1. Pairs
    * with zero overlap have J = 0 and fall to the threshold filter —
    * the same output the former zero-overlap-dropping count join
    * produced. */
  private[operators] def verifyExact(
      cand: DataFrame, arrays: DataFrame, keep: Seq[String]): DataFrame = {
    val inter = col("inter_size")
    val union = col("n_a") + col("n_b") - col("inter_size")
    cand
      .join(arrays.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")),
        Seq("doc_id_a"))
      .join(arrays.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")),
        Seq("doc_id_b"))
      .withColumn("inter_size",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .select((keep.map(col) ++ Seq(col("doc_id_a"), col("doc_id_b"),
        inter.as("inter_size"), union.as("union_size"),
        (inter.cast("double") / union.cast("double")).as("jaccard"))): _*)
      .filter(col("jaccard") >= 0.5)
  }

  /** All-pairs exact-Jaccard oracle template shared by the two
    * candidate-generation scale paths (MinHash+LSH, SimHash): both
    * verify their candidates exactly, and both candidate generators
    * provably/measurably cover every in-scope J≥0.5 pair on the
    * deterministic testdata (LSH: measured recall 1.0 at sf0.01/sf0.1 —
    * the corpus' near-dup pairs all sit at J≥0.9 where 8×4 banding is
    * near-certain; SimHash: 8×8-bit banding covers Hamming≤7 by
    * pigeonhole, and the corpus' in-scope J≥0.5 pairs max out at
    * Hamming 7). So the driver-checkable contract is the exact
    * near-dup pair set itself. `gate` injects additional per-side scope
    * predicates into the pair join (one SQL source for all variants —
    * a shingle-construction fix can't diverge between oracles).
    */
  /** The doc → distinct-3-word-shingle-list CTEs alone (shared by the
    * self-join pair oracles below AND cross-set contracts like
    * Curation.decontaminateFuzzy — shingle-construction fixes cannot
    * diverge between them). */
  private[operators] def shingleCtes: String =
    """d AS (
      |  SELECT doc_id, string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\x0B\f\r]+') AS w
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, len(w) AS n_words,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w)-1),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [array_to_string(w, ' ')] END AS sh
      |  FROM d
      |)""".stripMargin

  /** Exact pair CTE chain, rewritten off the O(N²) block join (r13
    * verdict #4: the all-pairs form ground 40+ min at sf0.1 and the
    * second-SF gate budget-skipped every consumer, leaving their laws
    * unpinned at scale). The postings rewrite is LOSSLESS for every
    * consumer: shingle lists are `list_distinct`, so the per-(a,b)
    * match count of the shingle self-join IS |A∩B| exactly, and a pair
    * is emitted iff i ≥ 1 — while every consumer gates on J ≥ 0.5 or
    * containment 3i ≥ na+nb, both of which imply i ≥ 1, so dropping
    * the i = 0 pairs changes no oracle's output. Still pure ground
    * truth (an algebraic identity, not the engine's banding/prefix
    * heuristics — candidate generation here is the tautology "a pair
    * with a nonempty intersection shares a shingle"). Measured at
    * sf0.1: 5.7 s vs 40+ min, byte-identical results. A future
    * consumer that needs i = 0 pairs must not use this CTE. */
  private[operators] def jaccardPairCtes(gate: String = ""): String =
    s"""$shingleCtes, shx AS (
       |  SELECT doc_id, unnest(sh) AS g FROM sh
       |), isect AS (
       |  SELECT xa.doc_id AS da, xb.doc_id AS db,
       |         CAST(COUNT(*) AS BIGINT) AS i
       |  FROM shx xa JOIN shx xb ON xa.g = xb.g AND xa.doc_id < xb.doc_id
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, c.i,
       |         len(a.sh) + len(b.sh) - c.i AS u
       |  FROM isect c JOIN sh a ON a.doc_id = c.da
       |               JOIN sh b ON b.doc_id = c.db$gate
       |)""".stripMargin

  private def allPairsJaccardSql(gate: String = ""): String =
    s"""WITH ${jaccardPairCtes(gate)}
       |SELECT doc_id_a, doc_id_b, CAST(i AS DOUBLE)/CAST(u AS DOUBLE) AS jaccard
       |FROM pairs WHERE CAST(i AS DOUBLE)/CAST(u AS DOUBLE) >= 0.5""".stripMargin

  /** MinHash + LSH near-dup pairs, verified by exact Jaccard.
    *
    * k=32 hashes, 8 bands × 4 rows → candidate recall kicks in around
    * J≈0.5. Candidates sharing any band bucket are verified exactly, so
    * the output contains no false positives; the LSH stage exists purely
    * to avoid the all-pairs join. Oracled against the all-pairs exact
    * set: on this corpus near-dup pairs sit at J≥0.9 (measured — there
    * are NO pairs in (0.2, 0.9)), where banded recall is 1.0
    * deterministically (xxhash64 signatures are fixed), verified at
    * sf0.01 and sf0.1 (PERF.md).
    *
    * The registered op runs with NO bucket cap: an exact-equality oracle
    * and a silent candidate cap are incompatible on mass-duplicate data
    * (1001 identical docs put >1000 members in the SAME bucket of every
    * band, so a cap would drop pairs the oracle contains — note the
    * correct output for such data is itself quadratic in the duplicate
    * group, so the cost is inherent to the pairwise contract, not the
    * algorithm). Corpora where that output blow-up is unacceptable use
    * [[minhashLshCapped]] and accept documented recall loss, or switch
    * to the group-style contract of `q_dedup_exact`.
    */
  val minhashLsh: Op = Op("q_minhash_lsh", allPairsJaccardSql()) { (spark, dir) =>
    lshPairIndex(spark, dir)
  }

  /** Sampled-query cadence of [[lshRecall]]: every mod-th document. */
  val LshRecallMod = 10

  /** RECALL TELEMETRY of the banded MinHash index — the [[Imi]]
    * `q_imi_recall` pattern applied to the dedup family: for every
    * sampled document, how many of its TRUE near-dup partners (exact
    * Jaccard ≥ 0.5, computed independently by a sampled posting join)
    * the standing LSH pair index surfaces. Output is integer
    * (truth, hits) per sampled doc.
    *
    * The 8×4 banding's recall is measured 1.0 on every gate corpus
    * (near-dup pairs sit at J ≥ 0.9, where banded collision is
    * deterministic for the fixed xxhash64 chain — the [[minhashLsh]]
    * oracle contract), so the DuckDB twin replays `hits = truth`. That
    * makes this op the standing ALARM for the banding geometry: a
    * corpus whose near-dup pairs drift down toward the J≈0.5 knee
    * (where 8×4 collision is no longer certain) fails this row's hash
    * the moment recall actually dips, pointing at the band/row knob —
    * instead of the miss surfacing as silently-underclustered dedup.
    *
    * Scale shape: the ground-truth side is bounded by the SAMPLE (the
    * q-side posting join fans out only on sampled docs' shingles — the
    * `q_imi_recall` adjudication: the documented price of ground
    * truth). [[LshRecallMod]] is a fixed constant here, like
    * `Imi.RecallQueryMod`: a deployment sizes the mod to its corpus so
    * the query count stays bounded — the knob is the contract, not
    * auto-derived. The probe side re-reads the persisted
    * [[lshPairIndex]] — no new banding work. */
  val lshRecall: Op = Op(
    "q_lsh_recall",
    s"""WITH $shingleCtes, pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |         len(list_intersect(a.sh, b.sh)) AS i,
       |         len(a.sh) AS na, len(b.sh) AS nb
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |    AND (a.doc_id % $LshRecallMod = 0 OR b.doc_id % $LshRecallMod = 0)
       |), tp AS (
       |  SELECT da, db FROM pairs WHERE 3 * i >= na + nb
       |), part AS (
       |  SELECT da AS q, db AS p FROM tp WHERE da % $LshRecallMod = 0
       |  UNION ALL
       |  SELECT db AS q, da AS p FROM tp WHERE db % $LshRecallMod = 0
       |), cnt AS (
       |  SELECT q, CAST(COUNT(*) AS BIGINT) AS truth FROM part GROUP BY q
       |)
       |SELECT d.doc_id,
       |  CAST(COALESCE(cnt.truth, 0) AS BIGINT) AS truth,
       |  CAST(COALESCE(cnt.truth, 0) AS BIGINT) AS hits
       |FROM documents d LEFT JOIN cnt ON cnt.q = d.doc_id
       |WHERE d.doc_id % $LshRecallMod = 0""".stripMargin) { (spark, dir) =>
    val mod = LshRecallMod
    val rows = shingleRows(spark, dir).select(col("doc_id"), col("s"))
    val (_, sizes) = minhashIndex(spark, dir)
    val q = rows.filter(col("doc_id") % mod === 0)
      .select(col("doc_id").as("q_id"), col("s"))
    // exact ground truth for the sampled queries: J > 0 requires a
    // shared shingle, so the posting join is complete at J >= 0.5
    val cand = q.join(rows.select(col("doc_id").as("d_id"), col("s")),
        Seq("s"))
      .filter(col("q_id") =!= col("d_id"))
      .groupBy(col("q_id"), col("d_id")).agg(count(lit(1)).as("inter"))
    // 3i >= n_q + n_d  <=>  i / (n_q + n_d - i) >= 0.5 — integer form
    val truth = cand
      .join(sizes.select(col("doc_id").as("q_id"), col("n_sh").as("n_q")),
        Seq("q_id"))
      .join(sizes.select(col("doc_id").as("d_id"), col("n_sh").as("n_d")),
        Seq("d_id"))
      .filter(col("inter") * 3 >= col("n_q") + col("n_d"))
      .select(col("q_id"), col("d_id"))
    recallCounts(spark, dir, truth,
      lshPairIndex(spark, dir)
        .select(col("doc_id_a").as("pa"), col("doc_id_b").as("pb")),
      mod)
  }

  /** Shared tail of the dedup recall-telemetry ops: per sampled doc,
    * |truth partners| and |truth ∩ probe pairs| — `truth` as
    * (q_id, d_id) rows, `pairs` as (pa < pb) rows. `mod` is the
    * caller's sampling cadence (ADVICE r11: passed explicitly so a
    * telemetry op with a different cadence can't silently emit the
    * wrong row universe). */
  private def recallCounts(spark: SparkSession, dir: String,
      truth: DataFrame, pairs: DataFrame, mod: Int): DataFrame = {
    val hits = truth.join(pairs,
        least(col("q_id"), col("d_id")) === col("pa") &&
          greatest(col("q_id"), col("d_id")) === col("pb"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("h"))
    val truthCnt = truth.groupBy(col("q_id")).agg(count(lit(1)).as("t"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") % mod === 0)
      .join(truthCnt.withColumnRenamed("q_id", "doc_id"),
        Seq("doc_id"), "left")
      .join(hits.withColumnRenamed("q_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("t"), lit(0L)).as("truth"),
        coalesce(col("h"), lit(0L)).as("hits"))
  }

  /** RECALL TELEMETRY of the hybrid SimHash tier — [[lshRecall]]'s
    * alarm for the OTHER banding geometry, completing the telemetry
    * triple (IMI `q_imi_recall`, MinHash `q_lsh_recall`, SimHash
    * here): sampled ground truth restricted to the simhash CONTRACT's
    * scope (≥ [[SimhashMinShingles]] distinct shingles, ≤
    * [[SimhashWordCap]] words — exactly `q_simhash`'s oracle gate) vs
    * the hybrid tier's verified pairs. Same measured-recall-1.0
    * contract, same failure semantics: pairs drifting out of the
    * hybrid tiers' coverage fail this row's hash loudly. */
  // The oracle interpolates SimhashMinShingles / SimhashWordCap,
  // declared LATER in this object. Round 11 had to mark this val lazy
  // by hand (eager init captured their pre-init 0s: the scope gate
  // became `n_words <= 0` and the oracle went empty); Op's oracle is
  // now BY-NAME (rendered on access, post-init), so the eager val is
  // safe again — and deliberately kept eager as the live proof of the
  // structural fix (RegistryInitSpec pins the class).
  val simhashRecall: Op = Op(
    "q_simhash_recall",
    s"""WITH $shingleCtes, pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |         len(list_intersect(a.sh, b.sh)) AS i,
       |         len(a.sh) AS na, len(b.sh) AS nb
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |    AND (a.doc_id % $LshRecallMod = 0 OR b.doc_id % $LshRecallMod = 0)
       |    AND len(a.sh) >= $SimhashMinShingles
       |    AND len(b.sh) >= $SimhashMinShingles
       |    AND a.n_words <= $SimhashWordCap AND b.n_words <= $SimhashWordCap
       |), tp AS (
       |  SELECT da, db FROM pairs WHERE 3 * i >= na + nb
       |), part AS (
       |  SELECT da AS q, db AS p FROM tp WHERE da % $LshRecallMod = 0
       |  UNION ALL
       |  SELECT db AS q, da AS p FROM tp WHERE db % $LshRecallMod = 0
       |), cnt AS (
       |  SELECT q, CAST(COUNT(*) AS BIGINT) AS truth FROM part GROUP BY q
       |)
       |SELECT d.doc_id,
       |  CAST(COALESCE(cnt.truth, 0) AS BIGINT) AS truth,
       |  CAST(COALESCE(cnt.truth, 0) AS BIGINT) AS hits
       |FROM documents d LEFT JOIN cnt ON cnt.q = d.doc_id
       |WHERE d.doc_id % $LshRecallMod = 0""".stripMargin) { (spark, dir) =>
    val mod = LshRecallMod
    val scope = simhashScopeSizesCached(spark, dir)
    val rows = shingleRows(spark, dir).select(col("doc_id"), col("s"))
      .join(scope.select(col("doc_id")), Seq("doc_id"))
    val q = rows.filter(col("doc_id") % mod === 0)
      .select(col("doc_id").as("q_id"), col("s"))
    val cand = q.join(rows.select(col("doc_id").as("d_id"), col("s")),
        Seq("s"))
      .filter(col("q_id") =!= col("d_id"))
      .groupBy(col("q_id"), col("d_id")).agg(count(lit(1)).as("inter"))
    val truth = cand
      .join(scope.select(col("doc_id").as("q_id"), col("n_sh").as("n_q")),
        Seq("q_id"))
      .join(scope.select(col("doc_id").as("d_id"), col("n_sh").as("n_d")),
        Seq("d_id"))
      .filter(col("inter") * 3 >= col("n_q") + col("n_d"))
      .select(col("q_id"), col("d_id"))
    recallCounts(spark, dir, truth,
      verifyExact(simhashHybridCandidates(spark, dir),
          shingleArrays(spark, dir), Seq.empty)
        .select(col("doc_id_a").as("pa"), col("doc_id_b").as("pb")),
      mod)
  }

  /** Guardrail variant: band buckets capped at `cap` members, bounding
    * worst-case candidate fan-out on viral boilerplate at the price of
    * missing pairs inside over-full buckets (library API + spec; not
    * oracle-registered for exactly that reason). */
  def minhashLshCapped(spark: SparkSession, dir: String, cap: Int): DataFrame =
    minhashLshPairs(spark, dir, bucketCap = Some(cap))

  private[operators] def minhashLshPairs(
      spark: SparkSession, dir: String, bucketCap: Option[Int]): DataFrame = {
    val bare = shingleRows(spark, dir)
    // exact row-wise verification of the (small) candidate set
    verifyExact(minhashCandidates(spark, dir, bucketCap),
      shingleArrays(spark, dir), Seq.empty)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  private[graft] val lshPairCache = new SessionCache.Cache[DataFrame]

  /** The verified near-dup pair set (uncapped banding, exact Jaccard)
    * — session-cached AND at rest ([[PersistedStore]], round-7):
    * [[minhashLsh]] emits it, [[GraphOps.dupClusters]] clusters it,
    * [[GraphOps.clusterRep]] selects survivors from those clusters, and
    * [[Curation.cleanCorpus]] embeds the cluster gate — four registered
    * consumers of one candidate-join + verify pipeline, the corpus'
    * second-most-expensive kernel after the fuzzy DP. At 100 TB pair
    * detection runs once per corpus, lands as parquet, and every later
    * stage/session/process READS its output — the FAISS
    * write_index/read_index split the PQ store demonstrated,
    * generalized. Parity with fresh construction is spec-pinned. */
  private[operators] def lshPairIndex(
      spark: SparkSession, dir: String): DataFrame =
    lshPairCache.getOrBuild(spark, dir, "documents.parquet") {
      val store = PersistedStore.ensure(spark, dir, "documents.parquet",
        "lsh_pair_index", "v2") { root => // v2: ascii-casefold law
        minhashLshPairs(spark, dir, bucketCap = None)
          .write.mode("overwrite").parquet(s"$root/pairs")
      }
      Tables.parquet(spark, s"$store/pairs")
    }

  /** MinHash banding geometry shared by every LSH path below: k = 32
    * hashes as 8 bands × 4 rows. */
  private[graft] val MinhashBands = 8
  private[graft] val MinhashRowsPerBand = 4

  /** (doc_id, band, bucket) MinHash banded index rows — THE single
    * signature/banding construction behind [[minhashCandidates]] and
    * [[incrementalCandidates]]. The incremental op's oracle equality
    * rests on its banding being IDENTICAL to [[minhashLsh]]'s (same
    * k, same band split, same xxhash64 chain), so that identity is
    * enforced structurally here rather than by keeping two copies in
    * sync.
    *
    * Signature as k compiled MIN aggregates over shingle ROWS (the
    * size-free variant — MIN is duplicate- and count-insensitive, so
    * the signature needs no n_sh window shuffle):
    * higher-order `transform` lambdas are interpreted per element, so
    * k×|sh| lambda dispatches per doc cost ~10× the same math as
    * codegen'd aggregate expressions. One string hash per shingle, k
    * fixed-width re-hashes, map-side partial min — the shuffle
    * carries k longs per doc. */
  private[graft] def bandedSignatures(
      spark: SparkSession, dir: String): DataFrame = {
    val k = MinhashBands * MinhashRowsPerBand
    val ex = shingleRows(spark, dir)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val mins = (0 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    val sig = ex.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandCols = (0 until MinhashBands).map { bnd =>
      struct(lit(bnd).as("band"),
        xxhash64(lit(bnd) +: (0 until MinhashRowsPerBand)
          .map(r => col(s"m${bnd * MinhashRowsPerBand + r}")): _*).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** Per-session cache of the MinHash index for a corpus dir: the
    * (doc_id, band, bucket) banded rows and the per-doc distinct-shingle
    * counts, both localCheckpointed. Signing the corpus is INDEX
    * CONSTRUCTION — at 100 TB it runs once and is persisted bucketed by
    * (band, bucket) (`sources/Bucketing.scala` is the layout); every
    * consumer (pair dedup, clustering, representative selection,
    * incremental delta probes, the simhash hybrid tier) then probes the
    * same index, exactly as the PQ search family reuses its trained
    * (codebook, codes) index ([[Similarity.pqTrainedIndex]]). Keyed by
    * session identity so a replaced session rebuilds instead of touching
    * checkpoints of dead executors. The cached frames are byte-identical
    * to fresh construction (same deterministic xxhash64 chain —
    * DedupSimilaritySpec pins the parity), so oracles are unaffected. */
  private[graft] val minhashIndexCache = new SessionCache.Cache[(DataFrame, DataFrame)]

  private[graft] def minhashIndex(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    minhashIndexCache.getOrBuild(spark, dir, "documents.parquet") {
        // at rest since round 8 (`minhash_index` store): the banded
        // signatures + shingle sizes are the probe surface every LSH
        // consumer shares — sign once per corpus, read back across
        // sessions/processes like the PQ and canopy indexes
        val store = PersistedStore.ensure(spark, dir, "documents.parquet",
          "minhash_index", "v2") { root => // v2: ascii-casefold law
          bandedSignatures(spark, dir)
            .write.mode("overwrite").parquet(s"$root/banded")
          shingleRows(spark, dir).groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_sh"))
            .write.mode("overwrite").parquet(s"$root/sizes")
        }
        (Tables.parquet(spark, s"$store/banded").localCheckpoint(),
          Tables.parquet(spark, s"$store/sizes").localCheckpoint())
      }

  /** The banded-bucket candidate stage of [[minhashLsh]] alone
    * (distinct pairs + sizes, pre-verification); its candidate-pair
    * growth across corpus sizes is in PERF.md. */
  private[graft] def minhashCandidates(
      spark: SparkSession, dir: String,
      bucketCap: Option[Int] = None): DataFrame = {
    val (banded, sizes) = minhashIndex(spark, dir)
    val members = bucketCap match {
      case Some(cap) =>
        banded.withColumn("rn",
            row_number().over(Window
              .partitionBy(col("band"), col("bucket"))
              .orderBy(col("doc_id"))))
          .filter(col("rn") <= cap)
          .drop("rn")
      case None => banded
    }
    val cand = members.select(col("band"), col("bucket"),
        col("doc_id").as("doc_id_a"))
      .join(members.select(col("band"), col("bucket"),
        col("doc_id").as("doc_id_b")), Seq("band", "bucket"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b")
      .distinct()
      .join(sizes.select(col("doc_id").as("doc_id_a"), col("n_sh").as("n_a")),
        Seq("doc_id_a"))
      .join(sizes.select(col("doc_id").as("doc_id_b"), col("n_sh").as("n_b")),
        Seq("doc_id_b"))
    cand
  }

  /** Delta-doc selector for [[dedupIncremental]]: docs with
    * doc_id ≡ 0 (mod 10) play the "new batch", the rest the standing
    * corpus. A real pipeline's delta is whatever arrived since the last
    * run; a fixed residue class keeps the op deterministic and
    * oracle-replayable on the static testdata. */
  val IncrementalDeltaMod = 10

  /** Incremental dedup: match a NEW BATCH of documents against a
    * standing corpus — the shape every production dedup actually runs
    * (daily crawl delta vs. the accumulated index), where all the other
    * registered dedup ops are whole-corpus self-joins.
    *
    * For each delta doc that near-duplicates (3-shingle Jaccard ≥ 0.5,
    * the [[minhashLsh]] semantics) at least one corpus doc: its
    * smallest matching corpus doc_id, match count, and best Jaccard.
    *
    * Plan — the asymmetry is the whole point:
    *  - Corpus side: MinHash signatures → (band, bucket) index rows.
    *    At 100 TB this index is computed ONCE and persisted (bucketed by
    *    (band, bucket) — `sources/Bucketing.scala` is the layout);
    *    per-batch cost is zero corpus-side work beyond the final
    *    verify's point lookups. The per-session [[minhashIndex]] cache
    *    plays that persisted index here — signatures are built once per
    *    corpus dir and every probe reuses them.
    *  - Delta side: same signatures for the batch only, BROADCAST to the
    *    corpus index scan (plan-gated in SpansIncrementalSpec) — candidate
    *    generation is one map-side hash probe per corpus index row, NO
    *    shuffle of the corpus, no self-join anywhere. Candidates then
    *    verify by exact Jaccard ([[verifyExact]]) and aggregate per
    *    delta doc.
    *
    * Recall: identical banding to [[minhashLsh]] (8 bands × 4 rows,
    * fixed xxhash64 chain) — enforced structurally, both paths build
    * their index rows from the one [[bandedSignatures]] helper.
    * Cross-split near-dup pairs on this corpus
    * all sit at J ≥ 0.88 (measured at sf0.001/0.01/0.1) where banded
    * recall is deterministic-1.0 on these signatures — verified
    * empirically against the exact all-pairs join by
    * SpansIncrementalSpec and the sf0.1 DuckDB cross-check. */
  val dedupIncremental: Op = Op(
    "q_dedup_incremental",
    s"""WITH $shingleCtes, m AS (
       |  SELECT d.doc_id AS doc_id, c.doc_id AS corpus_id,
       |         len(list_intersect(d.sh, c.sh)) AS i,
       |         len(d.sh) + len(c.sh) - len(list_intersect(d.sh, c.sh)) AS u
       |  FROM sh d JOIN sh c
       |    ON d.doc_id % $IncrementalDeltaMod = 0
       |   AND c.doc_id % $IncrementalDeltaMod <> 0
       |)
       |SELECT doc_id, min(corpus_id) AS dup_of, count(*) AS n_matches,
       |       max(CAST(i AS DOUBLE)/CAST(u AS DOUBLE)) AS best_j
       |FROM m WHERE CAST(i AS DOUBLE)/CAST(u AS DOUBLE) >= 0.5
       |GROUP BY 1""".stripMargin) { (spark, dir) =>
    incrementalRollup(incrementalMatches(spark, dir))
  }

  /** Per-delta-doc rollup of verified (delta, corpus, jaccard) matches —
    * shared by the broadcast and bucketed-index probe forms so their
    * outputs cannot drift. */
  private[graft] def incrementalRollup(matches: DataFrame): DataFrame =
    matches
      .groupBy(col("doc_id_a"))
      .agg(min(col("doc_id_b")).as("dup_of"),
        count(lit(1)).as("n_matches"),
        max(col("jaccard")).as("best_j"))
      .select(col("doc_id_a").as("doc_id"),
        col("dup_of"), col("n_matches"), col("best_j"))

  private[graft] val incrMatchCache = new SessionCache.Cache[DataFrame]

  /** Verified (delta, corpus) match pairs of [[dedupIncremental]],
    * pre-aggregation (exposed for the spec's exact-join parity check).
    * Session-cached: the incremental dedup op and the incremental
    * clustering op both consume this exact match set — the production
    * cadence computes a batch's matches once and feeds every
    * downstream maintenance step from them. */
  private[graft] def incrementalMatches(
      spark: SparkSession, dir: String): DataFrame =
    incrMatchCache.getOrBuild(spark, dir, "documents.parquet") {
      // at rest since round 8 (`incr_matches` store): a batch's
      // verified (delta, corpus) matches feed BOTH maintenance ops
      // (incremental dedup + incremental clustering) — computed once,
      // read back by later sessions of the same corpus generation
      val store = PersistedStore.ensure(spark, dir, "documents.parquet",
        "incr_matches", "v2") { root => // v2: ascii-casefold law
        verifyExact(incrementalCandidates(spark, dir),
          shingleArrays(spark, dir), Seq.empty)
          .write.mode("overwrite").parquet(s"$root/matches")
      }
      Tables.parquet(spark, s"$store/matches").localCheckpoint()
    }

  /** The band-probe candidate stage of [[dedupIncremental]] alone
    * (distinct delta×corpus pairs + sizes, pre-verification); its
    * candidate growth is in PERF.md beside the self-join families'. */
  private[graft] def incrementalCandidates(
      spark: SparkSession, dir: String): DataFrame = {
    val (banded, sizes) = minhashIndex(spark, dir)
    val isDelta = col("doc_id") % IncrementalDeltaMod === 0
    val deltaBands = banded.filter(isDelta)
      .select(col("band"), col("bucket"), col("doc_id").as("doc_id_a"))
    val corpusBands = banded.filter(!isDelta)
      .select(col("band"), col("bucket"), col("doc_id").as("doc_id_b"))
    val cand = corpusBands.join(broadcast(deltaBands), Seq("band", "bucket"))
      .select("doc_id_a", "doc_id_b")
      .distinct()
      .join(sizes.select(col("doc_id").as("doc_id_a"), col("n_sh").as("n_a")),
        Seq("doc_id_a"))
      .join(sizes.select(col("doc_id").as("doc_id_b"), col("n_sh").as("n_b")),
        Seq("doc_id_b"))
    cand
  }

  /** The BUCKETED-INDEX form of the incremental probe — the explicit
    * 100 TB layout every LSH scaladoc here points at, demonstrated: the
    * corpus (band, bucket, doc_id) index rows are PERSISTED as a
    * hash-clustered, sorted table (`Bucketing.writeBucketedKeys` on the
    * composite key), so the per-batch probe plans as a sort-merge join
    * whose index side reads straight from the bucket files — NO
    * corpus-side Exchange, ever (plan-gated in SpansIncrementalSpec);
    * the only shuffle is the (small) delta band frame repartitioning to
    * the index's bucket layout. The broadcast probe
    * ([[incrementalCandidates]]) wins while the delta fits in executor
    * memory; this is the form that survives a delta too big to
    * broadcast — index-side cost stays one streamed merge per bucket
    * regardless of delta size. The table is written once per (session,
    * corpus dir) and reused, like every layout artifact; the merge hint
    * pins SMJ so a small bench-scale delta can't silently flip the
    * demonstration back to a broadcast. */
  private[graft] def bucketedIncrementalCandidates(
      spark: SparkSession, dir: String): DataFrame = {
    val table = "gb_minhash_idx_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    val (banded, sizes) = minhashIndex(spark, dir)
    val isDelta = col("doc_id") % IncrementalDeltaMod === 0
    if (!spark.catalog.tableExists(table)) {
      // bucket files can survive a previous session whose in-memory
      // catalog died with it — clear them or saveAsTable refuses
      SinkOps.deleteDir(spark,
        s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
      graft.sources.Bucketing.writeBucketedKeys(
        banded.filter(!isDelta)
          .select(col("band"), col("bucket"), col("doc_id").as("doc_id_b")),
        table, Seq("band", "bucket"), 16)
    }
    val idx = spark.table(table).hint("merge")
    val deltaBands = banded.filter(isDelta)
      .select(col("band"), col("bucket"), col("doc_id").as("doc_id_a"))
    deltaBands.join(idx, Seq("band", "bucket"))
      .select("doc_id_a", "doc_id_b")
      .distinct()
      .join(sizes.select(col("doc_id").as("doc_id_a"), col("n_sh").as("n_a")),
        Seq("doc_id_a"))
      .join(sizes.select(col("doc_id").as("doc_id_b"), col("n_sh").as("n_b")),
        Seq("doc_id_b"))
  }

  /** [[dedupIncremental]] through the persisted bucketed index — same
    * oracle (identical output by construction: same banding, same
    * exact verify, same rollup; only the candidate join's physical
    * layout differs). Registered so the bench measures the bucketed
    * probe as its own steady-state number. */
  val dedupIncrementalBucketed: Op = Op(
    "q_dedup_incr_bucketed",
    dedupIncremental.oracle.get) { (spark, dir) =>
    incrementalRollup(verifyExact(
      bucketedIncrementalCandidates(spark, dir),
      shingleArrays(spark, dir), Seq.empty))
  }

  /** Word hashes per document — the simhash input rows (exposed for the
    * packing-equivalence spec). Words are capped at the first 60 000 per
    * document so the lane-packed vote counters below can never carry
    * (and ANSI mode can never see an overflow); at 100 TB a pipeline
    * would pre-split longer docs anyway, and the cap is a plan-time
    * `slice` on the split array — zero extra shuffles. */
  val SimhashWordCap = 60000

  def simhashWordHashes(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(transform(
          slice(split(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+"),
            1, SimhashWordCap),
          w => xxhash64(w))).as("h"))

  /** 64-bit simhash per document (lane-packed vote aggregation). */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    // Per-bit votes over exploded word hashes, SIMD-style lane packing:
    // 3 bit-counters × 16 bits per long (bits 0-47 used, bit 63 never
    // touched) → 22 compiled SUM aggregates + one COUNT instead of 64
    // SUMs. With ≤ SimhashWordCap (60 000 < 2¹⁶) words per doc a lane
    // counter can't reach 2¹⁶, so lanes can't carry into each other —
    // and because the top lane sits at bits 32-47, the packed sum stays
    // < 2⁴⁸, so Spark's ANSI-mode overflow check can never trip (the
    // earlier 4-lane packing put lane 3 at bits 48-63 and would have
    // thrown ArithmeticException at ≥ 2¹⁵ words).
    // Same signature as the unpacked form: bit j set ⟺ vote_j > 0
    // ⟺ 2·count_j > n_words. Beyond fewer aggregate buffers, the win
    // is whole-stage-codegen COMPILE time: 64 wide aggregates generate
    // a janino method big enough to cost ~8 s to compile on first run —
    // at 23 expressions the same plan compiles in well under a second.
    val LanesPerLong = 3
    val groups = (64 + LanesPerLong - 1) / LanesPerLong // 22
    def lanePack(g: Int): Column =
      (0 until LanesPerLong).filter(l => g * LanesPerLong + l < 64).map { l =>
        shiftleft(shiftright(col("h"), g * LanesPerLong + l).bitwiseAND(lit(1L)), 16 * l)
      }.reduce(_ + _)
    val packs = (0 until groups).map(g => sum(lanePack(g)).as(s"p$g"))
    val sig = (0 until 64).map { j =>
      val (g, l) = (j / LanesPerLong, j % LanesPerLong)
      val cnt = shiftright(col(s"p$g"), 16 * l).bitwiseAND(lit(0xFFFFL))
      when(cnt * 2 > col("n_words"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    simhashWordHashes(spark, dir).groupBy(col("doc_id"))
      .agg(packs.head, (packs.tail :+ count(lit(1)).as("n_words")): _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  private val simhashSigCache = new SessionCache.Cache[DataFrame]

  /** [[simhashSignatures]] session-cached (r14): the word-hash explode
    * + lane-packed vote aggregate is the family's corpus-scaled stage
    * and feeds the registered hybrid op, the recall telemetry and the
    * radius-7 reference — at 100 TB the signature table is a persisted
    * index every consumer probes (the [[minhashIndex]] contract).
    * Parity with fresh construction spec-pinned. */
  private[graft] def simhashSignaturesCached(
      spark: SparkSession, dir: String): DataFrame =
    simhashSigCache.getOrBuild(spark, dir, "documents.parquet",
      "simhash-sigs")(simhashSignatures(spark, dir).localCheckpoint())

  /** Legacy-geometry SimHash candidate pairs — doc pairs sharing any of
    * 8 × 8-bit bands of the 64-bit signature, kept when signature
    * Hamming distance ≤ 7. By pigeonhole, 8 bands GUARANTEE every pair
    * within Hamming 7 shares a band — candidate recall at radius 7 is
    * exactly 1, not probabilistic. Exposed for the band-coverage spec;
    * measured birthday-quadratic at scale (PERF.md) — the registered op
    * uses the hybrid stage instead. */
  def simhashCandidates(spark: SparkSession, dir: String): DataFrame =
    simhashCandidatesOf(simhashSignatures(spark, dir), bands = 8, bitsPerBand = 8)

  /** Banded candidate pairs over an arbitrary (doc_id, simhash) frame —
    * the op feeds only in-scope (≥[[SimhashMinShingles]]-shingle) docs
    * through here, which is both a correctness no-op (short docs can't
    * appear in any in-scope pair) and the main cost lever: narrow bands
    * are noisy, so shrinking the banding population shrinks the
    * candidate join quadratically.
    *
    * Banding geometry is a parameter: `bands` × `bitsPerBand` must tile
    * the 64-bit signature, and the guaranteed radius FOLLOWS from it by
    * pigeonhole — a pair within Hamming `bands - 1` has fewer differing
    * bits than bands, so some band holds none of them and collides;
    * candidate recall at that radius is exactly 1, not probabilistic.
    * The default is the scale geometry, 4×16/radius-3 (the Manku
    * WWW'07 operating point): measured candidate exponent 1.49 across
    * the sf0.01→sf0.1 10× step vs 1.95 for 8×8/radius-7. Round-5
    * measurement (PERF.md) pinned down WHY the 8×8 geometry
    * is quadratic — and why no bucket-widening fixes it at radius 7:
    * the corpus' Hamming≤7 pair set is ITSELF quadratic (topic clusters
    * put ~40k doc pairs of 5k docs within signature Hamming 7 at sf0.1;
    * 4×16 with the cut raised to 7 re-measures at slope 1.95, and the
    * lossless size prefilter removes only 13% of that mass). Any
    * candidate stage with guaranteed recall at radius 7 must enumerate
    * that set — sub-quadratic simhash REQUIRES the tight radius, which
    * in turn misses true pairs whose signatures are noisy (per-bit flip
    * rate ≈ 0.1 at J≈0.9 for 30-100-shingle docs; measured: radius 3
    * alone misses 3/21, 4/18, 19/178 true pairs across the SFs). The
    * registered op therefore pairs this tier with MinHash-band
    * candidates — see [[simhash]]. The Hamming cut at the derived
    * radius rides INSIDE the join condition: band buckets cluster hard
    * on shared topic vocabulary (measured 6.7M raw band collisions from
    * 5k docs at sf0.1 at 8×8), and the fused cut drops that inside the
    * join stage — dropDuplicates then shuffles the survivors, not the
    * collision fan-out. */
  def simhashCandidatesOf(
      sigs: DataFrame, bands: Int = 4, bitsPerBand: Int = 16,
      cutRadius: Option[Int] = None,
      bucketCap: Option[Int] = None): DataFrame = {
    require(bands * bitsPerBand == 64,
      s"bands ($bands) × bitsPerBand ($bitsPerBand) must tile the 64-bit signature")
    // The GUARANTEED radius follows from the banding by pigeonhole
    // (bands - 1). The fused Hamming CUT may sit above it: the cut is a
    // cost lever before exact verification, never a correctness gate —
    // raising it past the guarantee admits pairs whose band collision is
    // probabilistic rather than guaranteed (recall for those must be
    // established by measurement on the target corpus, as the registered
    // op did, PERF.md round 5).
    val radius = cutRadius.getOrElse(bands - 1)
    require(radius >= bands - 1,
      s"cutRadius ($radius) below the pigeonhole guarantee (${bands - 1}) " +
        "would silently drop guaranteed-colliding pairs")
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
    val allBanded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until bands).map(bd =>
        shiftright(col("simhash"), bd * bitsPerBand).bitwiseAND(lit(mask))): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    // Over-full buckets are SIGNATURE CONCENTRATION, not near-dup mass:
    // on a closed-vocabulary corpus the per-bit vote margin of a long
    // doc is dominated by the vocabulary's fixed hash sums, so long
    // docs' signatures converge toward the vocabulary centroid and one
    // bucket per band fills quadratically (measured on the 10× soak
    // corpus: the uncapped tier grows at exponent ~1.9 while TRUE pairs
    // stay linear). Dropping whole buckets above the cap bounds the
    // band join by cap × buckets; pairs inside dropped buckets are
    // covered by the hybrid's minhash tier (recall 1.0 at J≥0.9,
    // measured — the same J-gap precondition the oracle already
    // states).
    val banded = bucketCap match {
      case Some(cap) =>
        allBanded.withColumn("bn", count(lit(1)).over(Window
            .partitionBy(col("band"), col("bucket"))))
          .filter(col("bn") <= cap).drop("bn")
      case None => allBanded
    }
    val a = banded.alias("sa")
    val b = banded.alias("sb")
    a.join(b,
        col("sa.band") === col("sb.band") &&
          col("sa.bucket") === col("sb.bucket") &&
          col("sa.doc_id") < col("sb.doc_id") &&
          bit_count(col("sa.simhash").bitwiseXOR(col("sb.simhash"))) <= radius)
      .select(col("sa.doc_id").as("doc_id_a"), col("sb.doc_id").as("doc_id_b"),
        bit_count(col("sa.simhash").bitwiseXOR(col("sb.simhash"))).as("hamming"))
      .dropDuplicates("doc_id_a", "doc_id_b")
  }

  /** SimHash's contract is scoped to documents with at least this many
    * distinct shingles. Short docs are simhash's textbook weakness: a
    * bit of the signature flips when its word-hash vote margin crosses
    * zero, and margins scale with √n_words — on a 10-word doc a single
    * edit can flip 9-12 of the 64 bits (measured: the sf0.1 corpus'
    * short-doc near-dup pairs reach Hamming 12), while docs with ≥32
    * shingles stay ≤7 at sf0.001/0.01/0.1 (PERF.md). Short docs
    * belong to the MinHash path, whose per-shingle MIN signatures are
    * length-robust (measured recall 1.0 on the same corpus). */
  val SimhashMinShingles = 32

  /** In-scope (doc_id, n_sh) for the simhash contract: docs with
    * ≥[[SimhashMinShingles]] distinct shingles (short-doc vote margins
    * are unstable) and ≤[[SimhashWordCap]] words (the signature's word
    * window — gating BOTH sides keeps signatures exact for every
    * in-scope doc, so the slice cap can never silently break the
    * oracle). Scope applied BEFORE banding: out-of-scope docs can't
    * appear in any contract pair, and shrinking the banding population
    * shrinks the candidate join quadratically. */
  private[graft] def simhashScopeSizes(
      spark: SparkSession, dir: String): DataFrame = {
    val wordsOk = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(asciiLower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+")).as("n_words"))
      .filter(col("n_words") <= SimhashWordCap)
      .select("doc_id")
    shingleRows(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      .filter(col("n_sh") >= SimhashMinShingles)
      .join(wordsOk, Seq("doc_id"))
  }

  private val simhashScopeCache = new SessionCache.Cache[DataFrame]

  /** [[simhashScopeSizes]] session-cached (r14): the word-count pass
    * over the documents scan + the shingle-count aggregate ran fresh
    * per consumer run (the hybrid op, the recall telemetry, the
    * radius-7 reference). Tiny frame (one row per in-scope doc), same
    * staleness law as every index cache. Parity spec-pinned. */
  private[graft] def simhashScopeSizesCached(
      spark: SparkSession, dir: String): DataFrame =
    simhashScopeCache.getOrBuild(spark, dir, "documents.parquet",
      "simhash-scope")(simhashScopeSizes(spark, dir).localCheckpoint())

  /** Attach in-scope sizes to candidate pairs (scope-filtering them in
    * the same joins) and apply the lossless size prefilter: J≥0.5
    * requires min/max distinct-shingle ratio ≥ 0.5 — drops hamming-near
    * but size-skewed candidates before the exact-verify shingle join. */
  private def scopeAndSizeBand(cand: DataFrame, sizes: DataFrame): DataFrame =
    cand
      .join(sizes.select(col("doc_id").as("doc_id_a"), col("n_sh").as("n_a")),
        Seq("doc_id_a"))
      .join(sizes.select(col("doc_id").as("doc_id_b"), col("n_sh").as("n_b")),
        Seq("doc_id_b"))
      .filter(least(col("n_a"), col("n_b")) * 2 >=
        greatest(col("n_a"), col("n_b")))

  /** Band-bucket cap of the hybrid's tight tier (members per (band,
    * bucket) before the bucket is dropped outright). Sized from the
    * 10× soak: uniform load at 16-bit bands is ≪ 1 doc per bucket even
    * at 50k docs, so any bucket past tens of members is the
    * closed-vocabulary signature-concentration degeneracy (see
    * [[simhashCandidatesOf]]), and the measured true-pair mass inside
    * capped buckets is fully covered by the minhash tier (the capped
    * and uncapped hybrids verify the same pairs: PERF.md). */
  val SimhashBucketCap = 64

  /** The registered candidate stage of [[simhash]]: the 4×16/radius-3
    * banded tier (bucket-capped) UNION MinHash-band candidates,
    * scope-filtered and size-banded (its candidate growth: PERF.md). */
  private[graft] def simhashHybridCandidates(
      spark: SparkSession, dir: String,
      bucketCap: Option[Int] = Some(SimhashBucketCap)): DataFrame = {
    val sizes = simhashScopeSizesCached(spark, dir)
    val inScopeSigs = simhashSignaturesCached(spark, dir)
      .join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("simhash"))
    val tight = simhashCandidatesOf(inScopeSigs, // 4×16, radius 3
        bucketCap = bucketCap)
      .select("doc_id_a", "doc_id_b")
    val noisy = minhashCandidates(spark, dir)
      .select("doc_id_a", "doc_id_b")
    scopeAndSizeBand(
      tight.union(noisy).dropDuplicates("doc_id_a", "doc_id_b"), sizes)
  }

  /** SimHash near-dup detection, two-stage: banded-signature candidate
    * generation (map-only signatures, band-bucket join) followed by
    * exact-Jaccard verification, so the output is exactly the J≥0.5
    * near-dup pair set over in-scope docs (see [[simhashScopeSizes]]).
    * Oracled against the all-pairs exact SQL with the same gates.
    *
    * The candidate stage is a measured-sub-quadratic HYBRID — two tiers,
    * each covering the other's failure mode:
    *
    *  1. 4×16/radius-3 banding (the Manku WWW'07 web-scale operating
    *     point): pigeonhole-GUARANTEED recall at signature Hamming ≤ 3,
    *     candidate exponent 1.49 measured across the sf0.01→sf0.1 step.
    *  2. MinHash band candidates ([[minhashCandidates]], 8 bands × 4
    *     rows): per-shingle MIN signatures are length-robust where
    *     simhash vote margins are not — banding collision probability at
    *     J=0.9 is 1−(1−0.9⁴)⁸ ≈ 0.9999, measured deterministically 1.0
    *     on this corpus (signatures are fixed xxhash64 — the SAME
    *     measured-recall basis as the three green minhash oracles);
    *     candidate exponent 1.01 measured.
    *
    * Why not one tier? Round-5 measurement (PERF.md):
    * in-scope true pairs (all at J≥0.9) reach signature Hamming 7 — the
    * per-bit flip rate of a J≈0.9 pair is ≈0.1 regardless of doc length
    * in the 30-100-shingle range where this corpus' near-dups live, so
    * radius-3 banding alone misses 3/21, 4/18, 19/178 across the SFs.
    * But guaranteeing recall at radius 7 forces the candidate set to
    * contain EVERY Hamming≤7 pair, and that set is itself quadratic on
    * topic-clustered corpora (~40k pairs from 5k docs at sf0.1;
    * geometry-independent — 4×16 with the cut raised to 7 re-measures
    * at slope 1.95, same as 8×8). The radius-7 single-tier form
    * survives as [[simhashRadius7]] for small blocks; the hybrid is the
    * 100 TB default: both tiers linear-ish, union recall 1.0 measured
    * across all SFs. */
  val simhash: Op = Op(
    "q_simhash",
    allPairsJaccardSql(
      s"""
         |   AND len(a.sh) >= $SimhashMinShingles AND len(b.sh) >= $SimhashMinShingles
         |   AND a.n_words <= $SimhashWordCap AND b.n_words <= $SimhashWordCap""".stripMargin)) { (spark, dir) =>
    verifyExact(simhashHybridCandidates(spark, dir),
        shingleArrays(spark, dir), Seq.empty)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  /** Single-tier 8×8/radius-7 variant — the former registered wiring.
    * Its recall argument needs no second tier (in-scope pairs max out at
    * signature Hamming 7, measured across all SFs (PERF.md),
    * inside the radius-7 pigeonhole guarantee), but its candidate stage
    * must enumerate the corpus' whole Hamming≤7 pair set, which is
    * measured-quadratic on topic-clustered text (exponent 1.95) — a
    * small-block tool, not a 100 TB default. Kept as the recall
    * reference: equals [[simhash]] output wherever both run (spec). */
  def simhashRadius7(spark: SparkSession, dir: String): DataFrame = {
    val sizes = simhashScopeSizesCached(spark, dir)
    val inScopeSigs = simhashSignaturesCached(spark, dir)
      .join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("simhash"))
    val cand = scopeAndSizeBand(
      simhashCandidatesOf(inScopeSigs, bands = 8, bitsPerBand = 8)
        .select("doc_id_a", "doc_id_b"), sizes)
    verifyExact(cand, shingleArrays(spark, dir), Seq.empty)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }
}
