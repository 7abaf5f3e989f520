package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over the `embeddings` table (north star):
  * brute-force cosine top-k as the oracled baseline, LSH-bucketed
  * (random-hyperplane) as the scale path, plus embedding near-dup pairs.
  *
  * Cross-engine determinism: embeddings are quantized to integer
  * micro-units (×1e6) so dot products and norms are EXACT integers
  * (64 dims × (2.5e5)² ≈ 4e12 « 2⁶³ and « 2⁵³, so the final
  * double conversion is lossless); cosine = dot/(√n1·√n2) then uses
  * only IEEE-defined ops, making Spark and DuckDB bit-identical. Ties
  * in top-k are totalized by candidate id.
  *
  * Scale notes: queries are broadcast (small side), candidates stream —
  * brute force is one map-side pass, no shuffle except top-k. The LSH
  * variant buckets candidates by hyperplane sign bits so each query
  * probes ~1/2^bits of the data; at 100 TB you'd persist the bucketed
  * table sorted by bucket (partition pruning on probe).
  */
object Similarity {

  /** Quantized embedding: float[] → bigint[] micro-units. */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * 1000000).cast("long"))

  /** Exact integer dot product of two quantized vectors: the native
    * codegen'd [[graft.expressions.LongArrayDot]]. */
  def idot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def inorm2(a: Column): Column = idot(a, a)

  def cosine(dot: Column, n1: Column, n2: Column): Column =
    dot.cast("double") / (sqrt(n1.cast("double")) * sqrt(n2.cast("double")))

  private[operators] val QuantSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT))"

  /** [[quantized]] plus the label column: (vec_id, label, v, n2). */
  def quantizedLabeled(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("v"))
      .withColumn("n2", inorm2(col("v")))
      .filter(col("n2") > 0)

  /** Quantized embeddings with positive integer norms: (vec_id, v, n2). */
  def quantized(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", inorm2(col("v")))
      .filter(col("n2") > 0)

  /** Seed coarse-quantizer codebook: every `stride`-th vector.
    * (cent_id, cv, cn). The fixed default keeps the small-corpus
    * canopy/recall-reference ops on their historical geometry; the
    * Lloyd-trained IVF path derives its stride from the corpus via
    * [[ivfLawStride]] instead (the r14 second-decade soak catch). */
  def ivfSeedCodebook(n: DataFrame, stride: Long = 50): DataFrame =
    n.filter(col("vec_id") % stride === 0).select(
      col("vec_id").as("cent_id"), col("v").as("cv"), col("n2").as("cn"))

  /** Centroid-count law of the Lloyd-trained coarse quantizer (r14
    * second-decade soak catch — the q_ann_ivf analog of the r13 IMI
    * occupancy law): a FIXED stride makes K = N/stride grow linearly,
    * so the broadcast assignment scores N·K = N²/stride pairs —
    * measured exponent 1.86 at the sf1→sf10 step (629 s at 200k
    * vectors). `stride = max(50, ⌈√(1.25·N)⌉)` puts both K and the
    * per-cell occupancy on √N (the classic balanced-IVF sizing), so
    * assignment is Θ(N^1.5) and probe cost per query Θ(√N). The 1.25
    * constant is calibrated so every gate corpus stays BIT-IDENTICAL:
    * √(1.25·2000) = 50 exactly at sf0.1's 2000 qualifying vectors,
    * and the max(50, ·) floor holds everything at or below that at
    * the historical stride 50. N is the qualifying population
    * (n2 > 0 — the exact frame the codebook trains on); the oracle
    * derives the same law from the same COUNT, so training replays
    * bit-for-bit at any scale. Both sides compute ⌈√(1.25N)⌉ in IEEE
    * double — exact for N far below 2^50. */
  def ivfLawStride(nQualifying: Long): Long =
    math.max(50L, math.ceil(math.sqrt(1.25 * nQualifying)).toLong)

  /** Nearest-centroid assignment: (cell, v, cos) per vector, centroid
    * broadcast, argmax collapsed map-side via the bounded-heap argmax
    * (BestAgg r15 — the former min(struct) planned as SortAggregate
    * over the whole N×K scored stream). Ordering identical: largest
    * (cos, −cent_id) ≡ smallest (−cos, cent_id). */
  def ivfAssign(n: DataFrame, cents: DataFrame): DataFrame =
    n.join(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cent_id"),
        cosine(idot(col("v"), col("cv")), col("n2"), col("cn")).as("cos"))
      .groupBy(col("vec_id"))
      .agg(BestAgg.largest1(struct(col("cos"),
        negate(col("cent_id")).as("ncell"), col("v").as("v"))).as("best"))
      .select(negate(col("best.ncell")).as("cell"), col("best.v").as("v"),
        col("best.cos").as("cos"))

  /** Centroid update from an assignment: element-wise integer SUM of
    * each cell's members — cosine is scale-invariant, so the sum ≡ the
    * mean direction, and everything stays exact int64 (no float
    * division): that is what keeps the refinement DuckDB-oracle-able.
    * One element-wise vector-sum aggregate per cell (`graft_vecsum`,
    * r15): ONE exchange with map-side partial aggregation, one
    * dims-long buffer per (mapper, cell), where the former posexplode
    * → SUM per (cell, dim) → ordered re-collect multiplied the update
    * stream ×dims through TWO exchanges — same integers either way
    * (long addition is commutative/associative, so the per-dim sums
    * are bit-identical). Cells that lose all members drop out. */
  def ivfUpdate(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cell"))
      .agg(call_function("graft_vecsum", col("v")).as("cv"))
      .select(col("cell").as("cent_id"), col("cv"))
      .withColumn("cn", inorm2(col("cv")))
      .filter(col("cn") > 0)

  /** Seed codebook refined by ONE Lloyd iteration — the deterministic
    * iteration count the q_ann_ivf oracle replays; more rounds are the
    * same job repeated ([[ivfLloydTrain]]). Seeded at [[ivfLawStride]]
    * (one scalar count of the qualifying population — bounded
    * metadata, the IMI-law pattern). */
  def ivfLloydCodebook(n: DataFrame, nQualifying: Option[Long] = None)
      : DataFrame =
    ivfUpdate(ivfAssign(n,
      ivfSeedCodebook(n, ivfLawStride(nQualifying.getOrElse(n.count())))))

  private val qualCountCache = new SessionCache.Cache[Long]

  /** The qualifying-population count (n2 > 0) behind the stride law —
    * session-cached bounded metadata (the fuzzy candidate-estimate
    * device): the law re-derives the same scalar on every run of the
    * op, and a fresh COUNT job per bench pass measures the scan, not
    * the training. Staleness follows the embeddings listing signature
    * like every cache in this stack. */
  private[graft] def qualifyingCount(spark: SparkSession, dir: String): Long =
    qualCountCache.getOrBuild(spark, dir, "embeddings.parquet", "qualifying")(
      quantized(spark, dir).count())

  /** Spherical-k-means objective under a codebook: Σ best-cos (higher
    * is better). One scalar to the driver — metadata-sized. */
  def ivfObjective(n: DataFrame, cents: DataFrame): Double =
    ivfAssign(n, cents).agg(sum(col("cos"))).head.getDouble(0)

  /** Iterated spherical Lloyd with a convergence stop: run assign →
    * update until the objective's relative gain drops below `tol` (or
    * `maxIters`). A non-improving step is rolled back, so the returned
    * codebook is the best seen and the recorded objective trace is
    * monotone non-decreasing — the property DedupSimilaritySpec asserts
    * at ≥3 iterations. Oracled ops stay on the deterministic ONE-step
    * [[ivfLloydCodebook]]; this is the production training knob (each
    * round is the same linear assign/update job — at 100 TB you pay
    * iterations × one pass, nothing super-linear).
    */
  def ivfLloydTrain(n: DataFrame, maxIters: Int,
      tol: Double = 1e-4): (DataFrame, Seq[Double]) = {
    var cents = ivfSeedCodebook(n, ivfLawStride(n.count())).localCheckpoint()
    val trace = scala.collection.mutable.ArrayBuffer(
      ivfObjective(n, cents))
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      // codebooks are tiny (≈ √N rows under the law stride) —
      // checkpoint truncates the
      // per-round lineage growth that would otherwise replan k rounds deep
      val next = ivfUpdate(ivfAssign(n, cents)).localCheckpoint()
      val obj = ivfObjective(n, next)
      val gain = obj - trace.last
      if (gain > 0) { cents = next; trace += obj }
      if (gain <= math.abs(trace.last) * tol) converged = true
      it += 1
    }
    (cents, trace.toSeq)
  }

  /** Brute-force cosine top-k: queries = vec_id < 10, k = 5. */
  val annBruteForce: Op = Op(
    "q_ann_cosine",
    s"""WITH e AS (
       |  SELECT vec_id, $QuantSql AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, v,
       |         list_sum(list_transform(v, x -> x*x)) AS n2
       |  FROM e
       |), q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn FROM n WHERE vec_id < 10),
       |scored AS (
       |  SELECT q_id, c.vec_id AS c_id,
       |         CAST(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*c.v[i])) AS DOUBLE)
       |           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS cos
       |  FROM q, n c
       |  WHERE c.vec_id <> q_id AND qn > 0 AND c.n2 > 0
       |)
       |SELECT q_id, c_id, cos, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
       |  FROM scored) WHERE rk <= 5""".stripMargin) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", inorm2(col("v")))
    val q = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn"))
    val scored = e.join(broadcast(q),
        col("vec_id") =!= col("q_id") && col("qn") > 0 && col("n2") > 0)
      .select(col("q_id"), col("vec_id").as("c_id"),
        cosine(idot(col("qv"), col("v")), col("qn"), col("n2")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
  }

  /** Embedding near-duplicates: pairs within the same label block with
    * cosine ≥ 0.35 (the synthetic data's within-cluster tail).
    *
    * The registered path is the EXACT blocked kernel: an equi-join on
    * `label` (hash-partitioned — the "all pairs" happen inside join
    * groups, never as a cartesian product) with the bit-exact integer
    * cosine. That quadratic-per-block cost is INTRINSIC to an exact
    * contract at this low threshold, not an implementation choice —
    * measured and provable on this data: full coverage of the cos≥0.35
    * pair set via IVF-cell co-assignment needs probing 12 of 40 cells at
    * sf0.1, i.e. 99% of all pairs (PERF.md), and the triangle
    * inequality on angular distance shows why no sound cell canopy can
    * exist here — the mean angle to the nearest centroid (~71°, mean
    * best-cos 0.32) already EXCEEDS the pair-threshold angle (69.5°),
    * so a radius rule that guarantees coverage must probe ~every cell.
    * At 100 TB an exact low-τ pair scan is a sharded block
    * matrix-multiply; the sub-quadratic regime belongs to HIGH
    * thresholds, where [[embedNearDupAnn]] provides the cell-canopy
    * variant with measured recall (1.0 at sf0.001/0.01, 0.69 at sf0.1
    * for τ=0.35; rising toward 1 as τ → cluster radius). */
  val embedNearDup: Op = Op(
    "q_embed_neardup",
    s"""WITH e AS (
       |  SELECT vec_id, label, $QuantSql AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, label, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |), pairs AS (
       |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
       |         CAST(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
       |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE a.n2 > 0 AND b.n2 > 0
       |)
       |SELECT label, id_a, id_b, cos FROM pairs WHERE cos >= 0.35""".stripMargin) { (spark, dir) =>
    graft.EngineConf.requireCandidateBudget("q_embed_neardup",
      "q_embed_neardup_ann", embedPairEstimate(spark, dir),
      graft.EngineConf.candidateBudget(spark))
    embedNearDupVia(spark, dir, allPairs = true)
  }

  /** Candidate-volume estimate for [[embedNearDup]]'s label-blocked
    * all-pairs join: Σ_label C(n,2) from the label histogram — one
    * metadata aggregate, computed BEFORE any pair exists (r12 verdict
    * #5 guard). */
  private val embedEstimateCache = new SessionCache.Cache[Long]

  private[graft] def embedPairEstimate(
      spark: SparkSession, dir: String): Long =
    // session-cached: the histogram job runs once per (session, corpus)
    embedEstimateCache.getOrBuild(spark, dir, "embeddings.parquet") {
      Tables.embeddings(spark, dir)
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)))
        .head().getLong(0) // 1-row scalar — bounded metadata collect
    }

  /** Cell-canopy ANN variant of [[embedNearDup]]: candidates from
    * IVF-cell co-assignment (top-nprobe cells per vector), exactly
    * verified — no false positives, sub-quadratic candidates, recall<1
    * by construction at low thresholds (see [[embedNearDup]] scaladoc
    * for the measured numbers and the geometric argument).
    *
    * Oracled as its OWN op — not as a drop-in for the exact kernel:
    * every step is deterministic integer/IEEE math (seed codebook =
    * every 50th vector; cell score = the exact quantized cosine; the
    * top-nprobe slice totalizes ties by cent_id), so DuckDB replays
    * the identical candidate set and the hash-exact contract holds
    * honestly — the contract is "this canopy's verified pairs", with
    * recall vs [[embedNearDup]] pinned separately in
    * DedupSimilaritySpec. This is the 100 TB shape: candidates come
    * from an equi-join on (cell, label), candidate volume is bounded
    * by cell co-membership (sub-quadratic; pinned in
    * DedupSimilaritySpec), and the exact kernel remains the recall
    * reference. */
  val embedNearDupAnn: Op = Op(
    "q_embed_neardup_ann",
    s"""WITH e AS (
       |  SELECT vec_id, label, $QuantSql AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, label, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |), nn AS (
       |  SELECT * FROM n WHERE n2 > 0
       |), c0 AS (
       |  SELECT vec_id AS cent_id, v AS cv, n2 AS cn FROM nn WHERE vec_id % 50 = 0
       |), scored AS (
       |  SELECT a.vec_id, a.label, c.cent_id,
       |         CAST(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*c.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS cos
       |  FROM nn a, c0 c
       |), cells AS (
       |  SELECT vec_id, label, cent_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
       |    FROM scored) WHERE rn <= 4
       |), cand AS (
       |  SELECT DISTINCT a.label, a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM cells a JOIN cells b
       |    ON a.cell = b.cell AND a.label = b.label AND a.vec_id < b.vec_id
       |), pairs AS (
       |  SELECT cand.label, cand.id_a, cand.id_b,
       |         CAST(list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i])) AS DOUBLE)
       |           / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) AS cos
       |  FROM cand
       |  JOIN nn x ON x.vec_id = cand.id_a
       |  JOIN nn y ON y.vec_id = cand.id_b
       |)
       |SELECT label, id_a, id_b, cos FROM pairs WHERE cos >= 0.35""".stripMargin) {
    (spark, dir) => embedNearDupVia(spark, dir, allPairs = false)
  }

  /** Cell-canopy candidate pairs of the ANN near-dup path: each vector
    * is assigned its top-`nprobe` IVF seed cells (ties totalized by
    * cent_id — the same order DuckDB's ROW_NUMBER produces), and a
    * candidate is any same-label pair sharing a cell. Exposed so the
    * sub-quadraticity of the candidate volume is measurable (and
    * spec-pinned) independently of the verify stage. */

  def cellCanopyCandidates(e: DataFrame, nprobe: Int): DataFrame = {
    val cells = canopyCells(e, nprobe)
    val ca = cells.alias("ca")
    val cb = cells.alias("cb")
    ca.join(cb,
        col("ca.cell") === col("cb.cell") &&
          col("ca.label") === col("cb.label") &&
          col("ca.vec_id") < col("cb.vec_id"))
      .select(col("ca.label").as("label"),
        col("ca.vec_id").as("id_a"), col("cb.vec_id").as("id_b"))
      .distinct()
  }

  /** Per-vector top-`nprobe` canopy cells from the seed codebook:
    * (vec_id, label, cell). The shared assignment stage of
    * [[cellCanopyCandidates]], [[knnGraph]] and [[semdedup]] —
    * nprobe nearest cells per vector as ONE aggregate (no window
    * shuffle of the N×K scored rows beyond the groupBy): collect
    * the K (small, broadcast codebook) scored cells per vector,
    * sort by (-cos, cent_id) — same total order as annIvf / DuckDB's
    * `ROW_NUMBER() OVER (ORDER BY cos DESC, cent_id)` — and slice
    * the top nprobe. */
  def canopyCells(e: DataFrame, nprobe: Int, carryVec: Boolean = false,
      stride: Int = 50): DataFrame = {
    val cents = ivfSeedCodebook(e, stride)
    val scored = e.join(broadcast(cents))
      .select(col("vec_id"), col("label"), col("v"), col("n2"),
        struct(negate(cosine(idot(col("v"), col("cv")),
          col("n2"), col("cn"))).as("ncos"), col("cent_id").as("cell"))
          .as("sc"))
    val top = slice(array_sort(collect_list(col("sc"))), 1, nprobe).as("cs")
    if (carryVec)
      scored.groupBy(col("vec_id"), col("label"))
        .agg(top, first(col("v")).as("v"), first(col("n2")).as("n2"))
        .select(col("vec_id"), col("label"), col("v"), col("n2"),
          explode(col("cs.cell")).as("cell"))
    else
      scored.groupBy(col("vec_id"), col("label"))
        .agg(top)
        .select(col("vec_id"), col("label"),
          explode(col("cs.cell")).as("cell"))
  }

  private[graft] val canopyCache = new SessionCache.Cache[DataFrame]

  /** The GRAPH-geometry canopy (stride 10, nprobe 8, vectors carried)
    * — session-cached AND at rest ([[PersistedStore]], round-7):
    * [[knnGraph]] and [[hardNegatives]] both start from this exact
    * (cell, vec_id, v, n2[, label]) frame, and the assignment (a
    * broadcast codebook scan + one per-vector top-nprobe aggregate) is
    * the candidate stage's whole cost. The assignment runs once per
    * corpus, lands as parquet, and later sessions read it back — at
    * 100 TB this is the cell-bucketed persisted index the ANN scale
    * notes describe. Labels ride along from [[quantizedLabeled]]; cell
    * assignment never reads them, so the label-blind kNN graph and the
    * label-aware negative miner share one index. Parity with fresh
    * construction is spec-pinned. */
  private[graft] def graphCanopy(spark: SparkSession, dir: String): DataFrame =
    canopyCache.getOrBuild(spark, dir, "embeddings.parquet") {
      val store = PersistedStore.ensure(spark, dir, "embeddings.parquet",
        "graph_canopy", "v1") { root =>
        canopyCells(quantizedLabeled(spark, dir), nprobe = 8,
          carryVec = true, stride = 10)
          .write.mode("overwrite").parquet(s"$root/cells")
      }
      Tables.parquet(spark, s"$store/cells")
    }

  /** Shared body: `allPairs = true` is the exact blocked kernel (the
    * registered, oracled path); `false` is the cell-canopy candidate
    * path of [[embedNearDupAnn]]. */
  def embedNearDupVia(spark: SparkSession, dir: String,
      allPairs: Boolean): DataFrame = {
    val nprobe = 4
    val e = quantizedLabeled(spark, dir)
    val candIds: DataFrame =
      if (allPairs) {
        val a = e.alias("ea")
        val b = e.alias("eb")
        a.join(b, col("ea.label") === col("eb.label") &&
            col("ea.vec_id") < col("eb.vec_id"))
          .select(col("ea.label").as("label"),
            col("ea.vec_id").as("id_a"), col("eb.vec_id").as("id_b"))
      } else cellCanopyCandidates(e, nprobe)
    candIds
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("n2").as("na")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("n2").as("nb")), Seq("id_b"))
      .select(col("label"), col("id_a"), col("id_b"),
        cosine(idot(col("va"), col("vb")), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= 0.35)
  }

  /** IVF-style ANN (inverted-file coarse quantizer, the other classic
    * scale path next to LSH): a deterministic seed codebook (every
    * [[ivfLawStride]]-th vector — K and occupancy both ≈ √N, the
    * balanced-IVF sizing; the fixed stride 50 it replaces measured
    * exponent 1.86 at the r14 sf1→sf10 soak step, the same
    * linear-K-quadratic-assignment defect class as the r13 IMI
    * occupancy law) refined by ONE Lloyd iteration, every vector
    * assigned to its nearest refined centroid (its CELL), each query
    * probing only the nprobe=2 nearest cells.
    *
    * The Lloyd step stays DuckDB-oracle-able through two observations:
    * (a) cosine is scale-invariant, so the refined centroid can be the
    * element-wise integer SUM of its members instead of their mean —
    * exact in int64 (64 dims × 2.5e5 µ-units × ≤N members stays far
    * under 2⁶³), no float division anywhere; (b) the int→double
    * conversions in the cosine are IEEE-identical cross-engine. The
    * iteration itself is plain relational algebra: posexplode → SUM per
    * (cell, dim) → re-collect ordered — linear shuffle of N×64 rows.
    *
    * Scale shape: centroids broadcast; assignment is argmax-per-row
    * computed as a `min(struct(-cos, cent_id))` aggregate — the
    * broadcast nested-loop fan-out (N×K rows) collapses back to N
    * inside the map stage via partial aggregation, so the shuffle
    * carries one row per vector. Probing joins the (tiny, broadcast)
    * query-cell list against the assignment on cell id: each query
    * scans ~nprobe/K of the data. At 100 TB the assigned table
    * persists bucketed by cell → probes become partition-pruned scans,
    * and more Lloyd rounds are the same linear job repeated.
    */
  val annIvf: Op = Op(
    "q_ann_ivf",
    s"""WITH e AS (
       |  SELECT vec_id, $QuantSql AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |), law AS (
       |  SELECT GREATEST(50, CAST(CEIL(SQRT(1.25 * COUNT(*))) AS BIGINT)) AS stride
       |  FROM n WHERE n2 > 0
       |), c0 AS (
       |  SELECT vec_id AS cent_id, v AS cv, n2 AS cn
       |  FROM n WHERE vec_id % (SELECT stride FROM law) = 0 AND n2 > 0
       |), scored0 AS (
       |  SELECT a.vec_id, a.v, c0.cent_id,
       |         CAST(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*c0.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c0.cn AS DOUBLE))) AS cos
       |  FROM n a, c0 WHERE a.n2 > 0
       |), assign0 AS (
       |  SELECT vec_id, v, cent_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
       |    FROM scored0) WHERE rn = 1
       |), sums AS (
       |  SELECT cell, i, CAST(SUM(v[i]) AS BIGINT) AS s
       |  FROM assign0, range(1, 65) t(i)
       |  GROUP BY cell, i
       |), c1 AS (
       |  SELECT cell AS cent_id, list(s ORDER BY i) AS cv
       |  FROM sums GROUP BY cell
       |), c1n AS (
       |  SELECT cent_id, cv, list_sum(list_transform(cv, x -> x*x)) AS cn FROM c1
       |), scored AS (
       |  SELECT a.vec_id, a.v, a.n2, c.cent_id,
       |         CAST(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*c.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS cos
       |  FROM n a, c1n c WHERE a.n2 > 0 AND c.cn > 0
       |), assign AS (
       |  SELECT vec_id, v, n2, cent_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
       |    FROM scored) WHERE rn = 1
       |), qcells AS (
       |  SELECT vec_id AS q_id, cent_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
       |    FROM scored WHERE vec_id < 10) WHERE rn <= 2
       |), pairs AS (
       |  SELECT q.q_id, a.vec_id AS c_id,
       |         CAST(list_sum(list_transform(range(1, len(qa.v)+1), i -> qa.v[i]*a.v[i])) AS DOUBLE)
       |           / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) AS cos
       |  FROM qcells q
       |  JOIN assign a ON a.cell = q.cell AND a.vec_id <> q.q_id
       |  JOIN assign qa ON qa.vec_id = q.q_id
       |)
       |SELECT q_id, c_id, cos, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
       |  FROM pairs) WHERE rk <= 5""".stripMargin) { (spark, dir) =>
    val nprobe = 2
    val n = quantized(spark, dir)
    val cents1 = ivfLloydCodebook(n, Some(qualifyingCount(spark, dir)))
    val scored = n.join(broadcast(cents1))
      .select(col("vec_id"), col("v"), col("n2"), col("cent_id"),
        cosine(idot(col("v"), col("cv")), col("n2"), col("cn")).as("cos"))
    // nearest centroid per vector as an aggregate (not a window),
    // through the bounded-heap argmax (BestAgg r15 — min(struct)
    // planned as SortAggregate over the rescored stream)
    val assign = scored
      .groupBy(col("vec_id"))
      .agg(BestAgg.largest1(struct(col("cos"),
        negate(col("cent_id")).as("ncell"),
        col("v").as("v"), col("n2").as("n2"))).as("best"))
      .select(col("vec_id"), negate(col("best.ncell")).as("cell"),
        col("best.v").as("v"), col("best.n2").as("n2"))
    val qcells = scored.filter(col("vec_id") < 10)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("cos").desc, col("cent_id").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
    val queries = assign.filter(col("vec_id") < 10).select(
      col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn"))
    val pairs = assign
      .join(broadcast(qcells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        cosine(idot(col("qv"), col("v")), col("qn"), col("n2")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
  }

  /** LSH-bucketed ANN (scale path): 8 deterministic pseudo-random
    * hyperplanes (integer coefficients derived from (plane, dim) by a
    * Weyl-style mix) hash every vector to an 8-bit bucket; each query
    * searches only its bucket. Trades recall for a 2⁸ fan-in reduction —
    * the structure that survives 100 TB.
    *
    * Fully oracle-able: the hyperplane coefficients are pure integer
    * arithmetic on (plane, dim), the dot products are exact integers,
    * and the bucket is a sum of indicator bits — DuckDB computes the
    * identical buckets with nested list lambdas, so the driver
    * hash-compares the whole bucketed search end-to-end.
    */
  val annLsh: Op = Op(
    "q_ann_lsh",
    s"""WITH e AS (
       |  SELECT vec_id, $QuantSql AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |), b AS (
       |  SELECT vec_id, v, n2,
       |         CAST(list_sum(list_transform(range(0, 8), p ->
       |           CASE WHEN list_sum(list_transform(range(1, len(v)+1),
       |                  i -> v[i] * ((p * 2654435761 + (i-1) * 40503) % 1000003 - 501501))) > 0
       |                THEN 1 << p ELSE 0 END)) AS BIGINT) AS bucket
       |  FROM n WHERE n2 > 0
       |), q AS (
       |  SELECT vec_id AS q_id, v AS qv, n2 AS qn, bucket FROM b WHERE vec_id < 10
       |), scored AS (
       |  SELECT q.q_id, c.vec_id AS c_id, c.bucket,
       |         CAST(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*c.v[i])) AS DOUBLE)
       |           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS cos
       |  FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.q_id
       |)
       |SELECT q_id, c_id, bucket, cos, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
       |  FROM scored) WHERE rk <= 5""".stripMargin) { (spark, dir) =>
    val planes = 8
    // plane p, dim i → pseudo-random coefficient in [-500k, 500k];
    // materialized as LITERAL arrays (constant-folded, zero per-row
    // cost) and projected with the native dot product
    def coef(p: Int): Column = array((0 until 64).map(i =>
      lit((p * 2654435761L + i * 40503L) % 1000003L - 501501L)): _*)
    def bucketOf(v: Column): Column =
      (0 until planes).map { p =>
        when(idot(v, coef(p)) > 0, 1L << p).otherwise(0L)
      }.reduce(_ + _)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", inorm2(col("v")))
      .filter(col("n2") > 0)
      .withColumn("bucket", bucketOf(col("v")))
    val q = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("q_id"), col("v").as("qv"),
      col("n2").as("qn"), col("bucket"))
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"), col("bucket"),
        cosine(idot(col("qv"), col("v")), col("qn"), col("n2")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
  }

  /** Per-label integer sum-centroid (cosine is scale-invariant, so the
    * element-wise SUM ≡ the mean direction and stays exact int64 — the
    * same trick as [[ivfLloydCodebook]]): (label, cv, cn). One
    * element-wise vector-sum aggregate (the [[ivfUpdate]] r15 device):
    * one exchange producing a label-count-sized table. */
  def labelCentroids(n: DataFrame): DataFrame =
    n.groupBy(col("label"))
      .agg(call_function("graft_vecsum", col("v")).as("cv"))
      .withColumn("cn", inorm2(col("cv")))
      .filter(col("cn") > 0)

  /** Embedding-space outlier detection (the SemDeDup/CCNet-style
    * curation filter): score every vector by cosine to its OWN label's
    * centroid and flag the far tail — mislabeled or off-distribution
    * points a training pipeline drops or routes to review. Two linear
    * passes: the centroid aggregate above (output = one row per label,
    * broadcast back), then one map-only scoring pass over the vectors —
    * no self-join, no window; at 100 TB the score pass is
    * embarrassingly parallel and the centroid table is KB-sized.
    * Threshold −0.05 ≈ the corpus p05 (measured: p05 = −0.051 at
    * sf0.01, range [−0.30, 0.47]). */
  val embedOutlier: Op = Op(
    "q_embed_outlier",
    s"""WITH e AS (
       |  SELECT vec_id, label, $QuantSql AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, label, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |  WHERE list_sum(list_transform(v, x -> x*x)) > 0
       |), ex AS (
       |  SELECT label, i AS pos, v[i] AS x FROM n, unnest(range(1, len(v)+1)) AS t(i)
       |), cs AS (
       |  SELECT label, pos, sum(x) AS s FROM ex GROUP BY label, pos
       |), c AS (
       |  SELECT label, list(s ORDER BY pos) AS cv FROM cs GROUP BY label
       |), cn AS (
       |  SELECT label, cv, list_sum(list_transform(cv, x -> x*x)) AS cn2 FROM c
       |  WHERE list_sum(list_transform(cv, x -> x*x)) > 0
       |)
       |SELECT n.vec_id, n.label,
       |       CAST(list_sum(list_transform(range(1, len(n.v)+1), i -> n.v[i]*cn.cv[i])) AS DOUBLE)
       |         / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) AS cos_centroid,
       |       CAST(list_sum(list_transform(range(1, len(n.v)+1), i -> n.v[i]*cn.cv[i])) AS DOUBLE)
       |         / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) < -0.05 AS is_outlier
       |FROM n JOIN cn ON n.label = cn.label""".stripMargin) { (spark, dir) =>
    outlierScores(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("v"))
      .withColumn("n2", inorm2(col("v")))
      .filter(col("n2") > 0))
  }

  /** [[embedOutlier]] kernel over (vec_id, label, v, n2) rows. */
  def outlierScores(n: DataFrame): DataFrame = {
    val cents = labelCentroids(n)
    n.join(broadcast(cents), Seq("label"))
      .select(col("vec_id"), col("label"),
        cosine(idot(col("v"), col("cv")), col("n2"), col("cn"))
          .as("cos_centroid"))
      .withColumn("is_outlier", col("cos_centroid") < -0.05)
  }

  /** Symmetric per-vector int8 quantization — the storage/bandwidth
    * lever for embedding corpora at 100 TB: 4 bytes → 1 byte per
    * dimension cuts the memory-bandwidth cost of every downstream
    * distance scan 4× (FAISS's `SQ8`; the usual first step before PQ).
    * Per vector: m = max|xᵢ| (exact float compare), scale = 127/m (one
    * IEEE division), qᵢ = round(xᵢ·scale) ∈ [−127, 127] (one IEEE
    * multiply per element; float→double widening is exact, and both
    * engines round half away from zero, so every qᵢ is bit-identical).
    * Reconstruction error is bounded by 1/(2·scale) per dimension.
    *
    * The contract pins the quantized vector through integer checksums
    * (sum, L1, min, max, saturation count) rather than the raw array —
    * scalar columns hash portably across engines; the array itself is
    * asserted element-wise in the spec. Map-only expression work: no
    * shuffle, no join, rides the vectorized scan. */
  val quantizeInt8: Op = Op(
    "q_quantize_int8",
    """WITH s AS (
      |  SELECT vec_id,
      |    CASE WHEN list_max(list_transform(embedding, e -> abs(e))) > 0
      |         THEN 127.0 / CAST(list_max(list_transform(embedding, e -> abs(e))) AS DOUBLE)
      |         ELSE 0.0 END AS scale,
      |    embedding
      |  FROM embeddings
      |), v AS (
      |  SELECT vec_id, scale,
      |    list_transform(embedding,
      |      e -> CAST(round(CAST(e AS DOUBLE) * scale) AS INTEGER)) AS qv
      |  FROM s
      |)
      |SELECT vec_id, scale,
      |  CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
      |  CAST(list_aggregate(list_transform(qv, e -> abs(e)), 'sum') AS BIGINT) AS q_l1,
      |  CAST(list_aggregate(qv, 'min') AS INTEGER) AS q_min,
      |  CAST(list_aggregate(qv, 'max') AS INTEGER) AS q_max,
      |  CAST(len(list_filter(qv, e -> abs(e) = 127)) AS INTEGER) AS n_sat
      |FROM v""".stripMargin) { (spark, dir) =>
    quantizedInt8Stats(Tables.embeddings(spark, dir))
  }

  /** [[quantizeInt8]] checksum frame over any (vec_id, embedding) rows.
    * `scale` is materialized as its own column FIRST so the per-element
    * quantize lambda references it by name — inlining [[int8Scale]]'s
    * array-max into the lambda would re-reduce the array once per
    * element (O(d²) per vector). */
  def quantizedInt8Stats(e: DataFrame): DataFrame =
    e.withColumn("scale", int8Scale(col("embedding")))
      .withColumn("qv", int8Vector(col("embedding"), col("scale")))
      .select(
        col("vec_id"),
        col("scale"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + abs(x)).as("q_l1"),
        array_min(col("qv")).as("q_min"),
        array_max(col("qv")).as("q_max"),
        size(filter(col("qv"), x => abs(x) === 127)).as("n_sat"))

  /** Output dimensionality of [[randProj]] — 64 → 16 dims (4×). */
  val RandProjDim = 16

  /** ±1 sign for projection cell (i, j): bit 16 of an LCG seed pushed
    * through one xorshift-multiply round —
    * `h1 = (i·2654435761 + j·1103515245 + 12345) mod 2³¹`,
    * `h2 = h1 xor (h1 >> 13)`, `h3 = (h2·1274126177) mod 2³¹`. The
    * xorshift round is LOAD-BEARING: the raw LCG state is linear in
    * (i, j), so sign(i,·)·sign(i′,·) can be constant across output
    * dims — correlated projection directions, measured norm-ratio
    * tails out to 6× (20σ past the JL bound) on the fixture; with the
    * mix the ratio concentrates exactly as JL predicts (p5/p95 ≈
    * 0.49/1.57 at k=16 — pinned in the spec). All operands
    * non-negative, so Spark's `%`/`shiftright`/`bitwiseXOR` and
    * DuckDB's `%`/`//`/`xor()` agree bit-exactly. */
  private def rpSign(i: Column, j: Column): Column = {
    val h1 = (i.cast("long") * 2654435761L + j.cast("long") * 1103515245L
      + 12345L) % 2147483648L
    val h2 = h1.bitwiseXOR(shiftright(h1, 13))
    when(shiftright((h2 * 1274126177L) % 2147483648L, 16) % 2 === 0, 1L)
      .otherwise(-1L)
  }

  /** Signed random projection (Achlioptas 2003's database-friendly
    * Johnson–Lindenstrauss transform: R ∈ {−1,+1}^{d×k} with
    * p_j = Σᵢ sign(i,j)·qᵢ) over the int8-quantized embeddings — the
    * dimensionality-reduction lever that pairs with [[quantizeInt8]]:
    * int8 cuts bytes-per-dim 4×, the projection cuts dims 4×, so every
    * downstream distance scan (brute force, IVF probe, kNN graph
    * candidate verify) reads 16× less. The sign matrix is never
    * materialized — it is a two-operand integer hash evaluated inside
    * the fold, so the op is map-only expression work riding the
    * vectorized scan: zero exchanges, zero joins, per-row cost d×k
    * integer multiply-adds (plan-gated in PlanQualitySpec).
    *
    * Exactness: elements are the bit-identical int8 cells of
    * [[quantizeInt8]], signs are integer arithmetic, the sum is an
    * integer fold — both engines produce the same BIGINT, no float
    * order sensitivity. Long-format output (vec_id, dim, p): the
    * projected vector as data for downstream ops, one row per cell. */
  val randProj: Op = Op(
    "q_rand_proj",
    s"""WITH s AS (
       |  SELECT vec_id,
       |    CASE WHEN list_max(list_transform(embedding, e -> abs(e))) > 0
       |         THEN 127.0 / CAST(list_max(list_transform(embedding, e -> abs(e))) AS DOUBLE)
       |         ELSE 0.0 END AS scale,
       |    embedding
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      e -> CAST(round(CAST(e AS DOUBLE) * scale) AS BIGINT)) AS qv
       |  FROM s
       |), d AS (
       |  SELECT vec_id, j AS dim, qv
       |  FROM q CROSS JOIN (SELECT unnest(range(0, $RandProjDim)) AS j) t
       |), h AS (
       |  SELECT vec_id, dim, qv,
       |    list_transform(range(0, len(qv)),
       |      i -> (i * 2654435761 + dim * 1103515245 + 12345)
       |             % 2147483648) AS h1
       |  FROM d
       |)
       |SELECT vec_id, CAST(dim AS INTEGER) AS dim,
       |  CAST(list_sum(list_transform(range(0, len(qv)),
       |    i -> qv[i + 1] *
       |      CASE WHEN ((xor(h1[i + 1], h1[i + 1] // 8192) * 1274126177)
       |                   % 2147483648 // 65536) % 2 = 0
       |           THEN 1 ELSE -1 END)) AS BIGINT) AS p
       |FROM h""".stripMargin) { (spark, dir) =>
    // posexplode_OUTER is load-bearing: the inner form triggers
    // InferFiltersFromGenerate, whose size(pv) > 0 ∧ isnotnull(pv)
    // guard is pushed through the projection and re-evaluates the
    // d·k kernel a second time per row. pv is structurally non-empty
    // (k = RandProjDim, even for empty/all-zero embeddings), so
    // outer ≡ inner and the guard is pure waste.
    randProjVectors(Tables.embeddings(spark, dir))
      .select(col("vec_id"), posexplode_outer(col("pv")).as(Seq("dim", "p")))
  }

  /** [[randProj]] kernel over any (vec_id, embedding) rows: the
    * projected BIGINT vector per row — the native codegen'd
    * [[graft.expressions.RandProjExpr]], one primitive d·k loop inside
    * whole-stage codegen. */
  def randProjVectors(e: DataFrame): DataFrame =
    e.withColumn("pv",
        call_function("graft_randproj", col("embedding"), lit(RandProjDim)))
      .select(col("vec_id"), col("pv"))

  /** The built-in HOF form of the projection — the parity reference
    * for the native expression (RandProjSpec pins fold ≡ native
    * element-wise, including null elements: a null cell quantizes to
    * 0 — the `coalesce` below — exactly as the native expression's
    * `isNullAt` branch contributes 0).
    *
    * Evaluation shape is load-bearing: a `transform(dims, j =>
    * aggregate(qv …))` form references `qv`/`scale` once each, so
    * CollapseProject INLINES them into the lambda bodies — `qv`
    * recomputes per output dim and `scale` per element, O(d²·k)
    * interpreted evals per row (measured 22 s at sf0.1, vs 3.1 s for
    * the single-fold form, vs 0.1 s native). The fold pins ONE scale
    * eval per row via `array_repeat` and accumulates all k output dims
    * in ONE pass over the zipped (q, i) pairs — the irreducible d·k
    * multiply-adds no matter what the optimizer inlines. */
  private[graft] def randProjFold(emb: Column): Column = {
    val dims = sequence(lit(0), lit(RandProjDim - 1))
    val qv = zip_with(emb,
      array_repeat(int8Scale(emb), size(emb)),
      (x, s) => coalesce(round(x.cast("double") * s).cast("long"), lit(0L)))
    aggregate(
      zip_with(qv, sequence(lit(0), size(emb) - 1),
        (q, i) => struct(q.as("q"), i.as("i"))),
      transform(dims, _ => lit(0L)),
      (acc, t) => zip_with(acc, dims,
        (a, j) => a + t.getField("q") * rpSign(t.getField("i"), j)))
  }

  /** Product-quantization coding (Jégou et al., TPAMI 2011 — the
    * workhorse of billion-scale ANN): split each 64-dim vector into
    * M=8 subspaces of 8 dims, encode every subvector as the index of
    * its nearest codebook centroid (C=16 ⇒ 4-bit codes). A vector
    * compresses to 8 nibbles packed in ONE int64 — 64× smaller than
    * float32×64 — and ADC search later scans codes against a per-query
    * 8×16 lookup table instead of touching raw vectors.
    *
    * Everything stays exact int64: subvector L2² distances on the
    * ×10⁶-quantized grid (diff² ≤ 4·10¹⁴, ×8 dims ≤ 3.2·10¹⁵), and the
    * argmin-with-tiebreak is MIN over the single integer key
    * `d2·16 + cid` (distance first, smallest centroid id on ties) —
    * the same pack-the-ordering-into-one-integer trick as the simhash
    * lanes, and what keeps the op DuckDB-oracle-able bit-for-bit.
    *
    * Scale shape: the codebook (16 rows) BROADCASTS; the ×8 subspace
    * explode is map-local; the only shuffles are the two keyed
    * reductions on (vec_id, m) and vec_id — both map-combinable, both
    * carrying ≤ 8 rows per vector, never the raw corpus. Codebook
    * TRAINING is orthogonal (swap any k-means codebook in for the
    * seed rows); this op pins the coding kernel + distortion
    * accounting. */
  val annPq: Op = Op(
    "q_ann_pq",
    s"""WITH q AS (
       |  SELECT vec_id, $QuantSql AS v FROM embeddings
       |), seeds AS (
       |  SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < 16
       |), d AS (
       |  SELECT q.vec_id, t.m, s.cid,
       |    list_sum(list_transform(range(1, 9),
       |      j -> (q.v[8*t.m + j] - s.cv[8*t.m + j])
       |         * (q.v[8*t.m + j] - s.cv[8*t.m + j]))) AS d2
       |  FROM q, unnest(range(0, 8)) AS t(m), seeds s
       |), best AS (
       |  SELECT vec_id, m, MIN(d2 * 16 + cid) AS k FROM d GROUP BY 1, 2
       |)
       |SELECT vec_id,
       |  CAST(SUM((k % 16) * (CAST(1 AS BIGINT) << CAST(4 * m AS INTEGER))) AS BIGINT) AS pq_code,
       |  CAST(SUM(k // 16) AS BIGINT) AS distortion
       |FROM best GROUP BY 1""".stripMargin) { (spark, dir) =>
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
    pqCodes(q, q.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv")))
  }

  /** Subspace L2² on the quantized grid: dims [8m+1, 8m+8] of `a` vs
    * `b` — exact int64 (diff² ≤ 4·10¹⁴, ×8 ≤ 3.2·10¹⁵). */
  def subDist2(a: Column, b: Column, m: Column): Column =
    aggregate(
      zip_with(
        slice(a, m * 8 + 1, lit(8)),
        slice(b, m * 8 + 1, lit(8)),
        (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** PQ assignment stage: (vec_id, m, k) where k = d2·16 + cid packs
    * (distance, winning centroid) per subspace: the shared codebook
    * (cid, cv) pre-sliced per subspace and scored by
    * [[pqSubspaceAssign]] (the r15 device — the former per-scored-row
    * [[subDist2]] re-sliced the full vectors AND ran interpreted
    * lambdas across the whole N·8·16 fan-out). */
  def pqAssign(q: DataFrame, codebook: DataFrame): DataFrame =
    pqSubspaceAssign(pqSubspaces(q), codebook
      .select(col("cid"), explode(sequence(lit(0), lit(7))).as("m"),
        col("cv"))
      .select(col("m"), col("cid"),
        slice(col("cv"), col("m") * 8 + 1, lit(8)).as("cv8")))

  /** Pack per-subspace assignments (vec_id, m, k) into the final code
    * row — THE one definition of the nibble layout, shared by the seed
    * and Lloyd paths (two copies would let the bit packing drift from
    * the oracle contract). `k div 16` is safe with truncating `div`
    * because k = d2·16 + cid is non-negative by construction. */
  def pqPack(assign: DataFrame): DataFrame =
    assign
      .groupBy(col("vec_id"))
      .agg(
        sum(expr("(k % 16) * shiftleft(cast(1 as bigint), cast(4 * m as int))"))
          .as("pq_code"),
        sum(expr("k div 16")).as("distortion"))

  /** [[annPq]] coding kernel: (vec_id, v) × codebook (cid, cv) →
    * (vec_id, pq_code, distortion). M=8 subspaces × 8 dims hardcoded
    * to the corpus's 64-dim layout; codebook ≤ 16 rows (4-bit codes). */
  def pqCodes(q: DataFrame, codebook: DataFrame): DataFrame =
    pqPack(pqAssign(q, codebook))

  /** (vec_id, m, sub8) subspace rows of the quantized vectors: the
    * shared input of the subspace-codebook PQ paths. */
  def pqSubspaces(q: DataFrame): DataFrame =
    q.select(col("vec_id"), col("v"),
        explode(sequence(lit(0), lit(7))).as("m"))
      .select(col("vec_id"), col("m"),
        slice(col("v"), col("m") * 8 + 1, lit(8)).as("sub8"))

  /** Assignment against a per-subspace codebook (m, cid, cv8):
    * (vec_id, m, k) with k = d2·nc + cid (argmin + tiebreak in one
    * integer key, as in [[pqAssign]]); `nc` is the codebook size per
    * subspace (centroid ids are < nc). */
  def pqSubspaceAssign(subs: DataFrame, cb: DataFrame, nc: Int = 16)
      : DataFrame = {
    // L2² through the native codegen'd dot (r15, guide §4.1):
    // Σ(x−y)² = ‖x‖² + ‖y‖² − 2·x·y — exact int64 either way, but the
    // zip_with + aggregate lambda form evaluated INTERPRETED per
    // (subvector, centroid) joined row (the whole N·8·16 fan-out;
    // measured as the op's single 1 s job), while the norms hoist to
    // one evaluation per row per side and the cross term is ONE
    // LongArrayDot call.
    val s2 = subs.withColumn("nx", idot(col("sub8"), col("sub8")))
    val c2 = cb.withColumn("ny", idot(col("cv8"), col("cv8")))
    s2.join(broadcast(c2), Seq("m"))
      .select(col("vec_id"), col("m"), col("cid"),
        (col("nx") + col("ny") - lit(2L) * idot(col("sub8"), col("cv8")))
          .as("d2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("d2") * nc + col("cid")).as("k"))
  }

  /** PQ with the codebook refined by ONE Lloyd iteration per subspace —
    * closing the "codebook training is the orthogonal knob" note on
    * [[annPq]] the same way [[ivfLloydCodebook]] closed it for the
    * coarse quantizer. Unlike IVF (cosine ⇒ scale-invariant ⇒ integer
    * SUM centroids), PQ minimizes L2, where the mean's magnitude
    * matters — so the refined centroid is the element-wise
    * `floor(sum / count)`. That floor is bit-identical across engines:
    * the quotient is at least 1/count away from any integer it isn't,
    * vastly more than one ulp at these magnitudes, so IEEE division
    * cannot cross the floor boundary. The CENTROID division must go
    * through that float path in both engines — sums go negative, and
    * DuckDB's integer `//` floors negative quotients while Spark's
    * `div` truncates toward zero. (The final `k // 16` distortion
    * unpack is exempt: k = d2·16 + cid is non-negative by
    * construction, where flooring and truncation agree.)
    *
    * Shape at scale: one extra pass vs [[annPq]] — the update is a
    * (m, cid, pos)-keyed integer aggregate (≤ 8·16·8 output rows,
    * map-combined), re-collected into 128 centroid rows and broadcast
    * back. Cells left empty by the first assignment simply drop out of
    * the refined codebook (deterministically, in both engines).
    * DedupSimilaritySpec asserts the Lloyd property: total distortion
    * strictly decreases vs the seed codebook on this corpus. */
  val annPqLloyd: Op = Op(
    "q_ann_pq_lloyd",
    s"""WITH q AS (
       |  SELECT vec_id, $QuantSql AS v FROM embeddings
       |), subs AS (
       |  SELECT vec_id, t.m, v[8*t.m + 1 : 8*t.m + 8] AS sub8
       |  FROM q, unnest(range(0, 8)) AS t(m)
       |), cb0 AS (
       |  SELECT t.m, vec_id AS cid, v[8*t.m + 1 : 8*t.m + 8] AS cv8
       |  FROM q, unnest(range(0, 8)) AS t(m) WHERE vec_id < 16
       |), d0 AS (
       |  SELECT s.vec_id, s.m, c.cid,
       |    list_sum(list_transform(range(1, 9),
       |      j -> (s.sub8[j] - c.cv8[j]) * (s.sub8[j] - c.cv8[j]))) AS d2
       |  FROM subs s JOIN cb0 c ON s.m = c.m
       |), a0 AS (
       |  SELECT vec_id, m, MIN(d2 * 16 + cid) AS k FROM d0 GROUP BY 1, 2
       |), members AS (
       |  SELECT a0.m, a0.k % 16 AS cid, s.sub8
       |  FROM a0 JOIN subs s ON a0.vec_id = s.vec_id AND a0.m = s.m
       |), sums AS (
       |  SELECT m, cid, t.pos,
       |    CAST(SUM(sub8[t.pos]) AS BIGINT) AS sm,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM members, unnest(range(1, 9)) AS t(pos)
       |  GROUP BY 1, 2, 3
       |), cb1 AS (
       |  SELECT m, cid,
       |    list(CAST(floor(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
       |         ORDER BY pos) AS cv8
       |  FROM sums GROUP BY 1, 2
       |), d1 AS (
       |  SELECT s.vec_id, s.m, c.cid,
       |    list_sum(list_transform(range(1, 9),
       |      j -> (s.sub8[j] - c.cv8[j]) * (s.sub8[j] - c.cv8[j]))) AS d2
       |  FROM subs s JOIN cb1 c ON s.m = c.m
       |), a1 AS (
       |  SELECT vec_id, m, MIN(d2 * 16 + cid) AS k FROM d1 GROUP BY 1, 2
       |)
       |SELECT vec_id,
       |  CAST(SUM((k % 16) * (CAST(1 AS BIGINT) << CAST(4 * m AS INTEGER))) AS BIGINT) AS pq_code,
       |  CAST(SUM(k // 16) AS BIGINT) AS distortion
       |FROM a1 GROUP BY 1""".stripMargin) { (spark, dir) =>
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
    val subs = pqSubspaces(q)
    val cb1 = pqLloydCodebook(subs,
      pqSubspaces(q.filter(col("vec_id") < 16))
        .select(col("m"), col("vec_id").as("cid"), col("sub8").as("cv8")))
    pqPack(pqSubspaceAssign(subs, cb1))
  }

  /** Total quantization distortion of `subs` under codebook `cb`:
    * Σ per-(vector, subspace) L2² to the assigned centroid, unpacked
    * from the fused argmin key (k div 16 = d2). One exact int64 scalar
    * to the driver. */
  def pqDistortion(subs: DataFrame, cb: DataFrame): Long =
    pqSubspaceAssign(subs, cb)
      .agg(sum(expr("k div 16")).as("d")).head.getLong(0)

  /** Iterated PQ Lloyd with a convergence stop: repeat
    * [[pqLloydCodebook]] until a step's distortion decrease falls to
    * `tol` or below (floor-mean centroids are quantized, so a step CAN
    * fail to improve — such a step is rolled back and training stops).
    * Returns the best codebook and the monotone strictly-decreasing
    * distortion trace (seed first), asserted by DedupSimilaritySpec at
    * ≥3 iterations. Oracled ops keep the deterministic one-step
    * [[pqLloydCodebook]]; each extra round costs one more linear
    * assign+update pass — the 100 TB shape is iterations × one pass
    * over the subspace rows, with the ≤128-row codebook broadcast. */
  def pqLloydTrain(
      subs: DataFrame, cb0: DataFrame, maxIters: Int,
      tol: Long = 0L): (DataFrame, Seq[Long]) = {
    var cb = cb0.localCheckpoint()
    val trace = scala.collection.mutable.ArrayBuffer(pqDistortion(subs, cb))
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val next = pqLloydCodebook(subs, cb).localCheckpoint()
      val d = pqDistortion(subs, next)
      val drop = trace.last - d
      if (drop > 0) { cb = next; trace += d }
      if (drop <= tol) converged = true
      it += 1
    }
    (cb, trace.toSeq)
  }

  /** One Lloyd step on a per-subspace codebook: assign with `cb0`,
    * recompute each (m, cid) centroid as element-wise floor-mean. */
  def pqLloydCodebook(subs: DataFrame, cb0: DataFrame, nc: Int = 16)
      : DataFrame = {
    val members = pqSubspaceAssign(subs, cb0, nc)
      .select(col("vec_id"), col("m"), expr(s"k % $nc").as("cid"))
      .join(subs, Seq("vec_id", "m"))
    // element-wise vector-sum aggregate (the ivfUpdate r15 device) +
    // the member count: floor-mean per dim from ONE exchange — the
    // per-(m, cid, pos) count the explode form carried is constant
    // across pos (every member contributes all 8 dims), so the
    // per-(m, cid) count divides identically
    members.groupBy(col("m"), col("cid"))
      .agg(call_function("graft_vecsum", col("sub8")).as("sm"),
        count(lit(1)).as("n"))
      .select(col("m"), col("cid"),
        transform(col("sm"), s =>
          floor(s.cast("double") / col("n").cast("double")).cast("long"))
          .as("cv8"))
  }

  /** ADC (asymmetric distance computation) search over the PQ codes —
    * how a PQ index is actually queried at scale: the query stays
    * uncompressed, a per-query 8×16 lookup table of subspace distances
    * to every centroid is built ONCE (8·16 = 128 integers per query),
    * and each candidate's approximate L2² is just 8 LUT reads summed —
    * the code scan never touches raw vectors. Top-k per query by
    * (adc, c_id), self-match excluded.
    *
    * Scale shape: the LUT (queries × 8 × 16 rows) BROADCASTS — the
    * candidate-side code table never shuffles on content; the only
    * code-scaled exchange carries (q_id, c_id) partial sums (8 rows
    * pre-combine per pair), then the per-query top-k window rides the
    * rank-limit pushdown (WindowGroupLimit). Exact by construction on
    * the integer grid, so the DuckDB oracle reproduces it bit-for-bit.
    *
    * Quality note (measured in DedupSimilaritySpec): for a candidate
    * that IS a codebook row the ADC distance equals the exact
    * quantized L2² — the distortion the approximation adds is exactly
    * the candidate-side assignment error, never the query side's. */
  val pqAdc: Op = Op(
    "q_pq_adc",
    s"""WITH q AS (
       |  SELECT vec_id, $QuantSql AS v FROM embeddings
       |), seeds AS (
       |  SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < 16
       |), d AS (
       |  SELECT q.vec_id, t.m, s.cid,
       |    list_sum(list_transform(range(1, 9),
       |      j -> (q.v[8*t.m + j] - s.cv[8*t.m + j])
       |         * (q.v[8*t.m + j] - s.cv[8*t.m + j]))) AS d2
       |  FROM q, unnest(range(0, 8)) AS t(m), seeds s
       |), best AS (
       |  SELECT vec_id, m, MIN(d2 * 16 + cid) AS k FROM d GROUP BY 1, 2
       |), codes AS (
       |  SELECT vec_id, m, k % 16 AS cid FROM best
       |), qs AS (
       |  SELECT vec_id AS q_id, v AS qv FROM q WHERE vec_id < 10
       |), lut AS (
       |  SELECT qs.q_id, t.m, s.cid,
       |    list_sum(list_transform(range(1, 9),
       |      j -> (qs.qv[8*t.m + j] - s.cv[8*t.m + j])
       |         * (qs.qv[8*t.m + j] - s.cv[8*t.m + j]))) AS d2
       |  FROM qs, unnest(range(0, 8)) AS t(m), seeds s
       |), adc AS (
       |  SELECT lut.q_id, codes.vec_id AS c_id, CAST(SUM(lut.d2) AS BIGINT) AS adc
       |  FROM codes JOIN lut ON codes.m = lut.m AND codes.cid = lut.cid
       |  WHERE codes.vec_id <> lut.q_id
       |  GROUP BY 1, 2
       |)
       |SELECT q_id, c_id, adc, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rk
       |  FROM adc) WHERE rk <= 5""".stripMargin) { (spark, dir) =>
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
    val codebook = q.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    adcScoresAssigned(seedPqCodes(spark, dir), codebook,
        q.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id").as("c_id"), col("adc"), col("rk"))
  }

  /** IVFADC + refine — the standard two-stage PQ pipeline: the cheap
    * LUT scan shortlists `shortlist` candidates per query by ADC
    * distance, then ONLY those are re-scored exactly against the raw
    * quantized vectors (L2² = qn + cn − 2·dot, exact int64 through the
    * codegen'd dot), final top-`k` by exact distance. Fixes exactly the
    * error ADC admits: candidate-side assignment distortion reordering
    * near-ties inside the shortlist.
    *
    * Scale shape: the code scan still never touches raw vectors; the
    * refine join fetches `queries × shortlist` rows by vec_id — point
    * lookups against the vector store, ≪ N. Everything deterministic
    * integer math, so the DuckDB oracle replays it bit-for-bit
    * (q_pq_adc_refine); the recall gain over raw ADC is pinned in
    * DedupSimilaritySpec. */
  def adcRefined(q: DataFrame, codebook: DataFrame,
      queries: DataFrame, shortlist: Int, k: Int): DataFrame =
    refineShortlist(q, queries, adcScores(q, codebook, queries),
      shortlist, k)

  /** Cache of trained PQ indexes: (codebook, codes). Training the
    * codebook and assigning the corpus codes is INDEX CONSTRUCTION —
    * in production (FAISS and every vector store alike) it runs once
    * and is reused across every search; only the LUT scan + refine is
    * query-time work. The index is PERSISTED (FAISS's
    * write_index/read_index split): (codebook, codes) land as parquet
    * under a staging store guarded by the embeddings source-listing
    * signature, so a NEW session (or another process) reads the index
    * back instead of retraining — the session map only memoizes the
    * store's scan frames. Contract: `dir`'s embeddings table IS the
    * corpus `q` derives from (both callers hold this); regenerated
    * testdata invalidates the signature and retrains. */
  private[graft] val pqIndexCache = new SessionCache.Cache[(DataFrame, DataFrame)]

  /** Train-or-reuse the PQ index for (corpus `q`, `steps`, `nc`).
    * `tag` names a distinct index over a SUBSET of the corpus (its own
    * store + cache scope) — the incremental family trains on the
    * standing subset only ([[pqIncrIndex]]). */
  def pqTrainedIndex(
      spark: SparkSession, q: DataFrame, dir: String, steps: Int,
      nc: Int, tag: String = ""): (DataFrame, DataFrame) =
    pqIndexCache.getOrBuild(spark, dir, "embeddings.parquet",
      extra = s"$steps@$nc@$tag") {
        val suffix = if (tag.isEmpty) "" else s"_$tag"
        // versioned signature-last commit via the shared store device
        // (round 8: replaces this cache's inline in-place protocol)
        val store = PersistedStore.ensure(spark, dir, "embeddings.parquet",
          s"pq_index_${steps}_$nc$suffix", "v1") { root =>
          val cb = pqTrainedCodebook(q, steps, nc)
          cb.write.mode("overwrite").parquet(s"$root/codebook")
          pqSubspaceAssign(pqSubspaces(q),
              Tables.parquet(spark, s"$root/codebook"), nc)
            .select(col("vec_id"), col("m"), expr(s"k % $nc").as("cid"))
            .write.mode("overwrite").parquet(s"$root/codes")
        }
        (Tables.parquet(spark, s"$store/codebook"),
          Tables.parquet(spark, s"$store/codes"))
      }

  /** [[adcRefined]] over a TRAINED per-subspace codebook: the full
    * production PQ pipeline (train → code → LUT scan → exact refine).
    * `dir` keys the index cache; pass a distinct token per distinct
    * corpus. */
  def adcRefinedTrained(
      spark: SparkSession, q: DataFrame, queries: DataFrame, dir: String,
      steps: Int, shortlist: Int, k: Int, nc: Int = 16): DataFrame = {
    val (cb, codes) = pqTrainedIndex(spark, q, dir, steps, nc)
    refineShortlist(q, queries,
      adcScoresFromCodes(codes, cb, queries), shortlist, k)
  }

  /** [[adcRefined]] registered: ADC shortlist 25 → exact top-5. */
  val pqAdcRefine: Op = Op(
    "q_pq_adc_refine",
    s"""WITH q AS (
       |  SELECT vec_id, $QuantSql AS v FROM embeddings
       |), seeds AS (
       |  SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < 16
       |), d AS (
       |  SELECT q.vec_id, t.m, s.cid,
       |    list_sum(list_transform(range(1, 9),
       |      j -> (q.v[8*t.m + j] - s.cv[8*t.m + j])
       |         * (q.v[8*t.m + j] - s.cv[8*t.m + j]))) AS d2
       |  FROM q, unnest(range(0, 8)) AS t(m), seeds s
       |), best AS (
       |  SELECT vec_id, m, MIN(d2 * 16 + cid) AS k FROM d GROUP BY 1, 2
       |), codes AS (
       |  SELECT vec_id, m, k % 16 AS cid FROM best
       |), qs AS (
       |  SELECT vec_id AS q_id, v AS qv FROM q WHERE vec_id < 10
       |), lut AS (
       |  SELECT qs.q_id, t.m, s.cid,
       |    list_sum(list_transform(range(1, 9),
       |      j -> (qs.qv[8*t.m + j] - s.cv[8*t.m + j])
       |         * (qs.qv[8*t.m + j] - s.cv[8*t.m + j]))) AS d2
       |  FROM qs, unnest(range(0, 8)) AS t(m), seeds s
       |), adc AS (
       |  SELECT lut.q_id, codes.vec_id AS c_id, CAST(SUM(lut.d2) AS BIGINT) AS adc
       |  FROM codes JOIN lut ON codes.m = lut.m AND codes.cid = lut.cid
       |  WHERE codes.vec_id <> lut.q_id
       |  GROUP BY 1, 2
       |), short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS srk
       |    FROM adc) WHERE srk <= 25
       |), exact AS (
       |  SELECT s.q_id, s.c_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      j -> (qq.v[j] - cc.v[j]) * (qq.v[j] - cc.v[j]))) AS BIGINT) AS d2
       |  FROM short s
       |  JOIN q qq ON qq.vec_id = s.q_id
       |  JOIN q cc ON cc.vec_id = s.c_id
       |)
       |SELECT q_id, c_id, d2, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rk
       |  FROM exact) WHERE rk <= 5""".stripMargin) { (spark, dir) =>
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
    val codebook = q.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val queries = q.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    refineShortlist(q, queries,
      adcScoresAssigned(seedPqCodes(spark, dir), codebook, queries),
      shortlist = 25, k = 5)
      .select(col("q_id"), col("c_id"), col("d2"), col("rk"))
  }

  /** Oracle SQL for [[adcRefinedTrained]]: the full train→code→LUT→
    * refine chain as DuckDB CTEs, with `steps` Lloyd refinements
    * unrolled (fixed iteration count keeps the chain replayable
    * CTE-for-CTE — no driver-side convergence branch). Shares the
    * floor-mean centroid argument of [[annPqLloyd]]'s oracle. */
  private def trainedAdcSql(
      nc: Int, steps: Int, shortlist: Int, k: Int): String = {
    def assign(cb: String, out: String) =
      s"""$out AS (
         |  SELECT s.vec_id, s.m,
         |    MIN(list_sum(list_transform(range(1, 9),
         |      j -> (s.sub8[j] - c.cv8[j]) * (s.sub8[j] - c.cv8[j])))
         |      * $nc + c.cid) AS k
         |  FROM subs s JOIN $cb c ON s.m = c.m GROUP BY 1, 2
         |)"""
    val lloyd = (1 to steps).map { i =>
      s"""${assign(s"cb${i - 1}", s"a$i")}, members$i AS (
         |  SELECT a.m, a.k % $nc AS cid, s.sub8
         |  FROM a$i a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m
         |), sums$i AS (
         |  SELECT m, cid, t.pos,
         |    CAST(SUM(sub8[t.pos]) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM members$i, unnest(range(1, 9)) AS t(pos)
         |  GROUP BY 1, 2, 3
         |), cb$i AS (
         |  SELECT m, cid,
         |    list(CAST(floor(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
         |         ORDER BY pos) AS cv8
         |  FROM sums$i GROUP BY 1, 2
         |)"""
    }.mkString(", ")
    s"""WITH q AS (
       |  SELECT vec_id, $QuantSql AS v FROM embeddings
       |), subs AS (
       |  SELECT vec_id, t.m, v[8*t.m + 1 : 8*t.m + 8] AS sub8
       |  FROM q, unnest(range(0, 8)) AS t(m)
       |), cb0 AS (
       |  SELECT t.m, vec_id AS cid, v[8*t.m + 1 : 8*t.m + 8] AS cv8
       |  FROM q, unnest(range(0, 8)) AS t(m) WHERE vec_id < $nc
       |), $lloyd, ${assign(s"cb$steps", "af")}, codes AS (
       |  SELECT vec_id, m, k % $nc AS cid FROM af
       |), qs AS (
       |  SELECT vec_id AS q_id, v AS qv FROM q WHERE vec_id < 10
       |), qsubs AS (
       |  SELECT q_id, t.m, qv[8*t.m + 1 : 8*t.m + 8] AS sub8
       |  FROM qs, unnest(range(0, 8)) AS t(m)
       |), lut AS (
       |  SELECT u.q_id, c.m, c.cid,
       |    list_sum(list_transform(range(1, 9),
       |      j -> (u.sub8[j] - c.cv8[j]) * (u.sub8[j] - c.cv8[j]))) AS d2
       |  FROM qsubs u JOIN cb$steps c ON u.m = c.m
       |), adc AS (
       |  SELECT lut.q_id, codes.vec_id AS c_id, CAST(SUM(lut.d2) AS BIGINT) AS adc
       |  FROM codes JOIN lut ON codes.m = lut.m AND codes.cid = lut.cid
       |  WHERE codes.vec_id <> lut.q_id
       |  GROUP BY 1, 2
       |), short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS srk
       |    FROM adc) WHERE srk <= $shortlist
       |), exact AS (
       |  SELECT s.q_id, s.c_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      j -> (qq.v[j] - cc.v[j]) * (qq.v[j] - cc.v[j]))) AS BIGINT) AS d2
       |  FROM short s
       |  JOIN q qq ON qq.vec_id = s.q_id
       |  JOIN q cc ON cc.vec_id = s.c_id
       |)
       |SELECT q_id, c_id, d2, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rk
       |  FROM exact) WHERE rk <= $k""".stripMargin
  }

  /** [[adcRefinedTrained]] registered — the production PQ pipeline
    * searching the TRAINED codebook instead of the 16-seed one: 64
    * centroids per subspace, 2 Lloyd refinements, ADC shortlist 100 →
    * exact top-5. Config chosen by measurement (PERF.md):
    * refined top-5 recall vs exact brute force is 0.98 at sf0.001 and
    * 0.84 at sf0.1, vs 0.72/0.36 for the seed-codebook shortlist-25
    * registration (`q_pq_adc_refine`, kept as the minimal-pipeline
    * reference). The spec floor (≥ 0.8, DedupSimilaritySpec) rides the
    * sf0.001 measurement with margin.
    *
    * Scale shape: identical to [[adcRefined]] — training adds `steps`
    * linear assign+update passes (8·64-row codebook broadcast back
    * each round), the LUT is still queries × 8 × 64 rows broadcast,
    * the refine is `queries × shortlist` point lookups. */
  val pqAdcTrained: Op = Op(
    "q_pq_adc_trained", trainedAdcSql(nc = 64, steps = 2,
      shortlist = 100, k = 5)) { (spark, dir) =>
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
    adcRefinedTrained(spark, q,
      q.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv")),
      dir, steps = 2, shortlist = 100, k = 5, nc = 64)
      .select(col("q_id"), col("c_id"), col("d2"), col("rk"))
  }

  /** [[pqAdc]] kernel minus the top-k cut: every (q_id, candidate)
    * ADC distance, self excluded. */
  def adcScores(q: DataFrame, codebook: DataFrame, queries: DataFrame)
      : DataFrame =
    adcScoresAssigned(
      pqAssign(q, codebook)
        .select(col("vec_id"), col("m"), expr("k % 16").as("cid")),
      codebook, queries)

  /** The LUT scan of [[adcScores]] over PRE-ASSIGNED seed codes — the
    * query-time kernel once the coding pass has run (the
    * [[adcScoresFromCodes]] split, for the seed-codebook family). */
  def adcScoresAssigned(
      codes: DataFrame, codebook: DataFrame, queries: DataFrame): DataFrame = {
    val lut = queries
      .select(col("q_id"), col("qv"), explode(sequence(lit(0), lit(7))).as("m"))
      .join(broadcast(codebook))
      .select(col("q_id"), col("m"), col("cid"),
        subDist2(col("qv"), col("cv"), col("m")).as("d2"))
    codes.join(broadcast(lut), Seq("m", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc"))
  }

  private val seedCodesCache = new SessionCache.Cache[DataFrame]

  /** Seed-codebook PQ code assignment — session-cached: [[pqAdc]] and
    * [[pqAdcRefine]] both scan these codes, and the corpus-scaled
    * coding pass (8 subspace argmins per vector) is their dominant
    * build cost. The TRAINED family already persists its index
    * cross-process; this gives the coarse recall-baseline family the
    * same build-once shape inside a session. Parity spec-pinned. */
  private[graft] def seedPqCodes(spark: SparkSession, dir: String): DataFrame =
    seedCodesCache.getOrBuild(spark, dir, "embeddings.parquet") {
        val q = Tables.embeddings(spark, dir)
          .select(col("vec_id"), quantize(col("embedding")).as("v"))
        val codebook = q.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        pqAssign(q, codebook)
          .select(col("vec_id"), col("m"), expr("k % 16").as("cid"))
          .localCheckpoint()
      }

  /** [[adcScores]] against a per-SUBSPACE codebook (m, cid, cv8) over
    * PRE-ASSIGNED codes (the TRAINED-codebook twin; codes assign via
    * [[pqSubspaceAssign]]) — the query-time kernel once the index
    * (codebook + codes) exists. The per-query LUT measures query
    * slices against the trained centroids; same broadcast shape
    * (codebook and LUT are metadata-sized; the code-scaled exchange
    * carries partial sums only). */
  def adcScoresFromCodes(
      codes: DataFrame, cb: DataFrame, queries: DataFrame): DataFrame = {
    val d2 = aggregate(
      zip_with(col("sub8"), col("cv8"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)
    val lut = queries
      .select(col("q_id"), col("qv"), explode(sequence(lit(0), lit(7))).as("m"))
      .select(col("q_id"), col("m"),
        slice(col("qv"), col("m") * 8 + 1, lit(8)).as("sub8"))
      .join(broadcast(cb), Seq("m"))
      .select(col("q_id"), col("m"), col("cid"), d2.as("d2"))
    codes.join(broadcast(lut), Seq("m", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc"))
  }

  /** Exact re-rank of an ADC shortlist (shared by [[adcRefined]] and
    * the trained path): point-lookup join of shortlisted (q_id, vec_id)
    * pairs against the raw quantized vectors, exact int64 L2² through
    * the codegen'd dot, top-`k` per query. */
  def refineShortlist(q: DataFrame, queries: DataFrame,
      scores: DataFrame, shortlist: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    val cand = scores
      .withColumn("srk", row_number().over(wAdc))
      .filter(col("srk") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    val qn = queries.withColumn("qn", inorm2(col("qv")))
    val cn = q.withColumn("cn", inorm2(col("v")))
    val wExact = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("c_id"))
    cand.join(cn, Seq("vec_id"))
      .join(broadcast(qn), Seq("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        (col("qn") + col("cn") - idot(col("qv"), col("v")) * 2).as("d2"))
      .withColumn("rk", row_number().over(wExact))
      .filter(col("rk") <= k)
  }

  /** `steps` deterministic Lloyd refinements of the 16-seed subspace
    * codebook — the FIXED-iteration twin of [[pqLloydTrain]] (no
    * driver-side convergence branch, so a SQL oracle can replay the
    * exact same chain CTE-for-CTE). */
  def pqTrainedCodebook(q: DataFrame, steps: Int, nc: Int = 16): DataFrame = {
    val subs = pqSubspaces(q)
    val cb0 = pqSubspaces(q.filter(col("vec_id") < nc))
      .select(col("m"), col("vec_id").as("cid"), col("sub8").as("cv8"))
    (1 to steps).foldLeft(cb0)((cb, _) => pqLloydCodebook(subs, cb, nc))
  }

  /** 127/max|x| (0 for the all-zero vector, which quantizes to zeros). */
  def int8Scale(emb: Column): Column = {
    val m = array_max(transform(emb, x => abs(x)))
    when(m.cast("double") > 0d, lit(127.0) / m.cast("double")).otherwise(lit(0.0))
  }

  /** The quantized int8 vector itself (IntegerType cells, each within
    * [−127, 127] — asserted in DedupSimilaritySpec). */
  def int8Vector(emb: Column, scale: Column): Column =
    transform(emb, x => round(x.cast("double") * scale).cast("int"))

  /** k-NN GRAPH over the corpus embeddings — the self-join sibling of
    * [[annBruteForce]] (which is queries-vs-corpus): every vector gets
    * its top-k nearest neighbors by exact integer cosine, with the
    * candidate set bounded by the cell canopy (top-`nprobe` seed cells
    * per vector, a pair is a candidate iff it shares a cell) instead
    * of the N² cross join. This is the building block under semantic
    * dedup, diversity sampling and graph-based curation.
    *
    * Determinism: candidates are the deterministic canopy (same top-4
    * cell rule DuckDB replays via ROW_NUMBER), cosines are exact-int
    * dots cast to double, and top-k ties totalize by neighbor id — so
    * the oracle hash-matches including the rank column.
    *
    * Scale shape: the canopy probe is the measured sub-quadratic
    * candidate generator of `q_embed_neardup_ann` (soaked exponent in
    * PERF.md) minus the label block — candidate volume per vector is
    * bounded by its cells' occupancy, and the per-vector top-k is ONE
    * map-side-combined aggregate (collect the candidate scores per
    * src, sort, slice — no corpus-wide window). At 100 TB: persist
    * the cell assignment bucketed by cell (the [[annIvf]] layout), and
    * each cell's contribution is an independent block — K grows ∝N so
    * per-cell work stays constant. */
  val knnGraph: Op = Op(
    "q_knn_graph",
    s"""WITH e AS (
       |  SELECT vec_id, $QuantSql AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |), nn AS (
       |  SELECT * FROM n WHERE n2 > 0
       |), c0 AS (
       |  SELECT vec_id AS cent_id, v AS cv, n2 AS cn FROM nn WHERE vec_id % 10 = 0
       |), scored AS (
       |  SELECT a.vec_id, c.cent_id,
       |         CAST(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*c.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS cos
       |  FROM nn a, c0 c
       |), cells AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
       |    FROM scored) WHERE rn <= 8
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |), sc AS (
       |  SELECT cand.src AS vec_id, cand.dst AS nn_id,
       |         CAST(list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i])) AS DOUBLE)
       |           / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) AS cos
       |  FROM cand
       |  JOIN nn x ON x.vec_id = cand.src
       |  JOIN nn y ON y.vec_id = cand.dst
       |)
       |SELECT vec_id, rank, nn_id, cos FROM (
       |  SELECT vec_id, nn_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS rank
       |  FROM sc) WHERE rank <= 5""".stripMargin) { (spark, dir) =>
    val k = 5
    // Vectors ride THROUGH the canopy into the row-local per-cell
    // scoring (see knnTopKFromCells: one member-grouping exchange, no
    // pair join, no candidate-distinct shuffle — the only later
    // shuffle carries skinny (ncos, nn_id) structs). A pair sharing
    // several cells yields byte-identical structs, removed by
    // array_distinct inside the per-src top-k aggregate — equivalent
    // to distinct-then-score because the cosine is a deterministic
    // function of the pair.
    // Graph canopy: TIGHTER cells, MORE probes than the near-dup
    // canopy (stride 10 → K = N/10 cells, occupancy ~10·nprobe;
    // nprobe 8). Measured at sf0.1 this Pareto-dominates the stride-50
    // near-dup geometry: 1.08M vs 1.40M candidates AND rank-1 recall
    // 0.80 vs 0.75 — small cells bound the per-cell quadratic term,
    // extra probes buy the recall back. Recall floor pinned in spec.
    knnTopKFromCells(graphCanopy(spark, dir), k)
  }

  /** The kNN-graph scoring tail over ANY (cell, vec_id, v, n2) canopy
    * frame — shared by [[knnGraph]] (stride-10 seed canopy) and the
    * trained-index sibling ([[Imi.knnGraphTrained]]). `srcPred`
    * restricts which members get a top-k computed (the recall
    * telemetry's sampled queries) while every member still serves as a
    * candidate — the filter applies inside the grouped row, before the
    * per-source scoring work, so unsampled members cost nothing. */
  private[graft] def knnTopKFromCells(cellsV: DataFrame, k: Int,
      srcPred: Column => Column = _ => lit(true)): DataFrame = {
    // ROW-LOCAL per-cell all-pairs (the arrival-time probe's device,
    // distributed one row per cell): ONE exchange groups members per
    // cell — each vector moves once per probed cell, instead of riding
    // the cell self-join where every co-cell pair copies BOTH vectors
    // (occupancy× the bytes; measured 6.8 s → 1.8 s at sf0.1 on the
    // trained canopy, PERF.md). A grouped row holds one cell's
    // members — bounded by the occupancy law (canopy stride / IMI
    // k1-sizing keep per-cell membership ~occ·nprobe, corpus-
    // independent), the same bound that makes the candidate volume
    // linear. Per-cell top-k computes inside the row; the global merge then moves only ≤ nprobe·k skinny structs per
    // vector. Union-of-per-cell-top-k ⊇ global top-k because every
    // candidate appears in some cell's list; a dst reached via several
    // cells yields byte-identical structs, removed by array_distinct.
    val ms = cellsV
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("n2")))
        .as("ms"))
    // native per-cell kernel (r14): graft_cell_topk runs the per-pair
    // cosine and top-k (same IEEE expression order, same (ncos, id)
    // insertion order as the HOF form CellTopKSpec compares it with)
    // as one tight loop per cell row, where interpreted lambdas paid a
    // closure dispatch and a boxed struct per candidate pair
    val perCell = ms
      .select(explode(call_function("graft_cell_topk",
        filter(col("ms"), s => srcPred(s.getField("vec_id"))),
        col("ms"), lit(k), lit(false))).as("e"))
      .select(col("e.src").as("src"), col("e.t").as("t"))
    perCell
      .groupBy(col("src"))
      .agg(slice(array_distinct(array_sort(flatten(collect_list(col("t"))))),
        1, k).as("top"))
      .select(col("src").as("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nn_id").as("nn_id"), negate(col("col.ncos")).as("cos"))
  }

  /** Hard-negative mining for contrastive training — for every anchor
    * vector, the top-3 highest-cosine candidates with a DIFFERENT
    * label: the "looks similar, isn't" examples an embedding model
    * trains against. The candidate set is the same graph canopy as
    * [[knnGraph]] (stride 10, nprobe 8) — hard negatives are by
    * definition CLOSE, which is exactly what shared cells surface;
    * a uniformly random negative would be easy, and a full scan to
    * guarantee the globally hardest is the N² the canopy exists to
    * avoid. Same hierarchical per-(cell, src) top-k (no added
    * exchange), same byte-identical-struct dedup; label ride-along is
    * the only difference. */
  val hardNegatives: Op = Op(
    "q_hard_negatives",
    s"""WITH e AS (
       |  SELECT vec_id, label, $QuantSql AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, label, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |), nn AS (
       |  SELECT * FROM n WHERE n2 > 0
       |), c0 AS (
       |  SELECT vec_id AS cent_id, v AS cv, n2 AS cn FROM nn WHERE vec_id % 10 = 0
       |), scored AS (
       |  SELECT a.vec_id, c.cent_id,
       |         CAST(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*c.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS cos
       |  FROM nn a, c0 c
       |), cells AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
       |    FROM scored) WHERE rn <= 8
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |  JOIN nn x ON x.vec_id = a.vec_id
       |  JOIN nn y ON y.vec_id = b.vec_id
       |  WHERE x.label <> y.label
       |), sc AS (
       |  SELECT cand.src AS vec_id, x.label, cand.dst AS neg_id,
       |         y.label AS neg_label,
       |         CAST(list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i])) AS DOUBLE)
       |           / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) AS cos
       |  FROM cand
       |  JOIN nn x ON x.vec_id = cand.src
       |  JOIN nn y ON y.vec_id = cand.dst
       |)
       |SELECT vec_id, label, rank, neg_id, neg_label, cos FROM (
       |  SELECT vec_id, label, neg_id, neg_label, cos,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, neg_id) AS rank
       |  FROM sc) WHERE rank <= 3""".stripMargin) { (spark, dir) =>
    hardNegTopKFromCells(graphCanopy(spark, dir), 3)
  }

  /** The hard-negative scoring tail over ANY (cell, vec_id, label, v,
    * n2) canopy frame — shared by [[hardNegatives]] and the
    * trained-index sibling ([[Imi.hardNegativesTrained]]). */
  private[operators] def hardNegTopKFromCells(
      cellsV: DataFrame, k: Int): DataFrame = {
    // same ROW-LOCAL per-cell device as [[knnTopKFromCells]] (one
    // member-grouping exchange, occupancy-law-bounded rows); the label
    // mismatch is the in-row candidate filter
    val ms = cellsV
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("label"), col("v"),
        col("n2"))).as("ms"))
    // native per-cell kernel (the [[knnTopKFromCells]] r14 device,
    // label-exclusion mode): one tight loop per cell row
    val perCell = ms
      .select(explode(call_function("graft_cell_topk",
        col("ms"), col("ms"), lit(k), lit(true))).as("e"))
      .select(col("e.src").as("src"), col("e.la").as("la"),
        col("e.t").as("t"))
    perCell
      .groupBy(col("src"), col("la"))
      .agg(slice(array_distinct(array_sort(flatten(collect_list(col("t"))))),
        1, k).as("top"))
      .select(col("src").as("vec_id"), col("la").as("label"),
        posexplode(col("top")))
      .select(col("vec_id"), col("label"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.neg_id").as("neg_id"), col("col.neg_label").as("neg_label"),
        negate(col("col.ncos")).as("cos"))
  }

  /** Semantic dedup over embeddings (the SemDeDup recipe: cluster with
    * a coarse quantizer, then prune near-duplicate pairs WITHIN each
    * cluster, keeping the member farthest from the centroid — the
    * diversity-preserving choice). Contract details:
    *
    *  - clusters = nearest seed cell (top-1 canopy, K = N/50 cells);
    *  - keep order within a cluster = (cos-to-centroid ASC, vec_id) —
    *    the LOWEST-similarity member survives first;
    *  - a member is DROPPED iff some keep-order-earlier member of its
    *    cluster has pairwise cosine ≥ τ = 0.35 (the corpus's near-dup
    *    threshold, same as q_embed_neardup). One join, no iteration:
    *    this is the one-pass relaxation of the sequential greedy scan
    *    (it can additionally drop a member whose only earlier
    *    near-neighbor was itself dropped — a deliberate, documented
    *    over-drop that keeps the operator a single self-join).
    *
    * Scale shape: the pairwise stage is cluster-bounded all-pairs —
    * Σ n_c² work with K ∝ N keeps E[n_c] constant, so candidate volume
    * grows ∝N (same bound the canopy soak measures); the keep-order
    * comparison rides the SAME equi-join on cell (order predicate is a
    * join filter, not a window), and survivor selection is one
    * left_anti. At 100 TB: train a fixed codebook ([[pqLloydTrain]]),
    * split oversized cells hierarchically, persist assignment bucketed
    * by cell — each cell dedups independently. */
  val semdedup: Op = Op(
    "q_semdedup",
    s"""WITH e AS (
       |  SELECT vec_id, label, $QuantSql AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, label, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |), nn AS (
       |  SELECT * FROM n WHERE n2 > 0
       |), c0 AS (
       |  SELECT vec_id AS cent_id, v AS cv, n2 AS cn FROM nn WHERE vec_id % 50 = 0
       |), scored AS (
       |  SELECT a.vec_id, a.label, c.cent_id,
       |         CAST(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*c.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS cos
       |  FROM nn a, c0 c
       |), asg AS (
       |  SELECT vec_id, label, cell, cos_cent FROM (
       |    SELECT vec_id, label, cent_id AS cell, cos AS cos_cent,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
       |    FROM scored) WHERE rn = 1
       |), dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b ON a.cell = b.cell
       |    AND (a.cos_cent < b.cos_cent
       |         OR (a.cos_cent = b.cos_cent AND a.vec_id < b.vec_id))
       |  JOIN nn x ON x.vec_id = a.vec_id
       |  JOIN nn y ON y.vec_id = b.vec_id
       |  WHERE CAST(list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i])) AS DOUBLE)
       |          / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) >= 0.35
       |)
       |SELECT vec_id, label, cell, cos_cent FROM asg
       |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin) {
    (spark, dir) => semdedupFrom(semdedupAssign(spark, dir))
  }

  /** The SemDeDup pruning tail over ANY (vec_id, label, cell, cos_cent,
    * v, n2) cluster assignment — shared by [[semdedup]] (seed-cell
    * clusters) and the trained-index sibling ([[Imi.semdedupTrained]]):
    * drop b iff a keep-order-earlier cluster-mate scores cos ≥ 0.35. */
  private[operators] def semdedupFrom(asg: DataFrame): DataFrame = {
    val dropped = semdedupOrderedPairs(asg)
      .filter(cosine(idot(col("va"), col("vb")),
        col("na"), col("nb")) >= 0.35)
      .select(col("b_id").as("vec_id"))
      .distinct()
    asg.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"), col("cell"), col("cos_cent"))
  }

  /** Keep-order-respecting within-cluster pairs of [[semdedup]]
    * (pre-threshold): a is keep-order-earlier than b in the same cell.
    * Exposed so the soak can measure the cluster-bounded all-pairs
    * volume directly. */
  def semdedupOrderedPairs(asg: DataFrame): DataFrame = {
    val a = asg.select(col("vec_id").as("a_id"), col("cell").as("a_cell"),
      col("cos_cent").as("a_cc"), col("v").as("va"), col("n2").as("na"))
    val b = asg.select(col("vec_id").as("b_id"), col("cell").as("b_cell"),
      col("cos_cent").as("b_cc"), col("v").as("vb"), col("n2").as("nb"))
    a.join(b,
      col("a_cell") === col("b_cell") &&
        (col("a_cc") < col("b_cc") ||
          (col("a_cc") === col("b_cc") && col("a_id") < col("b_id"))))
  }

  /** Embedding-side clean-corpus capstone (the [[graft.operators
    * .Curation]] `q_clean_corpus` shape applied to vectors): one
    * verdict row per vector composing the two embedding gates —
    * SemDeDup survival ([[semdedup]]: no keep-order-earlier
    * cluster-mate at cosine ≥ 0.35) and centroid-outlier rejection
    * ([[embedOutlier]]: cosine to the own-label sum-centroid ≥ −0.05).
    * kept = survivor AND not outlier, with both scores carried so the
    * verdict is auditable. Scale shape: the union of its parts — the
    * cluster-bounded pair join and two broadcast centroid passes; the
    * final assembly is two vec_id equi-joins. */
  val cleanEmbeddings: Op = Op(
    "q_clean_embeddings",
    s"""WITH e AS (
       |  SELECT vec_id, label, $QuantSql AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, label, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |), nn AS (
       |  SELECT * FROM n WHERE n2 > 0
       |), c0 AS (
       |  SELECT vec_id AS cent_id, v AS cv, n2 AS cn FROM nn WHERE vec_id % 50 = 0
       |), scored AS (
       |  SELECT a.vec_id, a.label, c.cent_id,
       |         CAST(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*c.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS cos
       |  FROM nn a, c0 c
       |), asg AS (
       |  SELECT vec_id, label, cell, cos_cent FROM (
       |    SELECT vec_id, label, cent_id AS cell, cos AS cos_cent,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
       |    FROM scored) WHERE rn = 1
       |), dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b ON a.cell = b.cell
       |    AND (a.cos_cent < b.cos_cent
       |         OR (a.cos_cent = b.cos_cent AND a.vec_id < b.vec_id))
       |  JOIN nn x ON x.vec_id = a.vec_id
       |  JOIN nn y ON y.vec_id = b.vec_id
       |  WHERE CAST(list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i])) AS DOUBLE)
       |          / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) >= 0.35
       |), ox AS (
       |  SELECT label, i AS pos, v[i] AS x FROM nn, unnest(range(1, len(v)+1)) AS t(i)
       |), ocs AS (
       |  SELECT label, pos, sum(x) AS s FROM ox GROUP BY label, pos
       |), oc AS (
       |  SELECT label, list(s ORDER BY pos) AS cv FROM ocs GROUP BY label
       |), ocn AS (
       |  SELECT label, cv, list_sum(list_transform(cv, x -> x*x)) AS cn2 FROM oc
       |  WHERE list_sum(list_transform(cv, x -> x*x)) > 0
       |), osc AS (
       |  SELECT nn.vec_id,
       |         CAST(list_sum(list_transform(range(1, len(nn.v)+1), i -> nn.v[i]*ocn.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(nn.n2 AS DOUBLE)) * sqrt(CAST(ocn.cn2 AS DOUBLE))) AS cos_centroid
       |  FROM nn JOIN ocn ON nn.label = ocn.label
       |)
       |SELECT asg.vec_id, asg.label, asg.cell, asg.cos_cent, osc.cos_centroid,
       |  (asg.vec_id NOT IN (SELECT vec_id FROM dropped)
       |   AND osc.cos_centroid >= -0.05) AS kept
       |FROM asg JOIN osc ON osc.vec_id = asg.vec_id""".stripMargin) {
    (spark, dir) =>
      val asg = semdedupAssign(spark, dir)
      val dropped = semdedupOrderedPairs(asg)
        .filter(cosine(idot(col("va"), col("vb")),
          col("na"), col("nb")) >= 0.35)
        .select(col("b_id").as("vec_id"))
        .distinct()
        .withColumn("is_dup", lit(true))
      val osc = outlierScores(quantizedLabeled(spark, dir))
        .select(col("vec_id"), col("cos_centroid"))
      asg
        .join(dropped, Seq("vec_id"), "left")
        .join(osc, Seq("vec_id"))
        .select(col("vec_id"), col("label"), col("cell"), col("cos_cent"),
          col("cos_centroid"),
          (col("is_dup").isNull && col("cos_centroid") >= -0.05).as("kept"))
  }

  /** Arrivals stream of the ANN probe: vec_id % 7 == 0 (decoupled from
    * the stride-10 centroid rule so arriving vectors are not exactly
    * the centroids). */
  val StreamAnnMod = 7

  /** Arrival-time ANN probe — the per-ROW form of [[knnGraph]]'s
    * canopy search, built so a STREAM can run it with zero state:
    * takes ANY (vec_id, embedding) frame (streaming or batch) and for
    * each row alone
    *   1. scores the BROADCAST seed-centroid array in an array
    *      expression and slices its top-nprobe cells (the canopy,
    *      same (-cos, cent_id) order [[canopyCells]] aggregates);
    *   2. pulls each probed cell's member list with ONE `element_at`
    *      into the BROADCAST cell→members map (the in-memory stand-in
    *      for the (cell)-bucketed persisted index — the lookup a
    *      100 TB deployment serves with partition-pruned point reads);
    *   3. exact-scores the candidates and sorts/slices top-k inside
    *      the row (duplicates via shared cells are byte-identical
    *      structs, removed by array_distinct — [[knnGraph]]'s merge).
    * No aggregation, no join keyed on the stream side, no window ⇒
    * result depends on each row alone, so ANY source batching yields
    * the same output and a streaming run carries NO state store.
    * Output ≡ [[knnGraph]] restricted to the probed vec_ids —
    * spec-pinned, and the streaming registration reuses knnGraph's
    * oracle with that restriction appended. */
  def annProbeRows(spark: SparkSession, dir: String,
      queries: DataFrame): DataFrame = {
    val k = 5
    val nprobe = 8
    val e = quantized(spark, dir).withColumn("label", lit(0))
    // the collected cell→members map below is nprobe × corpus entries
    // with full vectors in ONE row — guard before any canopy work
    // (r14 soak: the unguarded collect crashed the driver at 200k
    // vectors; the trained join-form sibling is index-size independent)
    graft.EngineConf.requireBroadcastIndexBudget(
      "q_stream_ann (Similarity.annProbeRows)",
      "q_stream_ann_trained (join-form probe of the trained IMI index)",
      e.count() * nprobe, graft.EngineConf.broadcastIndexBudget(spark))
    val cells = canopyCells(e, nprobe, carryVec = true, stride = 10)
    val cellMap = cells.groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("n2")))
        .as("members"))
      .agg(map_from_entries(collect_list(struct(col("cell"), col("members"))))
        .as("cmap"))
    val centArr = ivfSeedCodebook(e, 10)
      .agg(collect_list(struct(col("cent_id"), col("cv"), col("cn")))
        .as("cents"))
    val q = queries
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("qn", inorm2(col("qv")))
      .filter(col("qn") > 0)
      .crossJoin(broadcast(centArr))
      .crossJoin(broadcast(cellMap))
    val myCells = slice(array_sort(transform(col("cents"), c =>
      struct(negate(cosine(idot(col("qv"), c.getField("cv")),
        col("qn"), c.getField("cn"))).as("ncos"),
        c.getField("cent_id").as("cell")))), 1, nprobe)
    // every probed cell exists in the map: probed cells are centroid
    // ids, and each centroid has itself as a member (self-cos = 1)
    val cand = filter(
      flatten(transform(myCells, mc =>
        element_at(col("cmap"), mc.getField("cell")))),
      m => m.getField("vec_id") =!= col("vec_id"))
    val cos = (m: Column) =>
      cosine(idot(col("qv"), m.getField("v")),
        col("qn"), m.getField("n2"))
    // one dot per candidate: the sort key carries -cos, the output
    // column recovers cos by exact IEEE negation
    val top = slice(array_distinct(array_sort(transform(cand, m =>
      struct(negate(cos(m)).as("ncos"),
        m.getField("vec_id").as("nn_id"))))), 1, k)
    q.select(col("vec_id"), posexplode(top))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nn_id").as("nn_id"), negate(col("col.ncos")).as("cos"))
  }

  /** Top-1 cell assignment with the centroid similarity kept:
    * (vec_id, label, cell, cos_cent, v, n2). The argmax collapses
    * map-side via the min(struct) trick — the broadcast fan-out never
    * reaches a shuffle. */
  private val semAsgCache = new SessionCache.Cache[DataFrame]

  /** Session-cached (r15): TWO registered consumers ([[semdedup]],
    * [[cleanEmbeddings]]) each re-ran the broadcast-codebook argmax
    * over the corpus per run; the assignment is the shared cluster
    * index, the pruning tails stay per-run work. Parity with
    * [[semdedupAssignFresh]] is spec-pinned. */
  def semdedupAssign(spark: SparkSession, dir: String): DataFrame =
    semAsgCache.getOrBuild(spark, dir, "embeddings.parquet",
      "semdedup-asg")(semdedupAssignFresh(spark, dir).localCheckpoint())

  private[graft] def semdedupAssignFresh(
      spark: SparkSession, dir: String): DataFrame = {
    val e = quantizedLabeled(spark, dir)
    val cents = ivfSeedCodebook(e)
    // bounded-heap argmax (BestAgg r15): the min(struct) + first(v)
    // pair both carried unsupported buffer types, degrading the
    // aggregate to SortAggregate; the winner struct carries v/n2
    // (constant within the (vec_id, label) group) out directly
    e.join(broadcast(cents))
      .groupBy(col("vec_id"), col("label"))
      .agg(BestAgg.largest1(struct(
        cosine(idot(col("v"), col("cv")),
          col("n2"), col("cn")).as("cos"),
        negate(col("cent_id")).as("ncell"),
        col("v").as("v"), col("n2").as("n2"))).as("best"))
      .select(col("vec_id"), col("label"),
        negate(col("best.ncell")).as("cell"),
        col("best.cos").as("cos_cent"),
        col("best.v").as("v"), col("best.n2").as("n2"))
  }
}
