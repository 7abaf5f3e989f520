package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity.{cosine, idot, inorm2}

/** Inverted multi-index (IMI) trained canopy — the FIXED-cost
  * candidate path for the vector families (the scale alternative to
  * the stride-geometry canopy whose assignment is N·K with K ∝ N).
  *
  * The coarse quantizer is a product of two per-half codebooks
  * (Babenko & Lempitsky, "The Inverted Multi-Index", CVPR 2012): the
  * 64-dim vector splits into two 32-dim halves, each half gets its own
  * `k1`-centroid spherical-Lloyd codebook (seeded by the first k1
  * qualifying vectors, refined by integer-sum updates — the same
  * DuckDB-replayable device as [[Similarity.annIvf]]), and a vector's
  * CELL is the pair (c0, c1) of its per-half assignments. That buys:
  *
  *  - k1² effective cells from 2·k1 centroid scores per vector — the
  *    assignment pass is O(N · 2·k1), linear in the corpus for a fixed
  *    k1 (vs the stride canopy's N·K ∝ N² compute, the documented
  *    cause of the 200k-vector soak death in PERF.md round-7);
  *  - an occupancy LAW instead of a stride rule: size k1 ≈ √(N/occ) at
  *    design time and per-cell occupancy stays ≈ occ, keeping the
  *    candidate volume linear — the soak measures exactly this.
  *
  * Candidates probe the top-`nprobeHalf` centroids per half →
  * nprobeHalf² cells per vector; a pair is a candidate iff it shares a
  * probed cell. Everything downstream (exact integer-cosine verify,
  * hierarchical top-k, SemDeDup pruning) rides the SAME shared tails
  * as the seed-canopy siblings, so the trained ops are drop-in
  * alternatives with their own hash-exact oracles.
  *
  * The trained canopy persists at rest ([[PersistedStore]],
  * `imi_canopy`): train once per corpus, every consumer — and every
  * later session — reads the committed parquet.
  */
object Imi {

  /** Geometry: `lawK1` centroids per half → k1² effective cells,
    * 4 probes per half → 16 probed cells per vector (2 probes/half
    * multiplied per-half misses: measured rank-1 recall 0.288 vs
    * 0.872 at 4 — the product-probe needs the wider per-half slice).
    *
    * k1 is sized to the corpus by the OCCUPANCY LAW k1 = √(N/occ) —
    * per-cell occupancy stays ≈ [[OccTarget]] as N grows, which keeps
    * the co-cell candidate volume (the cost of every trained-canopy
    * consumer) LINEAR in N. Before round 13 the registered ops pinned
    * k1 = 16 — exactly the law's value at the gate corpora (500 and
    * 2000 qualifying vectors both derive 16, so results and oracles
    * are bit-identical there) — but the whole-registry decade soak
    * measured the frozen-geometry consequence on the 20k-vector sf1
    * twin: occupancy 10×, candidates ~100×, exponents 1.45-1.76 on
    * the trained quartet. With the law the twin trains 50 centroids
    * per half and the quartet re-measures ≈ linear. The oracles
    * derive the SAME k1 in SQL (a COUNT(*) scalar subquery over the
    * identical qualifying population), so training replays
    * bit-for-bit at any scale. Floor 16 = the measured-recall gate
    * geometry; at 170M vectors the law gives 2×4612 ≈ 21M cells and
    * the assignment stays O(N·2·k1). */
  val K1Floor = 16
  val OccTarget = 8
  val NProbeHalf = 4
  val LloydSteps = 1

  /** Occupancy-law k1 from a qualifying-vector count. */
  def lawK1(n: Long): Int =
    math.max(K1Floor,
      math.ceil(math.sqrt(n / OccTarget.toDouble)).toInt)

  /** [[lawK1]] over a quantized frame (counts n2 > 0 rows — the same
    * `nn` population the oracle's scalar subquery counts; frames from
    * [[Similarity.quantizedLabeled]]/[[Similarity.quantized]] are
    * already filtered, the guard keeps ad-hoc frames honest). */
  def lawK1Of(e: DataFrame): Int = lawK1(e.filter(col("n2") > 0).count())

  /** The law in DuckDB: k1 as a scalar subquery over the counted
    * population (`from` = a CTE/predicate naming the same qualifying
    * vectors the engine counts). */
  private def k1Sql(from: String): String =
    s"(SELECT GREATEST($K1Floor, CAST(ceil(sqrt(COUNT(*) / " +
      s"$OccTarget.0)) AS BIGINT)) FROM $from)"

  /** Cell id packing: cell = c0·2²¹ + c1. Centroid ids are seed vector
    * ids, bounded by the corpus; 2²¹ (2.1M) leaves the packed id far
    * inside int64 for any corpus this box can hold. */
  val CellBase: Long = 1L << 21

  /** Per-half 32-dim slices of the quantized vectors:
    * (vec_id, half, h, hn2) with hn2 > 0 — a vector with an all-zero
    * half drops out of THAT half (and, via the inner cell join, out of
    * the trained canopy entirely); both engines apply the same rule. */
  def halves(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(array(
          struct(lit(0).as("half"), slice(col("v"), 1, 32).as("h")),
          struct(lit(1).as("half"), slice(col("v"), 33, 32).as("h"))))
          .as("hs"))
      .select(col("vec_id"), col("hs.half").as("half"), col("hs.h").as("h"))
      .withColumn("hn2", inorm2(col("h")))
      .filter(col("hn2") > 0)

  /** Seed codebook per half — the first `k1` qualifying vectors
    * (ROW_NUMBER over vec_id, the order DuckDB replays):
    * (half, cent_id, cv, cn) with cent_id = the seed's vec_id. */
  def seedCodebook(h: DataFrame, k1: Int): DataFrame = {
    val w = Window.partitionBy(col("half")).orderBy(col("vec_id"))
    h.withColumn("rn", row_number().over(w)).filter(col("rn") <= k1)
      .select(col("half"), col("vec_id").as("cent_id"),
        col("h").as("cv"), col("hn2").as("cn"))
  }

  /** One spherical-Lloyd refinement per half: nearest-centroid
    * assignment (argmax cosine as a map-side min(struct) aggregate,
    * broadcast codebook), then the element-wise INTEGER-SUM centroid
    * update ([[Similarity.ivfUpdate]]'s device — cosine is
    * scale-invariant, so the sum ≡ the mean direction and everything
    * stays exact int64, which is what keeps the training
    * DuckDB-replayable). Cells that lose all members drop out. */
  def lloydStep(h: DataFrame, cb: DataFrame): DataFrame = {
    // argmax WITHOUT the vector in the aggregation buffer: carrying
    // `h` through min(struct(…)) made every partial-agg entry ~300 B
    // and the spill corpus-sized (the 10M soak filled the disk with
    // it); the winning half-vector is re-joined by its unique
    // (vec_id, half) key — one extra skinny shuffle, identical result
    // (the argmax and its tie-break (cos DESC, cent_id) are
    // unchanged). The argmax itself rides graft_topk(k=1) through
    // BestAgg.largest1: min(struct) is a DECLARATIVE
    // aggregate with a struct buffer, which HashAggregateExec cannot
    // hold — the plan degrades to SortAggregate and SORTS the whole
    // N·k1 scored stream (the soak's measured terabyte spill at 10M),
    // while the typed-imperative heap aggregates hash-side with an
    // O(1) buffer. Same ordering key: largest (cos, −cent_id) ≡
    // smallest (−cos, cent_id).
    val scored = h.join(broadcast(cb), Seq("half"))
      .select(col("vec_id"), col("half"), col("cent_id"),
        cosine(idot(col("h"), col("cv")), col("hn2"), col("cn"))
          .as("cos"))
    val best = scored.groupBy(col("vec_id"), col("half"))
      .agg(BestAgg.largest1(
        struct(col("cos"), negate(col("cent_id")).as("negc"))).as("b"))
      .select(col("vec_id"), col("half"), negate(col("b.negc")).as("cell"))
    val assigned = best
      .join(h.select(col("vec_id"), col("half"), col("h")),
        Seq("vec_id", "half"))
      .select(col("half"), col("cell"), col("h"))
    // element-wise vector-sum aggregate (the ivfUpdate r15 device):
    // one exchange, map-side partial aggregation, bit-identical sums
    assigned.groupBy(col("half"), col("cell"))
      .agg(call_function("graft_vecsum", col("h")).as("cv"))
      .select(col("half"), col("cell").as("cent_id"), col("cv"))
      .withColumn("cn", inorm2(col("cv")))
      .filter(col("cn") > 0)
  }

  /** `steps` Lloyd refinements of the per-half seed codebooks, with
    * cent_ids DENSIFIED before packing.
    *
    * Raw centroid ids are seed vec_ids — arbitrary values on a
    * hashed/uuid-derived or offset id space — and the packed cell id
    * `c0·CellBase + c1` silently ALIASES two distinct cells once a
    * cent_id reaches [[CellBase]]; because the oracles use the same
    * formula, the cross-engine gate could not catch it (the r9 guard
    * merely turned the silent merge into an abort). The scale-safe
    * form re-ranks each half's surviving centroids by `row_number`
    * over the raw cent_id: ids become 1..k1 — always < [[CellBase]] —
    * and the re-rank is MONOTONE in the raw id, so every cosine
    * tie-break (`ORDER BY cos DESC, cent_id`) orders exactly as
    * before; the oracle prefixes apply the identical re-rank (`cbr`
    * CTE). Codebook-sized window — metadata, never data-scaled. */
  def codebook(h: DataFrame, k1: Int, steps: Int): DataFrame = {
    require(k1 < CellBase, s"k1 $k1 must stay below CellBase $CellBase")
    val cb = (1 to steps).foldLeft(seedCodebook(h, k1))((c, _) =>
      lloydStep(h, c))
    val w = Window.partitionBy(col("half")).orderBy(col("cent_id"))
    cb.withColumn("cent_id", row_number().over(w).cast("long"))
  }

  /** The probed-cell frame: (vec_id, label, cell, r0, r1, dot0, dot1,
    * cn0, cn1, v, n2) — one row per (vector, probed cell), nprobeHalf²
    * rows per vector. Per-half rank and integer dot ride along so
    * consumers can reconstruct the top-1 cell and the
    * concatenated-centroid cosine without re-scoring. */
  def cellsOf(e: DataFrame, k1: Int, steps: Int, nprobe: Int): DataFrame =
    cellsWithCodebook(e, codebook(halves(e), k1, steps), nprobe)

  private[graft] val imiCache = new SessionCache.Cache[DataFrame]

  /** Train-or-reuse the registered-geometry trained canopy for `dir` —
    * session-cached AND at rest (`imi_canopy` store): the assignment
    * runs once per corpus, lands as parquet behind the source-listing
    * signature, and later sessions read it back. */
  def trainedCanopy(spark: SparkSession, dir: String): DataFrame =
    imiCache.getOrBuild(spark, dir, "embeddings.parquet") {
      // occupancy-law geometry: the derived k1 lands in the store
      // version, so a corpus growing past a law step retrains instead
      // of silently reusing the stale geometry (at the gate corpora
      // the law derives the historical 16 — stores carry over as-is)
      val e = Similarity.quantizedLabeled(spark, dir)
      val k1 = lawK1Of(e)
      // v3 (r15): cells land hash-clustered on `cell` — the bucketed-
      // index file layout the ANN scale notes describe. Same rows; the
      // clustering gives every consumer's cell equi-join a multi-file
      // scan (the previous AQE-coalesced single file serialized the
      // probe-side compute onto one core at bench scale) and real
      // partition pruning at 100 TB.
      val store = PersistedStore.ensure(spark, dir, "embeddings.parquet",
        "imi_canopy", s"v3:k$k1:s$LloydSteps:p$NProbeHalf") { root =>
        cellsOf(e, k1, LloydSteps, NProbeHalf)
          .repartition(col("cell"))
          .write.mode("overwrite").parquet(s"$root/cells")
      }
      graft.Tables.parquet(spark, s"$store/cells")
    }

  /** Delta slice of the INCREMENTAL probe: decoupled from both the
    * seed rule (vec_id < k1) and the stride-canopy arrivals so the
    * index never contains its own probes. Same split the stream probe
    * uses ([[Similarity.StreamAnnMod]]). */
  val DeltaMod: Int = Similarity.StreamAnnMod

  private[graft] val standingCache = new SessionCache.Cache[(DataFrame, DataFrame)]

  /** The STANDING trained index at rest (`imi_standing` store): the
    * per-half codebook trained on the standing slice ONLY
    * (vec_id % DeltaMod ≠ 0) plus the standing vectors' probed cells.
    * This is the ANN index-maintenance story: training is yesterday's
    * artifact; an arriving vector is ASSIGNED against the stored
    * codebook (2·k1 broadcast centroid scores, map-only) and probed
    * against the stored cells — the index is never retrained or
    * rebuilt for a delta. Returns (codebook, cells). */
  private[graft] def standingIndex(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    standingCache.getOrBuild(spark, dir, "embeddings.parquet") {
      // law k1 over the STANDING slice — the population the codebook
      // trains on (and the one the oracle's scalar subquery counts)
      val standing0 = Similarity.quantizedLabeled(spark, dir)
        .filter(col("vec_id") % DeltaMod =!= 0)
      val k1 = lawK1Of(standing0)
      // v3 (r15): cells hash-clustered on `cell` — see the imi_canopy
      // layout note (multi-file probe scans, partition pruning at scale)
      val store = PersistedStore.ensure(spark, dir, "embeddings.parquet",
        "imi_standing", s"v3:k$k1:s$LloydSteps:p$NProbeHalf:d$DeltaMod") {
        root =>
          val standing = standing0
          val h = halves(standing)
          val cb = codebook(h, k1, LloydSteps)
          cb.write.mode("overwrite").parquet(s"$root/codebook")
          cellsWithCodebook(standing,
            graft.Tables.parquet(spark, s"$root/codebook"), NProbeHalf)
            .repartition(col("cell"))
            .write.mode("overwrite").parquet(s"$root/cells")
      }
      (graft.Tables.parquet(spark, s"$store/codebook"),
        graft.Tables.parquet(spark, s"$store/cells"))
    }

  /** [[cellsOf]]'s assignment stage against a PRE-TRAINED codebook —
    * the shared tail of index build (standing slice) and delta
    * assignment (arriving slice): no training, just 2·k1 broadcast
    * centroid scores per vector and the per-half top-nprobe slice. */
  def cellsWithCodebook(e: DataFrame, cb: DataFrame, nprobe: Int)
      : DataFrame = {
    val h = halves(e)
    val scored = h.join(broadcast(cb), Seq("half"))
      .withColumn("dot", idot(col("h"), col("cv")))
      .select(col("vec_id"), col("half"), col("cent_id"), col("cn"),
        col("dot"),
        cosine(col("dot"), col("hn2"), col("cn")).as("cos"))
    // top-nprobe per (vec, half): the bounded-heap aggregate —
    // collect_list buffers ALL k1 scored
    // centroids per group (k1·40 B per group, corpus-sized spill at
    // soak scale: the full lists ride the shuffle because collect_list
    // has no partial reduction), while graft_topk's partial heaps keep
    // O(nprobe) per group on both sides of the exchange. Ordering is
    // identical: largest (cos, −cent_id) ≡ smallest (−cos, cent_id) —
    // cos DESC, centroid id ASC — and the heap's descending output is
    // the rank order the old ascending sort+slice produced.
    //
    // BOTH halves aggregate in ONE groupBy(vec_id) pass (r15):
    // conditional per-half top-nprobe aggregates (nulls skip — the
    // collect_list/heap law) replace the previous
    // groupBy(vec_id, half) → filter(half=0) ⋈ filter(half=1) shape,
    // whose two legs DUPLICATED the whole scan+score+aggregate subtree
    // (the half filters specialize each copy, defeating exchange
    // reuse) and paid a SortMergeJoin to re-pair them. The nprobe²
    // cell cross-product is the same pairs, now built in-row.
    def halfTop(half: Int): Column =
      call_function("graft_topk",
        when(col("half") === half, struct(
          col("cos"), negate(col("cent_id")).as("negc"),
          col("dot").as("dot"), col("cn").as("cn"))), lit(nprobe))
    def centOf(s: Column): Column = negate(s.getField("negc"))
    val both = scored.groupBy(col("vec_id"))
      .agg(halfTop(0).as("cs0"), halfTop(1).as("cs1"))
      // inner-join semantics of the previous h0⋈h1 pairing: a vector
      // missing either half drops out of the canopy entirely
      .filter(size(col("cs0")) > 0 && size(col("cs1")) > 0)
    val crossed = both.select(col("vec_id"),
      explode(flatten(transform(col("cs0"), (s0, i) =>
        transform(col("cs1"), (s1, j) => struct(
          (i + 1).as("r0"), centOf(s0).as("c0"),
          s0.getField("dot").as("dot0"), s0.getField("cn").as("cn0"),
          (j + 1).as("r1"), centOf(s1).as("c1"),
          s1.getField("dot").as("dot1"), s1.getField("cn").as("cn1"))))))
        .as("pc"))
    crossed
      .join(e.select(col("vec_id"), col("label"), col("v"), col("n2")),
        Seq("vec_id"))
      .select(col("vec_id"), col("label"),
        (col("pc.c0") * CellBase + col("pc.c1")).as("cell"),
        col("pc.r0").as("r0"), col("pc.r1").as("r1"),
        col("pc.dot0").as("dot0"), col("pc.dot1").as("dot1"),
        col("pc.cn0").as("cn0"), col("pc.cn1").as("cn1"),
        col("v"), col("n2"))
  }

  /** INCREMENTAL ANN probe — the `q_dedup_incremental` shape for the
    * vector index: arriving vectors (vec_id % DeltaMod = 0) are
    * assigned against the STANDING corpus' stored codebook (map-only,
    * never retrained) and probed against the stored standing cells;
    * each delta vector gets its exact-cosine top-5 among standing
    * vectors sharing a probed cell (the same hierarchical
    * per-(cell, src) top-k as the kNN graph — no corpus window, no
    * corpus shuffle beyond the cell equi-join). At 100 TB: the index
    * is parquet bucketed by cell; a delta batch broadcasts its probed
    * cells, pays one partition-pruned probe, and the index files are
    * untouched. The oracle replays training-on-standing + both
    * assignments + the probe in one statement. */
  val imiDelta: Op = Op(
    "q_imi_delta",
    imiDeltaSql(NProbeHalf, DeltaMod)) { (spark, dir) =>
    deltaProbeOf(spark, dir, Similarity.quantizedLabeled(spark, dir)
      .filter(col("vec_id") % DeltaMod === 0))
  }

  /** The probe body of [[imiDelta]], factored over ANY delta frame
    * (columns of [[Similarity.quantizedLabeled]]): assignment against
    * the stored codebook, cell equi-join against the stored standing
    * cells, hierarchical per-(cell, src) → per-src exact top-5. The
    * streaming leg runs THIS — each arrival's result depends only on
    * its own row plus the static index, so a foreachBatch invocation
    * per micro-batch is batch-complete and provably equal to the
    * batch op (same code path, same oracle). */
  private[graft] def deltaProbeOf(spark: SparkSession, dir: String,
      delta: DataFrame): DataFrame = {
    val (cb, standingCells) = standingIndex(spark, dir)
    val deltaCells = cellsWithCodebook(delta, cb, NProbeHalf)
    val pa = deltaCells.select(col("cell"), col("vec_id").as("src"),
      col("v").as("vs"), col("n2").as("ns"))
    val pb = standingCells.select(col("cell"), col("vec_id").as("dst"),
      col("v").as("vd"), col("n2").as("nd"))
    val k = 5
    // broadcast the DELTA side (r15): it is batch-sized by contract
    // ("a delta batch broadcasts its probed cells" — the scaladoc's
    // 100 TB story), while the planner — lacking stats for the
    // aggregate-derived delta frame — was broadcasting the INDEX side
    // instead: the full standing cells (vectors included) collected to
    // the driver and re-shipped per run, with the probe's cosine work
    // then riding the index scan's (single-file) parallelism.
    val scoredPairs = broadcast(pa).join(pb, Seq("cell"))
      .select(col("cell"), col("src"), col("dst"),
        cosine(idot(col("vs"), col("vd")),
          col("ns"), col("nd")).as("cos"))
    // bounded-heap per-(cell, src) top-k (r14): collect_list buffers
    // every co-cell candidate
    // per group before truncating, while graft_topk's partial heaps
    // carry at most k rows per (mapper, group) across the exchange.
    // Element order/type is re-shaped to the exact (ncos, nn_id, cos)
    // structs the downstream flatten∘distinct∘sort merge consumes:
    // top-k LARGEST (cos, −nn_id) ≡ ascending (ncos, nn_id).
    val perCell = scoredPairs
      .groupBy(col("cell"), col("src"))
      .agg(transform(call_function("graft_topk", struct(
        col("cos"), negate(col("dst")).as("nid"),
        col("dst").as("nn_id")), lit(k)),
        e => struct(negate(e.getField("cos")).as("ncos"),
          e.getField("nn_id").as("nn_id"),
          e.getField("cos").as("cos"))).as("t"))
    perCell
      .groupBy(col("src"))
      .agg(slice(array_distinct(array_sort(flatten(collect_list(col("t"))))),
        1, k).as("top"))
      .select(col("src").as("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nn_id").as("nn_id"), col("col.cos").as("cos"))
  }

  /** Arrival-time form of [[imiDelta]] — the per-ROW probe a STREAM
    * runs with zero state ([[Similarity.annProbeRows]]'s device on the
    * TRAINED index): takes ANY (vec_id, embedding) frame and for each
    * row alone scores the two BROADCAST per-half codebook arrays,
    * combines the nprobe² probed cells, pulls each cell's standing
    * member list from the BROADCAST cell→members map (absent cells —
    * an IMI pair combo no standing vector occupies — filter out),
    * exact-scores and slices top-5 inside the row. No aggregation, no
    * stream-side join key, no window ⇒ result depends on each row
    * alone, any batching yields the same output, and row-local ≡ the
    * join form of [[imiDelta]] (spec-pinned).
    *
    * SMALL-INDEX device: the collected cell→members map is
    * INDEX-sized (full vectors in one row — the r14 sf1→sf10 soak
    * crashed the driver collecting 1.6M entries), so it is right only
    * for low-rate arrivals against a small standing index; the member
    * count is guarded ([[graft.EngineConf.BroadcastIndexBudgetKey]])
    * and the REGISTERED streaming leg runs the join form
    * ([[deltaProbeOf]] inside foreachBatch) instead — index-size
    * independent, same oracle. */
  def probeRows(spark: SparkSession, dir: String,
      queries: DataFrame): DataFrame = {
    val k = 5
    val (cb, standingCells) = standingIndex(spark, dir)
    graft.EngineConf.requireBroadcastIndexBudget("Imi.probeRows",
      "Imi.deltaProbeOf (the join form the registered " +
        "q_stream_ann_trained runs)",
      standingCells.count(), graft.EngineConf.broadcastIndexBudget(spark))
    val cents0 = cb.filter(col("half") === 0)
      .agg(collect_list(struct(col("cent_id"), col("cv"), col("cn")))
        .as("cents0"))
    val cents1 = cb.filter(col("half") === 1)
      .agg(collect_list(struct(col("cent_id"), col("cv"), col("cn")))
        .as("cents1"))
    val cellMap = standingCells.groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("n2")))
        .as("members"))
      .agg(map_from_entries(collect_list(struct(col("cell"), col("members"))))
        .as("cmap"))
    val q = queries
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("q0", slice(col("qv"), 1, 32))
      .withColumn("q1", slice(col("qv"), 33, 32))
      .withColumn("qn", inorm2(col("qv")))
      .withColumn("hn0", inorm2(col("q0")))
      .withColumn("hn1", inorm2(col("q1")))
      // same qualification as the batch side: whole vector AND both
      // halves nonzero (a zero half has no cells in the join form)
      .filter(col("qn") > 0 && col("hn0") > 0 && col("hn1") > 0)
      .crossJoin(broadcast(cents0))
      .crossJoin(broadcast(cents1))
      .crossJoin(broadcast(cellMap))
    def topCells(qh: Column, qhn: Column, cents: Column) =
      slice(array_sort(transform(cents, c =>
        struct(negate(cosine(idot(qh, c.getField("cv")),
          qhn, c.getField("cn"))).as("ncos"),
          c.getField("cent_id").as("c")))), 1, NProbeHalf)
    val myCells = flatten(transform(
      topCells(col("q0"), col("hn0"), col("cents0")), a =>
        transform(topCells(col("q1"), col("hn1"), col("cents1")), b =>
          a.getField("c") * CellBase + b.getField("c"))))
    // absent cells (no standing member in that pair combo) → null from
    // element_at; drop them before flattening
    val cand = flatten(filter(
      transform(myCells, c => element_at(col("cmap"), c)),
      m => m.isNotNull))
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

  /** Delta fraction above which [[compactUnion]] RETRAINS the
    * codebook on the union instead of merging by assignment: merging
    * keeps the compaction map-only (O(delta · 2k1) centroid scores)
    * but freezes the codebook, so as the delta fraction grows the
    * cells drift away from the data's actual clusters and per-cell
    * occupancy skews — the occupancy law (k1 ≈ √(N/occ)) also wants a
    * larger k1 as N grows. Registered delta fraction is
    * 1/[[DeltaMod]] ≈ 14%, under the threshold ⇒ the registered op
    * exercises the merge path; the retrain path is spec-pinned
    * (ImiSpec forces it) and PERF.md records the measured cost of
    * both sides. */
  val CompactRetrainFrac = 0.25

  /** Measured-recall floor of the compaction control loop (r11 verdict
    * #4): below the fraction threshold, [[compactUnion]] no longer
    * merges blind — it builds the candidate merge, measures the
    * standing recall gap recall(trained) − recall(merged) on the SAME
    * sampled telemetry the `q_imi_recall`/`q_imi_recall_compact` pair
    * publishes, and retrains anyway when the frozen codebook has
    * drifted past this floor (expressed as a fraction of [[RecallK]] —
    * 0.10 = half a neighbor of the top-5). Calibration: the measured
    * frozen-codebook curve (PERF.md) loses ≤2
    * recall points (≤0.02) at 10–50% delta on the clustered gate
    * corpora — comfortably under the floor, so the registered merge
    * leg stays a merge — while the 1M random-vector soak measured ~13
    * points (0.13) at 25% delta, which this floor correctly flips to
    * retrain. The delta FRACTION stays as the fallback trigger: a
    * backlog past [[CompactRetrainFrac]] retrains without paying the
    * measurement. */
  val CompactRecallGapFloor = 0.10

  private[graft] val compactCache = new SessionCache.Cache[DataFrame]

  /** The COMPACTED index's cell assignment — the leg that folds an
    * accumulated delta back into the standing index (without it the
    * delta fraction grows without bound and [[imiDelta]]'s probe cost
    * with it — the r8 verdict's gap). Below the retrain threshold:
    * the delta is assigned against the STORED standing codebook
    * (map-only, [[cellsWithCodebook]]) and unioned into the stored
    * standing cells — the index is never retrained, and the result
    * equals assigning the whole corpus against the standing codebook,
    * which is exactly what the oracle recomputes from scratch. Above
    * it: a full retrain on the union ([[cellsOf]]) — the periodic
    * rebuild every index maintenance schedule carries. */
  private[graft] def compactUnion(spark: SparkSession, dir: String,
      retrainFrac: Double, deltaMod: Int = DeltaMod,
      expectRetrain: Option[Boolean] = None,
      gapFloor: Double = CompactRecallGapFloor): DataFrame = {
    val all = Similarity.quantizedLabeled(spark, dir)
    val delta = all.filter(col("vec_id") % deltaMod === 0)
    val nAll = all.count() // 2 scalar counts — bounded metadata
    val nDelta = delta.count()
    val fracRetrain = nAll > 0 && nDelta.toDouble / nAll > retrainFrac
    // below the fraction threshold the decision consults the MEASURED
    // standing recall gap (r11 verdict #4): build the candidate merge,
    // measure recall(trained) − recall(merged) over the sampled
    // telemetry queries, and retrain anyway when the frozen codebook
    // has drifted past the documented floor — the control loop the
    // q_imi_recall / q_imi_recall_compact pair was built to close.
    // The fraction stays as the fallback trigger: a backlog past it
    // retrains without paying the measurement.
    val mergedOpt =
      if (fracRetrain) None
      else Some {
        val (cb, standingCells) = standingIndex(spark, dir)
        standingCells.unionByName(
          cellsWithCodebook(delta, cb, NProbeHalf))
      }
    // decision-time sampling mod SCALES with the corpus so the
    // measurement's brute-force ground truth stays Q·N ≈ GapQueries·N
    // (linear) — the fixed telemetry mod would make it N²/mod at soak
    // scale, the exact blow-up this family exists to avoid
    val gapMod = decisionGapMod(nAll)
    val gap = mergedOpt.map(m => measuredRecallGap(spark, dir, m, gapMod))
    val retrain = fracRetrain || gap.exists(_ > gapFloor)
    // a registered op's oracle replays exactly ONE branch of this law;
    // if a corpus ever flips the threshold the gate would go red with
    // no code change — fail loudly at build time instead (ADVICE r9)
    expectRetrain.foreach { e =>
      if (e != retrain) throw new IllegalStateException(
        s"imi compaction law flipped: delta fraction " +
          f"${nDelta.toDouble / math.max(nAll, 1)}%.3f vs threshold " +
          s"$retrainFrac" +
          gap.fold("")(g =>
            f", measured recall gap $g%.4f vs floor $gapFloor") +
          s" chose ${if (retrain) "retrain" else "merge"}, " +
          s"but the registered op's oracle replays the " +
          s"${if (e) "retrain" else "merge"} path — re-register the op " +
          "for this corpus shape")
    }
    if (retrain)
      cellsOf(all, lawK1(nAll), LloydSteps, NProbeHalf)
    else mergedOpt.get
  }

  /** The compaction control signal: mean probed-hit gap
    * recall(trained) − recall(merged) over the sampled telemetry
    * queries, as a fraction of [[RecallK]] — exactly the number the
    * standing `q_imi_recall` / `q_imi_recall_compact` pair publishes
    * per maintenance window, recomputed here at decision time. Two
    * bounded one-row aggregates; the sampled brute-force ground truth
    * is the documented price (Q fixed by the sampling mod, which grows
    * with the corpus at scale). */
  private[graft] def measuredRecallGap(spark: SparkSession, dir: String,
      merged: DataFrame, queryMod: Int = RecallQueryMod): Double = {
    def meanHits(cells: DataFrame): Double =
      recallFromCells(spark, dir, cells, queryMod)
        .agg(coalesce(avg(col("hits")), lit(0.0))).head().getDouble(0)
    val trained = meanHits(trainedCanopy(spark, dir))
    val compacted = meanHits(
      merged.select(col("cell"), col("vec_id"), col("v"), col("n2")))
    (trained - compacted) / RecallK
  }

  /** Bounded decision-sample size for [[compactUnion]]'s gap
    * measurement: the sampling mod grows with the corpus so roughly
    * this many queries pay the brute-force ground truth regardless of
    * N (1k queries × N candidates = linear; the telemetry ops keep
    * their fixed registered mod — their Q is bounded by the GATE
    * corpora, and at 100 TB a deployment re-registers the mod). */
  val GapQueries = 1000L

  /** Decision-time sampling mod: every `gapMod`-th vector queries the
    * gap measurement, so Q ≈ nAll / gapMod ≈ [[GapQueries]] and the
    * brute-force ground truth stays linear in N. Clamped to
    * Int.MaxValue (ADVICE r12: the raw `.toInt` silently TRUNCATES
    * past ~2^31·GapQueries vectors — a wrapped-negative mod would make
    * `vec_id % gapMod = 0` sample almost nothing or throw). */
  private[graft] def decisionGapMod(nAll: Long): Int =
    math.min(Int.MaxValue.toLong,
      math.max(RecallQueryMod.toLong, nAll / GapQueries)).toInt

  /** Standing-index COMPACTION as a registered op — completes the
    * maintenance triple ([[imiDelta]] probes without retraining,
    * `q_stream_ann_trained` probes at arrival, this leg folds the
    * accumulated delta back in): the merged cells land AT REST as a
    * fresh [[PersistedStore]] generation (`imi_compact` — the
    * post-compaction generation of `imi_standing`; the fixture keeps
    * both stores so the delta probe's contract stays independently
    * testable), version-committed so readers of the old index never
    * observe in-place mutation. The oracle recomputes
    * train-on-standing + assign-union from scratch — the green row
    * proves merged-store ≡ full recompute, the incremental-sibling
    * pattern. */
  /** The compacted (merge-path) cells — session-cached over the
    * versioned `imi_compact` store; shared by [[imiCompact]] and the
    * compacted-recall telemetry [[imiRecallCompact]]. */
  private[graft] def compactCells(
      spark: SparkSession, dir: String): DataFrame =
    compactCache.getOrBuild(spark, dir, "embeddings.parquet") {
      // v3: the build consults the measured recall gap (r12) — same
      // merge artifact, but the store generation records the new law
      val store = PersistedStore.ensure(spark, dir, "embeddings.parquet",
        "imi_compact", s"v3:kl$K1Floor-$OccTarget:s$LloydSteps:p$NProbeHalf:d$DeltaMod" +
          s":f${(CompactRetrainFrac * 100).toInt}" +
          s":g${(CompactRecallGapFloor * 100).toInt}") { root =>
        compactUnion(spark, dir, CompactRetrainFrac,
          expectRetrain = Some(false))
          .write.mode("overwrite").parquet(s"$root/cells")
      }
      graft.Tables.parquet(spark, s"$store/cells").localCheckpoint()
    }

  val imiCompact: Op = Op(
    "q_imi_compact",
    imiStandingCellsSql(NProbeHalf, DeltaMod) +
      s"""
         |SELECT vec_id, cell,
         |  CAST(CASE WHEN vec_id % $DeltaMod = 0 THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_delta
         |FROM cells""".stripMargin) { (spark, dir) =>
    compactCells(spark, dir).select(col("vec_id"), col("cell"),
      when(col("vec_id") % DeltaMod === 0, 1L).otherwise(0L)
        .as("is_delta"))
  }

  /** Delta mod of the RETRAIN leg: every third vector ⇒ delta
    * fraction ≈ 33%, ABOVE [[CompactRetrainFrac]] — the accumulated
    * backlog a maintenance schedule hits when compaction was deferred
    * too long. */
  val RetrainDeltaMod = 3

  private val retrainCache = new SessionCache.Cache[DataFrame]

  /** The RETRAIN branch of [[compactUnion]] as its own registered op —
    * the r9 verdict's gap: the >threshold path was spec-forced but
    * never cross-engine-proven. At a 33% delta fraction the law
    * retrains the codebook on the UNION ([[cellsOf]] over the whole
    * corpus — the periodic rebuild every index maintenance schedule
    * carries), committed as a versioned store generation like the
    * merge leg; the oracle replays train-on-union from scratch
    * (the full [[imiCellsSql]] chain), so the green row proves the
    * retrain law itself. The build asserts the branch: if a corpus
    * shape ever drops the fraction under the threshold the op fails
    * loudly instead of silently diverging from its oracle. */
  val imiRetrain: Op = Op(
    "q_imi_retrain",
    imiCellsSql(NProbeHalf) +
      s"""
         |SELECT vec_id, cell,
         |  CAST(CASE WHEN vec_id % $RetrainDeltaMod = 0 THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_delta
         |FROM cells""".stripMargin) { (spark, dir) =>
    retrainCache.getOrBuild(spark, dir, "embeddings.parquet") {
      val store = PersistedStore.ensure(spark, dir, "embeddings.parquet",
        "imi_retrain", s"v1:kl$K1Floor-$OccTarget:s$LloydSteps:p$NProbeHalf" +
          s":d$RetrainDeltaMod:f${(CompactRetrainFrac * 100).toInt}") {
        root =>
          compactUnion(spark, dir, CompactRetrainFrac,
            deltaMod = RetrainDeltaMod, expectRetrain = Some(true))
            .write.mode("overwrite").parquet(s"$root/cells")
      }
      graft.Tables.parquet(spark, s"$store/cells").localCheckpoint()
    }.select(col("vec_id"), col("cell"),
      when(col("vec_id") % RetrainDeltaMod === 0, 1L).otherwise(0L)
        .as("is_delta"))
  }

  /** Oracle for [[imiDelta]]: train on the standing slice, assign
    * BOTH slices against the trained codebook, probe delta×standing
    * on shared cells, exact top-5 per delta vector. */
  private def imiDeltaSql(nprobe: Int, deltaMod: Int): String =
    imiStandingCellsSql(nprobe, deltaMod) +
    s""", cand AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM cells a JOIN cells b ON a.cell = b.cell
       |  WHERE a.vec_id % $deltaMod = 0 AND b.vec_id % $deltaMod <> 0
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
       |  FROM sc) WHERE rank <= 5""".stripMargin

  /** Shared oracle prefix of the index-maintenance family: train the
    * per-half codebooks on the STANDING slice only, assign BOTH
    * slices against that stored codebook, emit the probed `cells`
    * frame (vec_id, cell) — CTE for CTE against
    * [[standingIndex]] + [[cellsWithCodebook]]. */
  private def imiStandingCellsSql(nprobe: Int, deltaMod: Int)
      : String =
    s"""WITH e AS (
       |  SELECT vec_id, label, ${Similarity.QuantSql} AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, label, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |), nn AS (
       |  SELECT * FROM n WHERE n2 > 0
       |), hv AS (
       |  SELECT vec_id, 0 AS half, v[1:32] AS h FROM nn
       |  UNION ALL
       |  SELECT vec_id, 1 AS half, v[33:64] AS h FROM nn
       |), hq AS (
       |  SELECT * FROM (
       |    SELECT vec_id, half, h,
       |           list_sum(list_transform(h, x -> x*x)) AS hn2 FROM hv)
       |  WHERE hn2 > 0
       |), hs AS (
       |  SELECT * FROM hq WHERE vec_id % $deltaMod <> 0
       |), seed AS (
       |  SELECT half, vec_id AS cent_id, h AS cv, hn2 AS cn FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY half ORDER BY vec_id) AS rn
       |    FROM hs) WHERE rn <= ${k1Sql(s"nn WHERE vec_id % $deltaMod <> 0")}
       |), sc0 AS (
       |  SELECT a.vec_id, a.half, a.h, c.cent_id,
       |         CAST(list_sum(list_transform(range(1, 33), i -> a.h[i]*c.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.hn2 AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS cos
       |  FROM hs a JOIN seed c ON a.half = c.half
       |), as0 AS (
       |  SELECT half, cell, h FROM (
       |    SELECT half, cent_id AS cell, h,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, half ORDER BY cos DESC, cent_id) AS rn
       |    FROM sc0) WHERE rn = 1
       |), sums AS (
       |  SELECT half, cell, i, CAST(SUM(h[i]) AS BIGINT) AS s
       |  FROM as0, range(1, 33) t(i)
       |  GROUP BY half, cell, i
       |), cb AS (
       |  SELECT half, cell AS cent_id, list(s ORDER BY i) AS cv
       |  FROM sums GROUP BY half, cell
       |), cbn AS (
       |  SELECT * FROM (
       |    SELECT half, cent_id, cv,
       |           list_sum(list_transform(cv, x -> x*x)) AS cn FROM cb)
       |  WHERE cn > 0
       |), cbr AS (
       |  SELECT half,
       |         CAST(row_number() OVER (PARTITION BY half ORDER BY cent_id)
       |           AS BIGINT) AS cent_id, cv, cn
       |  FROM cbn
       |), scT AS (
       |  SELECT a.vec_id, a.half, c.cent_id,
       |         CAST(list_sum(list_transform(range(1, 33), i -> a.h[i]*c.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.hn2 AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS cos
       |  FROM hq a JOIN cbr c ON a.half = c.half
       |), hc AS (
       |  SELECT vec_id, half, cent_id AS c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, half ORDER BY cos DESC, cent_id) AS rn
       |    FROM scT) WHERE rn <= $nprobe
       |), cells AS (
       |  SELECT h0.vec_id, h0.c * $CellBase + h1.c AS cell
       |  FROM hc h0
       |  JOIN hc h1 ON h1.vec_id = h0.vec_id AND h1.half = 1
       |  WHERE h0.half = 0
       |)""".stripMargin

  // ---------------------------------------------------------------
  // shared oracle-SQL prefix: replays halves → seed → one Lloyd step
  // → trained scoring → per-half top-nprobe → probed cells, CTE for
  // CTE against the Spark chain above
  // ---------------------------------------------------------------
  private def imiCellsSql(nprobe: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, label, ${Similarity.QuantSql} AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, label, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e
       |), nn AS (
       |  SELECT * FROM n WHERE n2 > 0
       |), hv AS (
       |  SELECT vec_id, 0 AS half, v[1:32] AS h FROM nn
       |  UNION ALL
       |  SELECT vec_id, 1 AS half, v[33:64] AS h FROM nn
       |), hq AS (
       |  SELECT * FROM (
       |    SELECT vec_id, half, h,
       |           list_sum(list_transform(h, x -> x*x)) AS hn2 FROM hv)
       |  WHERE hn2 > 0
       |), seed AS (
       |  SELECT half, vec_id AS cent_id, h AS cv, hn2 AS cn FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY half ORDER BY vec_id) AS rn
       |    FROM hq) WHERE rn <= ${k1Sql("nn")}
       |), sc0 AS (
       |  SELECT a.vec_id, a.half, a.h, c.cent_id,
       |         CAST(list_sum(list_transform(range(1, 33), i -> a.h[i]*c.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.hn2 AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS cos
       |  FROM hq a JOIN seed c ON a.half = c.half
       |), as0 AS (
       |  SELECT half, cell, h FROM (
       |    SELECT half, cent_id AS cell, h,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, half ORDER BY cos DESC, cent_id) AS rn
       |    FROM sc0) WHERE rn = 1
       |), sums AS (
       |  SELECT half, cell, i, CAST(SUM(h[i]) AS BIGINT) AS s
       |  FROM as0, range(1, 33) t(i)
       |  GROUP BY half, cell, i
       |), cb AS (
       |  SELECT half, cell AS cent_id, list(s ORDER BY i) AS cv
       |  FROM sums GROUP BY half, cell
       |), cbn AS (
       |  SELECT * FROM (
       |    SELECT half, cent_id, cv,
       |           list_sum(list_transform(cv, x -> x*x)) AS cn FROM cb)
       |  WHERE cn > 0
       |), cbr AS (
       |  SELECT half,
       |         CAST(row_number() OVER (PARTITION BY half ORDER BY cent_id)
       |           AS BIGINT) AS cent_id, cv, cn
       |  FROM cbn
       |), scT AS (
       |  SELECT a.vec_id, a.half, c.cent_id, c.cn,
       |         CAST(list_sum(list_transform(range(1, 33), i -> a.h[i]*c.cv[i])) AS BIGINT) AS dot,
       |         CAST(list_sum(list_transform(range(1, 33), i -> a.h[i]*c.cv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.hn2 AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS cos
       |  FROM hq a JOIN cbr c ON a.half = c.half
       |), hc AS (
       |  SELECT vec_id, half, rn AS r, cent_id AS c, dot, cn FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, half ORDER BY cos DESC, cent_id) AS rn
       |    FROM scT) WHERE rn <= $nprobe
       |), cells AS (
       |  SELECT h0.vec_id, nn.label, h0.c * $CellBase + h1.c AS cell,
       |         h0.r AS r0, h1.r AS r1, h0.dot AS dot0, h1.dot AS dot1,
       |         h0.cn AS cn0, h1.cn AS cn1, nn.v, nn.n2
       |  FROM hc h0
       |  JOIN hc h1 ON h1.vec_id = h0.vec_id AND h1.half = 1
       |  JOIN nn ON nn.vec_id = h0.vec_id
       |  WHERE h0.half = 0
       |)""".stripMargin

  /** kNN graph over the TRAINED canopy — the fixed-cost sibling of
    * [[Similarity.knnGraph]]: identical contract (top-5 exact-cosine
    * neighbors among candidates, ties by neighbor id), candidates from
    * the persisted IMI cells instead of the stride-10 seed canopy.
    * Recall floor vs the exact top-1 pinned in ImiSpec. */
  val knnGraphTrained: Op = Op(
    "q_knn_graph_trained",
    imiCellsSql(NProbeHalf) +
    s""", cand AS (
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
    Similarity.knnTopKFromCells(trainedCanopy(spark, dir), 5)
  }

  /** Sampled-query cadence of [[imiRecall]]: every mod-th vector. */
  val RecallQueryMod = 10

  /** Neighbors compared per query in [[imiRecall]]. */
  val RecallK = 5

  /** RECALL TELEMETRY of the trained index — the number the compaction
    * threshold is tuned against (the 1M soak measured ~13 recall points
    * lost to frozen-codebook merge at 25% delta; this op makes the same
    * measurement a standing, oracled pipeline stage instead of
    * soak-time evidence): for every sampled query vector, how many of
    * its exact brute-force top-[[RecallK]] neighbors the trained probe
    * surfaces. Output is integer hit-counts per query — deterministic
    * and DuckDB-replayable (both rankings tie-break on (cos DESC,
    * nn_id), and the cosines are exact-integer dots under IEEE
    * division, so the two engines rank identically).
    *
    * Scale shape: the trained side rides the persisted canopy's
    * row-local per-cell tail with the src filter INSIDE the grouped row
    * (unsampled members serve only as candidates — no wasted top-k);
    * the brute side is the oracle contract — Q sampled queries × corpus
    * as one broadcast of Q rows over a single scan, cost bounded by the
    * SAMPLE, the documented price of ground truth. At 100 TB the
    * sample mod grows so Q stays fixed. */
  /** The recall tail's oracle SQL — appended to any prefix that emits
    * `cells (vec_id, cell)` and `nn (vec_id, v, n2)`: probed top-k per
    * sampled query vs the brute-force top-k, hit counts per query.
    * Shared by [[imiRecall]] (trained index) and [[imiRecallCompact]]
    * (merge-path index). */
  private def recallTailSql: String =
    s""", cand AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id % $RecallQueryMod = 0
       |), tk AS (
       |  SELECT vec_id, nn_id FROM (
       |    SELECT cand.src AS vec_id, cand.dst AS nn_id,
       |           ROW_NUMBER() OVER (PARTITION BY cand.src ORDER BY
       |             CAST(list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i])) AS DOUBLE)
       |               / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) DESC,
       |             cand.dst) AS rank
       |    FROM cand
       |    JOIN nn x ON x.vec_id = cand.src
       |    JOIN nn y ON y.vec_id = cand.dst
       |  ) WHERE rank <= $RecallK
       |), bf AS (
       |  SELECT vec_id, nn_id FROM (
       |    SELECT q.vec_id, c.vec_id AS nn_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |             CAST(list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) AS DOUBLE)
       |               / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) DESC,
       |             c.vec_id) AS rk
       |    FROM nn q JOIN nn c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id % $RecallQueryMod = 0
       |  ) WHERE rk <= $RecallK
       |), hits AS (
       |  SELECT tk.vec_id, CAST(COUNT(*) AS BIGINT) AS hits
       |  FROM tk JOIN bf ON tk.vec_id = bf.vec_id AND tk.nn_id = bf.nn_id
       |  GROUP BY tk.vec_id
       |)
       |SELECT q.vec_id, CAST(COALESCE(hits.hits, 0) AS BIGINT) AS hits,
       |       CAST($RecallK AS BIGINT) AS k
       |FROM (SELECT vec_id FROM nn WHERE vec_id % $RecallQueryMod = 0) q
       |LEFT JOIN hits ON hits.vec_id = q.vec_id""".stripMargin

  /** The recall tail's Spark side over ANY (cell, vec_id, v, n2) index
    * frame: sampled-query probed top-k (row-local per-cell tail, src
    * filter inside the grouped row) ∩ brute-force top-k → hit counts.
    * Shared by both recall ops. */
  private def recallFromCells(spark: SparkSession, dir: String,
      cellsV: DataFrame, mod: Int = RecallQueryMod): DataFrame = {
    val probed = Similarity.knnTopKFromCells(cellsV, RecallK,
        srcPred = v => v % mod === 0)
      .select(col("vec_id"), col("nn_id"))
    val e = Similarity.quantized(spark, dir)
    val q = e.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        cosine(idot(col("qv"), col("v")), col("qn"), col("n2"))
          .as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val brute = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= RecallK)
      .select(col("q_id").as("vec_id"), col("c_id").as("nn_id"))
    val hits = probed.join(brute, Seq("vec_id", "nn_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("h"))
    q.select(col("q_id").as("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("h"), lit(0L)).as("hits"),
        lit(RecallK.toLong).as("k"))
  }

  val imiRecall: Op = Op(
    "q_imi_recall",
    imiCellsSql(NProbeHalf) + recallTailSql) { (spark, dir) =>
    recallFromCells(spark, dir, trainedCanopy(spark, dir))
  }

  /** Recall telemetry of the MERGE-path index — [[imiRecall]] on the
    * compacted cells (everything assigned against the STANDING-slice
    * codebook, [[imiCompact]]'s store): together the two ops are the
    * standing form of the frozen-codebook recall curve — a deployment
    * reads recall(trained) − recall(compacted) per maintenance window
    * and flips to the retrain branch when the gap exceeds its recall
    * budget, instead of trusting the soak-time extrapolation. Same
    * sampled queries, same ground truth, same tail; only the index
    * differs. */
  val imiRecallCompact: Op = Op(
    "q_imi_recall_compact",
    imiStandingCellsSql(NProbeHalf, DeltaMod) + recallTailSql) {
    (spark, dir) =>
    recallFromCells(spark, dir,
      compactCells(spark, dir)
        .select(col("cell"), col("vec_id"), col("v"), col("n2")))
  }

  /** SemDeDup over the TRAINED canopy — clusters are the top-1 IMI
    * cell (r0 = r1 = 1), keep-order score is the cosine to the
    * CONCATENATED trained centroid (dot0+dot1 over √(cn0+cn1) — exact
    * integer parts, IEEE-identical division), pruning tail shared with
    * [[Similarity.semdedup]]. */
  val semdedupTrained: Op = Op(
    "q_semdedup_trained",
    imiCellsSql(NProbeHalf) +
    s""", asg AS (
       |  SELECT vec_id, label, cell,
       |         CAST(dot0 + dot1 AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(cn0 + cn1 AS DOUBLE))) AS cos_cent,
       |         v, n2
       |  FROM cells WHERE r0 = 1 AND r1 = 1
       |), dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b ON a.cell = b.cell
       |    AND (a.cos_cent < b.cos_cent
       |         OR (a.cos_cent = b.cos_cent AND a.vec_id < b.vec_id))
       |  WHERE CAST(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i])) AS DOUBLE)
       |          / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.35
       |)
       |SELECT vec_id, label, cell, cos_cent FROM asg
       |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin) {
    (spark, dir) =>
      val asg = trainedCanopy(spark, dir)
        .filter(col("r0") === 1 && col("r1") === 1)
        .select(col("vec_id"), col("label"), col("cell"),
          cosine(col("dot0") + col("dot1"), col("n2"),
            col("cn0") + col("cn1")).as("cos_cent"),
          col("v"), col("n2"))
      Similarity.semdedupFrom(asg)
  }

  /** Hard-negative mining over the TRAINED canopy — the fourth canopy
    * consumer gets its fixed-cost sibling (same contract as
    * [[Similarity.hardNegatives]]: per anchor the top-3
    * highest-cosine DIFFERENT-label candidates; tail shared via
    * [[Similarity.hardNegTopKFromCells]]). */
  val hardNegativesTrained: Op = Op(
    "q_hard_negatives_trained",
    imiCellsSql(NProbeHalf) +
    s""", cand AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM cells a JOIN cells b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id AND a.label <> b.label
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
    Similarity.hardNegTopKFromCells(trainedCanopy(spark, dir), 3)
  }

  /** Embedding near-dup ANN over the TRAINED canopy — same contract
    * as [[Similarity.embedNearDupAnn]] (same-label candidate pairs
    * sharing a probed cell, exactly verified at cos ≥ 0.35), fixed
    * assignment cost. Vectors ride through the canopy, so the pair
    * scoring happens inline in the cell self-join (no attach joins);
    * distinct-after-score ≡ distinct-then-score because the cosine is
    * a deterministic function of the pair. */
  val embedNearDupAnnTrained: Op = Op(
    "q_embed_neardup_ann_trained",
    imiCellsSql(NProbeHalf) +
    s""", cand AS (
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
    (spark, dir) =>
      val cells = trainedCanopy(spark, dir)
      val a = cells.select(col("cell"), col("label"),
        col("vec_id").as("id_a"), col("v").as("va"), col("n2").as("na"))
      val b = cells.select(col("cell"), col("label"),
        col("vec_id").as("id_b"), col("v").as("vb"), col("n2").as("nb"))
      a.join(b, Seq("cell", "label"))
        .filter(col("id_a") < col("id_b"))
        .select(col("label"), col("id_a"), col("id_b"),
          cosine(idot(col("va"), col("vb")),
            col("na"), col("nb")).as("cos"))
        .distinct()
        .filter(col("cos") >= 0.35)
  }
}
