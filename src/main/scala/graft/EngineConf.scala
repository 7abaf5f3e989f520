package graft

import org.apache.spark.sql.SparkSession

/** Session knobs the engine's kernels are designed against — one
  * definition shared by every session recipe (Verify, Bench, the dev
  * tools, the test session) so a production deployment copies ONE
  * block instead of re-deriving it from PERF.md.
  */
object EngineConf {

  /** `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`.
    *
    * The bounded-heap aggregates (`graft_topk` — the IMI argmax /
    * top-nprobe kernels, the per-group top-k family) run as
    * ObjectHashAggregate. At Spark's DEFAULT threshold (128 keys per
    * partition) the operator abandons hashing and falls back to
    * sort-based aggregation as soon as a partition holds more groups
    * than that — which re-sorts the ENTIRE scored input stream, the
    * exact failure the 10M-vector soak caught (a partition holding
    * ~300k (vec, half) groups degraded to a SortAggregate-shaped spill;
    * PERF.md round-11 soak notes). 2M keys of skinny heap buffers
    * (each O(k) longs) is tens of MB per partition — far inside
    * executor memory at the documented session shapes, and the soak
    * ran the full 10M-vector decade under this exact value. A cluster
    * deployment either sets this or buckets the index so per-partition
    * group counts stay bounded.
    */
  val ObjectHashFallbackThreshold = 2000000

  /** Session knob for the quadratic-contract guard (r12 verdict #5):
    * the three contract ops whose OUTPUT is itself quadratic on
    * adversarial data (`q_fuzzy_match`, `q_embed_neardup`,
    * `q_entity_cluster`, API.md "Contract ops vs scale paths") count
    * their candidate volume FIRST — one metadata aggregate over the
    * blocking histogram — and abort with a pointer to the scale-safe
    * sibling when the estimate exceeds this budget. */
  val CandidateBudgetKey = "spark.graft.quadratic.candidateBudget"

  /** Default candidate budget: 2×10⁸ pairs ≈ minutes of single-node
    * verify work and tens of GB of pair shuffle — past it the caller
    * almost certainly wanted the sibling, and an explicit conf
    * override is the documented escape hatch. */
  val CandidateBudgetDefault = 200000000L

  def candidateBudget(spark: SparkSession): Long =
    spark.conf.getOption(CandidateBudgetKey)
      .map(_.toLong).getOrElse(CandidateBudgetDefault)

  /** The guard itself: loud, actionable, BEFORE any corpus-scaled
    * work is launched. */
  def requireCandidateBudget(op: String, sibling: String,
      estimate: Long, budget: Long): Unit =
    if (estimate > budget) throw new IllegalStateException(
      s"$op: estimated candidate volume $estimate exceeds the " +
        s"quadratic-contract budget $budget on this corpus shape. " +
        s"This op's output contract is itself quadratic (every " +
        s"qualifying pair); at this volume you almost certainly want " +
        s"the scale-safe sibling $sibling. To run the exhaustive " +
        s"contract anyway, raise $CandidateBudgetKey.")

  /** Budget for ONE-ROW collected broadcast index maps (the
    * arrival-time probe device: the whole cell→members index collected
    * into a single map row and cross-joined broadcast onto a stream).
    * Row-local probing is the right shape for LOW-RATE arrivals
    * against a SMALL standing index, but the collected row is
    * index-sized — the r14 sf1→sf10 soak crashed the driver
    * collecting 1.6M member entries (full 64-int vectors) into one
    * row. Ops estimate the member count from bounded metadata BEFORE
    * collecting and abort naming the join-form sibling. */
  val BroadcastIndexBudgetKey = "spark.graft.broadcastIndex.memberBudget"
  val BroadcastIndexBudgetDefault = 1000000L

  def broadcastIndexBudget(spark: SparkSession): Long =
    spark.conf.getOption(BroadcastIndexBudgetKey)
      .map(_.toLong).getOrElse(BroadcastIndexBudgetDefault)

  def requireBroadcastIndexBudget(op: String, sibling: String,
      members: Long, budget: Long): Unit =
    if (members > budget) throw new IllegalStateException(
      s"$op: the standing index holds $members member entries — " +
        s"collecting it into a one-row broadcast map exceeds the " +
        s"budget $budget and risks driver OOM. At this index size use " +
        s"the stream-static join form $sibling. To force the " +
        s"row-local device anyway, raise $BroadcastIndexBudgetKey.")

  /** Apply the engine's session knobs to a builder. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      ObjectHashFallbackThreshold.toString)
      // let the planner choose shuffled-hash over sort-merge when its
      // own size conditions hold (one side far smaller AND its
      // per-partition build fits) — skips both sides' sorts; identical
      // results, graceful fallback to SMJ everywhere else. Scale-
      // independent: the decision is per-join from runtime statistics,
      // not a local[32] constant (guide §3.1/§9; bucketed co-located
      // joins keep their SMJ because neither side is 3× smaller).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // AQE's runtime SMJ→SHJ rewrite (off by default): when every
      // measured post-shuffle partition of a sort-merge join is under
      // this bound, build a per-partition hash map instead of sorting
      // both sides. Decision is per-join from RUNTIME sizes, so it is
      // scale-adaptive by construction: corpus-scaled joins at 100 TB
      // exceed the bound and keep SMJ's graceful spill, while joins
      // whose partitions measure small (after AQE coalescing) skip two
      // sorts. 64 MB per build map × cores is well inside the
      // documented session shapes (guide §3.1).
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
}
