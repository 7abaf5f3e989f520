package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The argmin/argmax aggregation device (r15): `max(struct(...))` /
  * `min(struct(...))` are DECLARATIVE aggregates whose struct buffer
  * cannot live in HashAggregate's mutable UnsafeRow, so every such
  * argmax in the codebase planned as **SortAggregate** — each mapper
  * SORTED its whole input stream before the partial reduction
  * (measured: 4 SortAggregate nodes under q_best_of_day's single
  * aggregate, 20 under q_ann_ivf's training). `graft_topk(ordered, 1)`
  * is the same reduction as a TypedImperativeAggregate — it plans as
  * ObjectHashAggregate with an O(1) heap buffer per group, keeps full
  * map-side partial aggregation, and never sorts the stream. Ordering
  * is the identical struct-lexicographic interpreted ordering, so
  * `largest1(s) ≡ max(s)` row-for-row; argmin callers negate the
  * ordering fields (strictly order-reversing on the integer ranges in
  * use) and un-negate on unpack.
  */
private[graft] object BestAgg {

  /** The single LARGEST value of `ordered` in the group — `max(ordered)`
    * with an ObjectHashAggregate plan. A group with no non-null value
    * yields NULL, as `max` does: `get` reads past the end of the empty
    * top-k as NULL, where `element_at` throws under
    * `spark.sql.ansi.enabled`. */
  def largest1(ordered: Column): Column =
    get(call_function("graft_topk", ordered, lit(1)), lit(0))
}
