package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** graft_cell_topk: the native per-cell exact top-k kernel must be
  * BIT-IDENTICAL to the declarative HOF form it replaces — same IEEE
  * expression order, same (ncos, id) insertion order, same label-null
  * exclusion law — on data with deliberate cosine ties, self-pairs,
  * short cells, and null labels. The registered ops compare via the
  * full kernels (cached session frames bypassed by building frames
  * inline here).
  */
class CellTopKSpec extends SparkSpec {
  import spark.implicits._

  private def quant(rows: Seq[(Long, Seq[Long], Long)]): DataFrame =
    rows.toDF("vec_id", "v", "n2")

  private def hofKnn(ms: DataFrame, k: Int): DataFrame =
    ms.select(explode(transform(col("ms"),
      s => struct(s.getField("vec_id").as("src"),
        slice(array_sort(transform(
          filter(col("ms"),
            m => m.getField("vec_id") =!= s.getField("vec_id")),
          m => {
            val c = (call_function("graft_dot",
              s.getField("v"), m.getField("v")).cast("double")
              / (sqrt(s.getField("n2").cast("double"))
                * sqrt(m.getField("n2").cast("double"))))
            struct(negate(c).as("ncos"), m.getField("vec_id").as("nn_id"))
          })), 1, k).as("t")))).as("e"))
      .select(col("e.src"), col("e.t"))

  test("knn mode equals the HOF form bit-for-bit (ties, short cells)") {
    // vectors engineered for exact cosine ties: v2 = 2*v1 (cos 1 with
    // both), plus an orthogonal pair and a singleton cell
    val cells = Seq(
      (0L, Seq(1L, 0L, 0L), 1L, 10L),
      (1L, Seq(2L, 0L, 0L), 4L, 10L),
      (2L, Seq(0L, 3L, 0L), 9L, 10L),
      (3L, Seq(1L, 1L, 0L), 2L, 10L),
      (4L, Seq(5L, 0L, 0L), 25L, 11L) // singleton: empty top list
    ).toDF("vec_id", "v", "n2", "cell")
    val ms = cells.groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("n2"))).as("ms"))
    val native = ms.select(explode(call_function("graft_cell_topk",
        col("ms"), col("ms"), lit(2), lit(false))).as("e"))
      .select(col("e.src"), col("e.t"))
    val hof = hofKnn(ms, 2)
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty,
      "native per-cell top-k drifted from the declarative form")
    // srcPred filtering composes: filtered srcs, full member list
    val nativeF = ms.select(explode(call_function("graft_cell_topk",
        filter(col("ms"), s => s.getField("vec_id") % 2 === 0),
        col("ms"), lit(2), lit(false))).as("e"))
      .select(col("e.src")).as[Long].collect().toSet
    assert(nativeF === Set(0L, 2L, 4L))
  }

  test("label mode: null labels exclude, same label excludes") {
    val cells = Seq(
      (0L, Some("a"), Seq(1L, 0L), 1L, 10L),
      (1L, Some("b"), Seq(1L, 1L), 2L, 10L),
      (2L, Some("a"), Seq(0L, 1L), 1L, 10L),
      (3L, None, Seq(1L, 0L), 1L, 10L) // null label: never a candidate
    ).toDF("vec_id", "label", "v", "n2", "cell")
    val ms = cells.groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("label"), col("v"),
        col("n2"))).as("ms"))
    val native = ms.select(explode(call_function("graft_cell_topk",
        col("ms"), col("ms"), lit(3), lit(true))).as("e"))
      .select(col("e.src"), col("e.la"),
        transform(col("e.t"), p => struct(p.getField("neg_id"),
          p.getField("neg_label"))).as("t"))
    val rows = native.collect().map(r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](2)
        .map(p => (p.getLong(0), p.getString(1)))).toMap
    // 0 ("a") sees only 1 ("b"); 3 (null) sees nothing and is seen by
    // nobody; 1 ("b") sees 0 and 2 ("a")
    assert(rows(0L) === Seq((1L, "b")))
    assert(rows(3L) === Seq())
    assert(rows(1L).map(_._1).toSet === Set(0L, 2L))
  }

  test("registered kernels agree with HOF fallback on the gate corpus") {
    // full-kernel parity: run knnTopKFromCells against a session
    // WITHOUT the extension (fallback) and compare to the extension
    // session's output on the same frames
    val e = graft.operators.Similarity.quantizedLabeled(spark, sf001)
    val cells = graft.operators.Similarity
      .canopyCells(e, nprobe = 8, stride = 10)
      .select("vec_id", "cell")
      .join(e.select(col("vec_id"), col("v"), col("n2")), Seq("vec_id"))
      .select("cell", "vec_id", "v", "n2")
    val withExt = graft.operators.Similarity
      .knnTopKFromCells(cells, 5)
    val ms = cells.groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("n2"))).as("ms"))
    val hofPerCell = hofKnn(ms, 5)
    val hofTop = hofPerCell
      .groupBy(col("src"))
      .agg(slice(array_distinct(array_sort(flatten(collect_list(col("t"))))),
        1, 5).as("top"))
      .select(col("src").as("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nn_id").as("nn_id"), negate(col("col.ncos")).as("cos"))
    assert(withExt.exceptAll(hofTop).isEmpty &&
      hofTop.exceptAll(withExt).isEmpty,
      "native kernel output drifted from the HOF kernel on the corpus")
  }
}
