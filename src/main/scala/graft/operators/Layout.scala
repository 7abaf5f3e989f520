package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * The 100 TB scan problem the reference never hits (its PG tables are
  * index-served, `03_build_market_price_daily.js:82-83` builds
  * index-friendly predicates for exactly that reason): a parquet lake
  * has no secondary indexes — file/row-group min-max stats are the only
  * data-skipping structure, and they only help along dimensions the
  * layout actually clusters. Sorting by ONE key gives perfect pruning on
  * that key and none on any other. Interleaving the bits of TWO
  * independent filter dimensions (Morton order) makes every contiguous
  * z-range a small rectangle in (x, y) space, so per-file min-max ranges
  * stay narrow on BOTH dimensions at once and predicates on either prune
  * most files (Delta Lake's `OPTIMIZE ZORDER BY`; Hudi/Iceberg ship the
  * same curve).
  *
  * Each dimension is first normalized to the full ZBits range by
  * integer-scaling against its domain max — raw interleave of domains
  * with different bit widths degenerates to a single-key sort (the wide
  * dimension owns every high z-bit; measured: per-file suppkey span was
  * 98% of global before normalization, 30% after). The two domain maxes
  * are one scalar anchor probe (same driver budget as Rollup's window
  * bounds); at 100 TB they come from table stats.
  *
  * Shape at scale: computing z is map-only expression work riding into
  * the scan; `repartitionByRange(z)` is ONE shuffle with sampled range
  * bounds (the same cost as any global sort — it replaces the shuffle a
  * plain re-sort would pay, it does not add one); the write is
  * embarrassingly parallel. Done once at ingest, amortized over every
  * subsequent scan.
  *
  * The registered query clusters `lineitem` on (l_partkey, l_suppkey),
  * re-reads the laid-out files, and reports per-z-bucket row counts and
  * dimension envelopes. The oracle replays the identical normalize +
  * interleave arithmetic straight from the source table — proving the z
  * math AND that the layout round-trip preserved the data bit-for-bit.
  * The locality property itself (per-file envelopes narrow on both
  * dimensions simultaneously) is asserted file-by-file in LayoutSpec —
  * file statistics are not SQL-visible, so the spec, not the oracle,
  * owns that half of the contract.
  */
object Layout {

  /** Interleaved bits per dimension; z < 2^(2·ZBits) stays int64-safe
    * for any ZBits ≤ 31. 16 gives 65536 cells per axis — far finer than
    * any realistic file count needs. */
  val ZBits = 16

  /** Bump when the layout semantics change: invalidates committed
    * staging dirs built by older code (the source-listing signature
    * alone can't see a code change). */
  private val LayoutVersion = 2

  /** Normalize a non-negative dimension onto [0, 2^ZBits): integer
    * scale by the domain max. `floor` over the double division is exact
    * here: the numerator stays < 2^31 (exactly representable) and the
    * true quotient is ≥ 1/(maxV+1) away from any integer it isn't, so
    * IEEE rounding cannot cross the floor boundary — bit-identical to
    * DuckDB's integer `//`. */
  def normalizeDim(c: Column, maxV: Long): Column =
    floor(c.cast("long") * (1L << ZBits) / (maxV + 1)).cast("long")

  /** Morton z-value over two already-normalized columns: bit i of `x`
    * lands at z-bit 2i, bit i of `y` at z-bit 2i+1. Pure integer
    * expression work — codegen-friendly, no UDF. */
  def zValue(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** The identical interleave as DuckDB SQL text over pre-normalized
    * BIGINT expressions, generated from the same loop so the two
    * engines cannot drift. */
  def zValueSql(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"(($x >> $i) & 1) * ${1L << (2 * i)} + " +
        s"(($y >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")")

  /** Inverse of [[zValue]] for one dimension (`offset` 0 → x, 1 → y);
    * spec-side round-trip witness that the curve is a bijection. */
  def zDecode(z: Long, offset: Int): Long =
    (0 until ZBits).map(i => ((z >> (2 * i + offset)) & 1L) << i).sum

  /** Files written per layout run — the range partitioning fan-out. At
    * 100 TB this is (table size / target file size); the curve quality
    * per file is independent of the count. */
  val LayoutFiles = 16

  private val ZBucketWidth = 1L << 26 // ≤64 buckets over z < 2^32

  /** Cluster `lineitem` by z(l_partkey, l_suppkey) into a committed
    * staging layout (built once per source signature, like the CSV and
    * bucketing fixtures — layout synthesis is not what the query
    * measures), then re-read and report per-z-bucket envelopes. */
  val zorderLayout: Op = Op(
    "q_zorder_layout",
    s"""WITH n AS (
       |  SELECT l_partkey, l_suppkey, l_quantity,
       |    CAST(l_partkey AS BIGINT) * ${1L << ZBits}
       |      // ((SELECT MAX(l_partkey) FROM lineitem) + 1) AS xn,
       |    CAST(l_suppkey AS BIGINT) * ${1L << ZBits}
       |      // ((SELECT MAX(l_suppkey) FROM lineitem) + 1) AS yn
       |  FROM lineitem
       |)
       |SELECT ${zValueSql("xn", "yn")} // $ZBucketWidth AS zbucket,
       |  COUNT(*) AS n_rows,
       |  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
       |  MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp,
       |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
       |FROM n
       |GROUP BY 1""".stripMargin) { (spark, dir) =>
    val laid = Tables.parquet(spark, layoutDir(spark, dir))
    laid
      .groupBy((col("z") / ZBucketWidth).cast("long").as("zbucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"),
        max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"),
        max(col("l_suppkey")).as("max_supp"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
  }

  /** Build (or reuse) the z-clustered layout for `dir`'s lineitem;
    * returns the layout path (the [[PersistedStore]] version root).
    * Reuse contract: the source listing signature + layout version
    * match — regenerated testdata at the same path, or changed layout
    * code, rebuilds the layout instead of serving stale rows. */
  def layoutDir(spark: SparkSession, dir: String): String =
    PersistedStore.ensure(spark, dir, "lineitem.parquet",
      "zorder", s"v$LayoutVersion") { root =>
      writeZordered(Tables.lineitem(spark, dir), root)
    }

  /** Target rows per compaction output group (the row-count stand-in
    * for a target file SIZE — the testdata's fixed-width rows make the
    * two proportional; sized so the plan has real multi-group structure
    * from sf0.01 up). */
  val CompactTargetRows = 2000L

  /** Small-partition compaction planner — the other half of lakehouse
    * layout maintenance next to [[zorderLayout]] (Delta `OPTIMIZE` /
    * Iceberg `rewrite_data_files` bin-pack): a day-partitioned store
    * accretes one small file per day per writer, and scan cost at 100 TB
    * is dominated by file COUNT (footer reads, task scheduling) long
    * before bytes. The planner walks the per-day row inventory in day
    * order and assigns each day to output group `rows_before div
    * target` — the same distributed-deterministic greedy packing as
    * Curation.packSequences: a group overflows by at most one day,
    * days are never split, consecutive days stay adjacent (so per-file
    * min/max day stats keep pruning date predicates after the rewrite).
    *
    * Scale shape: the inventory is METADATA-sized (one row per
    * partition, from the catalog/file listing — never a data scan at
    * plan time; here it is derived with one map-combinable count). The
    * single-partition prefix-sum window runs over #partitions rows, not
    * data. Executing the plan = read each group, write one file —
    * embarrassingly parallel across groups. */
  val compactionPlan: Op = Op(
    "q_compaction_plan",
    s"""WITH d AS (
       |  SELECT o_orderdate AS day, CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM orders GROUP BY 1
       |), p AS (
       |  SELECT day, n_rows,
       |    CAST(SUM(n_rows) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_rows
       |      AS BIGINT) AS rows_before
       |  FROM d
       |)
       |SELECT rows_before // $CompactTargetRows AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_parts,
       |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       |  MIN(day) AS day_min, MAX(day) AS day_max
       |FROM p GROUP BY 1""".stripMargin) { (spark, dir) =>
    compactionPlanOf(
      Tables.orders(spark, dir).groupBy(col("o_orderdate").as("day"))
        .agg(count(lit(1)).as("n_rows")),
      CompactTargetRows)
  }

  /** [[compactionPlan]] kernel over any (day, n_rows) inventory. */
  def compactionPlanOf(inventory: DataFrame, targetRows: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    inventory
      .withColumn("rows_before", sum(col("n_rows")).over(w) - col("n_rows"))
      .groupBy(expr(s"rows_before div $targetRows").as("bucket"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(col("n_rows")).as("n_rows"),
        min(col("day")).as("day_min"),
        max(col("day")).as("day_max"))
  }

  /** The layout kernel: normalized z column + range-partition + in-file
    * sort + parquet write. Kept separate so specs can lay out arbitrary
    * frames. Input needs l_partkey/l_suppkey; all columns preserved. */
  def writeZordered(df: DataFrame, out: String): Unit = {
    val bounds = df.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val (maxP, maxS) = (bounds.getLong(0), bounds.getLong(1))
    df.withColumn("z", zValue(
        normalizeDim(col("l_partkey"), maxP),
        normalizeDim(col("l_suppkey"), maxS)))
      .repartitionByRange(LayoutFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(out)
  }
}
