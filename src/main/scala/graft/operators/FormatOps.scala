package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables

/** Columnar-format interchange beyond parquet: the ORC round trip.
  *
  * The reference ingests CSV and JSON and stores rows in Postgres
  * (scripts/pricing/01_import_pricecharting_csv.js, its only storage
  * tier); a Spark-native engine at 100 TB instead speaks the columnar
  * interchange formats, and ORC is the second first-class one after
  * parquet (Spark ships the reader/writer in-core). What this op pins
  * is not "can Spark write ORC" but the three scan properties that make
  * a columnar source usable at scale, each visible in the plan and
  * gated in [[FormatOpsSpec]]:
  *
  *   - partition pruning: the fixture is written
  *     `partitionBy(l_returnflag)`, the query filters
  *     `l_returnflag = 'R'` — the scan must list ONE partition
  *     directory, not read-then-filter three;
  *   - predicate pushdown: `l_quantity <= 25` reaches the ORC reader
  *     (`PushedFilters`), so row groups outside the range never
  *     decompress;
  *   - column pruning: the aggregate touches 3 of the table's columns,
  *     and `ReadSchema` must carry exactly those.
  *
  * The staged ORC dir is a pure function of `lineitem` (same
  * listing-signature reuse as the CSV/JSONL fixtures — fixture
  * synthesis is not what the query measures), so the DuckDB oracle
  * computes the identical aggregate straight from the parquet source.
  * Money goes through `round(x*100)::BIGINT` — the proven exact device
  * from `q_csv_ingest` — so sums are integer-exact across engines.
  */
object FormatOps {

  val orcRoundtrip: Op = Op(
    "q_orc_roundtrip",
    """SELECT l_linestatus,
      |       COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem
      |WHERE l_returnflag = 'R' AND l_quantity <= 25
      |GROUP BY l_linestatus""".stripMargin) { (spark, dir) =>
    scanStagedOrc(spark, dir)
      .filter(col("l_returnflag") === "R" && col("l_quantity") <= 25)
      .groupBy(col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
  }

  /** The staged-ORC scan behind [[orcRoundtrip]], exposed so the spec
    * can plan-gate the bare read (partition pruning / PushedFilters /
    * ReadSchema) without the aggregate on top. */
  def scanStagedOrc(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val orcDir = PersistedStore.ensure(spark, dir, "lineitem.parquet",
      "orc", "v1") { root =>
      Tables.lineitem(spark, dir)
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .orc(root)
    }
    spark.read.orc(orcDir)
  }
}
