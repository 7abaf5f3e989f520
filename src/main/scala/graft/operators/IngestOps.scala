package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.CsvIngest

/** Registered end-to-end CSV ingest (reference E1,
  * scripts/pricing/01_import_pricecharting_csv.js): materialize the
  * `part` table as a messy vendor CSV — alias-spelled headers, `$`/`,`
  * money strings — then run the full ingest pipeline (normalize headers,
  * resolve aliases, row guards, money parse, last-write-wins dedupe) and
  * aggregate the result for a compact, deterministic output.
  *
  * The staged CSV is generated deterministically FROM `part`, so the
  * DuckDB oracle computes the identical aggregate straight from the
  * parquet source: every money string round-trips exactly (retailprice
  * has exactly 2 decimals; parse goes through decimal, never double),
  * keys are unique, and no row trips a guard — n_rows = count(part),
  * sum_cents = sum(round(p_retailprice*100)), n_unparsed = 0. The
  * ingest kernel itself is unit-tested in CsvIngestSpec.
  */
object IngestOps {

  val csvRoundtrip: Op = Op(
    "q_csv_ingest",
    """SELECT COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(ROUND(p_retailprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       CAST(0 AS BIGINT) AS n_unparsed
      |FROM part
      |WHERE p_name IS NOT NULL AND length(trim(p_name)) > 0""".stripMargin) {
    (spark, dir) =>
    // deterministic staging store per sf, built once and reused across
    // runs: the fixture is a pure function of `part`, so a committed
    // version is valid exactly while the source file's listing
    // signature is unchanged — regenerated testdata at the same path
    // rebuilds the fixture instead of reconciling stale CSV against a
    // fresh oracle. Like the bucket-table layout, fixture synthesis is
    // not what the query measures. The version carries the WRITER LAW:
    // a quoting/escape change (csv_v2: RFC-4180 doubled quotes) must
    // rebuild the staged CSV, or a stale fixture written under the old
    // law reconciles against the new reader.
    val csvDir = PersistedStore.ensure(spark, dir, "part.parquet",
      "csv", "csv_v2") { root =>
      Tables.part(spark, dir).select(
          col("p_partkey").cast("string").as("Product ID"),
          col("p_name").as("Product Name"),
          col("p_brand").as("Console-Name"),
          // vendor-style money: "$1,234.56"
          concat(lit("$"), format_number(col("p_retailprice"), 2)).as("Loose-Price"))
        // parallel staging write (no coalesce(1)): the reader globs the
        // directory, so the fixture write never becomes a bottleneck at
        // larger SF. escape='"' pairs with the reader's RFC-4180
        // doubled-quote law (the writer's default escape is backslash —
        // asymmetric with the reader, silently corrupting fields that
        // contain quote chars)
        .write.mode("overwrite").option("header", "true")
        .option("quote", "\"").option("escape", "\"")
        .csv(root)
    }
    val ingested = CsvIngest.ingest(
      spark, csvDir,
      aliases = Map(
        "product_id"   -> Seq("product_id", "productid", "id"),
        "product_name" -> Seq("product_name", "productname"),
        "console_name" -> Seq("console_name", "consolename"),
        "loose_price"  -> Seq("loose_price", "looseprice", "loose_price_cents")),
      keyCols = Seq("product_id"),
      requiredCols = Seq("product_id", "product_name"),
      moneyCols = Seq("loose_price"))
    ingested.agg(
      count(lit(1)).as("n_rows"),
      sum(col("loose_price_cents")).as("sum_cents"),
      count(when(col("loose_price_cents").isNull, 1)).as("n_unparsed"))
  }

  /** JSONL ingest with corrupt-line quarantine — the interchange format
    * of large-scale text corpora (C4, The Pile, RedPajama all ship as
    * JSON lines; the reference's closest shape is its tolerant JSON
    * payload parse, 02_normalize_scryfall_prices.js:82-88). Every
    * [[JsonlCorruptMod]]-th line of the staged feed is deliberately
    * malformed; the reader must parse the rest with an EXPLICIT schema
    * (nested `meta` struct — no schema inference, which at 100 TB means
    * a full extra pass over the data), keep malformed lines as null
    * structs instead of failing the job (the reference's tolerant-parse
    * semantics at source level), and account for every quarantined
    * line.
    *
    * The staged fixture is a pure function of `documents` (same
    * listing-signature reuse as the CSV fixture), so the oracle
    * recomputes the identical per-lang aggregate straight from parquet.
    */
  val JsonlCorruptMod = 97

  val jsonlIngest: Op = Op(
    "q_jsonl_ingest",
    s"""WITH good AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |         CAST(SUM(length(text)) AS BIGINT) AS sum_chars
       |  FROM documents WHERE doc_id % $JsonlCorruptMod <> 0 GROUP BY lang
       |), bad AS (
       |  SELECT '_corrupt' AS lang, COUNT(*) AS n_docs,
       |         CAST(0 AS BIGINT) AS sum_chars
       |  FROM documents WHERE doc_id % $JsonlCorruptMod = 0
       |)
       |SELECT * FROM good UNION ALL SELECT * FROM bad""".stripMargin) {
    (spark, dir) =>
    // v2 — fixture layout version: bump to invalidate staged stores
    // when the generator changes (the signature otherwise only tracks
    // the SOURCE listing)
    val jsonDir = PersistedStore.ensure(spark, dir, "documents.parquet",
      "jsonl", "v2") { root =>
      Tables.documents(spark, dir).select(
          when(col("doc_id") % JsonlCorruptMod === 0,
            // malformed from the FIRST byte (bare token before the
            // object): PERMISSIVE from_json must fail the whole line —
            // a tail-truncated object would be kept PARTIALLY (doc_id
            // parsed, meta null), which is type-mismatch salvage, not
            // quarantine
            concat(lit("TRUNC{\"doc_id\": "), col("doc_id"), lit("}")))
          .otherwise(to_json(struct(col("doc_id"),
            struct(col("lang"), col("source")).as("meta"),
            col("text"))))
          .as("value"))
        .write.mode("overwrite").text(root)
    }
    // text + from_json rather than the json source: Spark refuses a
    // query that touches ONLY the corrupt-record column of a raw JSON
    // scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and from_json keeps the
    // same explicit-schema contract — a malformed line parses to an
    // ALL-NULL struct (PERMISSIVE never fails the job) and the raw line
    // stays in `value` for quarantine. Every valid feed line carries
    // doc_id by contract, so `doc_id IS NULL` IS the quarantine test.
    val parsed = spark.read.text(jsonDir)
      .select(col("value"), from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, meta STRUCT<lang: STRING, source: STRING>, " +
            "text STRING")).as("r"))
    val good = parsed.filter(col("r.doc_id").isNotNull)
      .groupBy(col("r.meta.lang").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("r.text"))).as("sum_chars"))
    val bad = parsed.filter(col("r.doc_id").isNull)
      .agg(count(lit(1)).as("n_docs"))
      .select(lit("_corrupt").as("lang"), col("n_docs"),
        lit(0L).as("sum_chars"))
    good.unionByName(bad)
  }
}
