package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge

/** Parquet table catalog over a scale-factor directory (TESTDATA.md).
  *
  * Every parquet read in the engine goes through [[parquet]]: a plain
  * parquet scan (vectorized reader, predicate pushdown, column pruning)
  * whose schema comes from one footer read on the driver. At 100 TB
  * the same code path works: Parquet footers give row-group stats, and
  * `spark.sql.files.maxPartitionBytes` controls split granularity — no
  * code change needed between local[32] and a 1000-executor cluster.
  */
object Tables {
  /** Live-database source switch (reference reads live PostgreSQL:
    * scripts/revalue/revalueCollection.mjs:9-16,
    * scripts/pricing/03_build_market_price_daily.js:24-25): when the
    * session conf `graft.jdbc.url` is set (`spark-submit --conf` or
    * `spark-defaults`), tables resolve through
    * `spark.read.format("jdbc")` against that URL with
    * `dbtable = <name>`; parquet from the sf dir otherwise. The
    * JDBC reader participates in pushdown like any DataSource — filters
    * and column pruning travel into the generated SQL; partitioned reads
    * (partitionColumn/numPartitions) are the caller's per-table tuning
    * knob at scale. Round-tripped in JdbcSourceSpec against an embedded
    * Derby database.
    */
  // Announce which source backs table reads, once per distinct source:
  // a stale graft.jdbc.url silently rerouting every read to a database
  // while the oracles still check parquet is otherwise a pure
  // head-scratcher of hash mismatches.
  private val lastLoggedSource =
    new java.util.concurrent.atomic.AtomicReference[String]("")
  private def logSourceOnce(source: String): Unit =
    if (lastLoggedSource.getAndSet(source) != source)
      System.err.println(s"[graft] Tables reading from: $source")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val url = spark.conf.getOption("graft.jdbc.url").getOrElse("")
    if (url.nonEmpty) {
      logSourceOnce(s"jdbc $url (graft.jdbc.url is set)")
      jdbcRead(spark, url, name)
    } else {
      logSourceOnce(s"parquet under scale-factor dirs (e.g. $dir)")
      parquet(spark, s"$dir/$name.parquet")
    }
  }

  /** `spark.read.parquet(paths: _*)` without the schema-inference job.
    * Spark infers a non-merged parquet schema from one footer, but reads
    * it inside a `parallelize(...).collect()` job — a fixed ~100 ms
    * driver round-trip on every read. Here the paths (globs allowed)
    * are listed only up to the first data file, skipping `_*`/`.*`
    * names as Spark's file index does; that file's footer is read on
    * the driver and converted by Spark's own footer conversion, and the
    * read is handed that schema. Spark, too, assumes every file of a
    * non-merged read shares the first one's schema. Partition columns
    * are not in the footer, so the read infers them from the directory
    * names as before. The plain read runs when no data file is found,
    * so Spark's own error for a missing or empty path is unchanged, and
    * in a session that merges parquet schemas, where one footer is not
    * what Spark would infer. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val first =
      if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) None
      else paths.iterator.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        Option(fs.globStatus(path)).iterator.flatten
          .flatMap(firstDataFile(fs, _))
      }.nextOption()
    first match {
      case Some(f) =>
        spark.read.schema(GraftParquetBridge.footerSchema(spark, f, conf))
          .parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  // Depth-first walk that stops at the first data file: a streaming
  // listing (never a full `listStatus`), so an object-store prefix with
  // many files costs one listing page, not a second full listing.
  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else {
      val it = fs.listStatusIterator(st.getPath)
      var found: Option[FileStatus] = None
      while (found.isEmpty && it.hasNext) {
        val c = it.next()
        if (!hiddenName(c.getPath.getName)) found = firstDataFile(fs, c)
      }
      found
    }

  // the names Spark's file index leaves out of a read (its
  // `shouldFilterOutPathName`), summary files included: `_SUCCESS`,
  // `_metadata`, `.crc` sidecars, in-flight `._COPYING_` files; a
  // `_col=value` partition dir stays
  private def hiddenName(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")

  /** Partitioned JDBC scan (the reference reads live PG through a
    * connection pool — 03_build_market_price_daily.js:65-68; the Spark
    * equivalent of pooled parallelism is a range-split scan, N
    * concurrent connections each reading one key range). Conf knobs,
    * all optional, per table:
    *   `graft.jdbc.partitionColumn.<table>` — numeric column to range-split on
    *   `graft.jdbc.lowerBound.<table>` / `graft.jdbc.upperBound.<table>`
    *   `graft.jdbc.numPartitions` — split count (default 8 when a
    *     partition column is configured)
    * When the column is configured but bounds are not, they're probed
    * once PER JVM via a pushed-down MIN/MAX subquery (memoized per
    * url/table/column — repeated reads of the same table never re-probe),
    * the same trick every production JDBC ingest uses; an empty table or
    * a non-integral column degrades to the unpartitioned read instead of
    * crashing the bound parse. Without a configured column the read
    * stays single-task (correct for small dims; wrong for facts —
    * configure the column). Asserted >1 input partition in
    * JdbcSourceSpec against embedded Derby.
    */
  // probed (lo, hi) bounds per (url, table, column): the probe is one
  // round trip per JVM, not one per read — a bench pass reads each
  // fact table dozens of times and must not re-issue MIN/MAX each time.
  // None records "probe said: cannot range-split" (empty table or
  // non-integral column) so the fallback is also remembered.
  private val probedBounds =
    new java.util.concurrent.ConcurrentHashMap[String, Option[(String, String)]]()

  private def jdbcRead(spark: SparkSession, url: String, name: String): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", name)
    spark.conf.getOption(s"graft.jdbc.partitionColumn.$name") match {
      case Some(partCol) =>
        val n = spark.conf.getOption("graft.jdbc.numPartitions")
          .getOrElse("8")
        val bounds: Option[(String, String)] = (
          spark.conf.getOption(s"graft.jdbc.lowerBound.$name"),
          spark.conf.getOption(s"graft.jdbc.upperBound.$name")) match {
          case (Some(l), Some(h)) => Some((l, h))
          case _ =>
            probedBounds.computeIfAbsent(s"$url#$name#$partCol", _ => {
              val r = spark.read.format("jdbc")
                .option("url", url)
                .option("dbtable",
                  s"(SELECT MIN($partCol) AS lo, MAX($partCol) AS hi FROM $name) b")
                .load().head()
              // an empty table probes to NULL bounds, and a non-integral
              // column (DECIMAL, VARCHAR) yields bounds Spark's JDBC
              // long-parse would reject — both read fine unpartitioned
              val integral = (v: Any) => v match {
                case _: Long | _: Int | _: Short | _: Byte => true
                case _ => false
              }
              if (r.isNullAt(0) || r.isNullAt(1) ||
                  !integral(r.get(0)) || !integral(r.get(1))) {
                System.err.println(s"[graft] jdbc $name: partition column " +
                  s"$partCol has no integral bounds — reading unpartitioned")
                None
              } else Some((r.get(0).toString, r.get(1).toString))
            })
        }
        bounds match {
          case Some((lo, hi)) =>
            base.option("partitionColumn", partCol)
              .option("lowerBound", lo).option("upperBound", hi)
              .option("numPartitions", n)
              .load()
          case None => base.load()
        }
      case None => base.load()
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events table, with `ts` normalized to a session-TZ TIMESTAMP at µs
    * precision regardless of how the file stores it — the driver has
    * shipped both encodings across rounds:
    *  - INT64 TIMESTAMP(NANOS): Spark's reader rejects it outright, so
    *    read nanos as a plain long (`nanosAsLong`) and derive µs with
    *    integer `div` (not `/` — epoch nanos exceed double's 53-bit
    *    mantissa). DuckDB truncates the same ns to µs in `epoch_us`, so
    *    the oracles agree.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (TIMESTAMP_NTZ in
    *    Spark): cast to TIMESTAMP — the session is pinned UTC, so the
    *    wall-clock instant is preserved bit-for-bit.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestamp_micros(ts_ns div 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => // TIMESTAMP_NTZ
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Every table name the catalog serves, in [[sql]] view order. */
  val AllTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** The SQL front door — the reference's native interface (every
    * pipeline script is SQL strings against PG). Registers each catalog
    * table as a temp view over the scale-factor dir (or the JDBC source
    * when the switch is on — same [[t]] path), then hands the query to
    * Spark SQL, Catalyst optimizations and all. Views are session-local
    * temp views: re-registration is idempotent, nothing persists — but
    * a caller's own temp view sharing a catalog table name WILL be
    * replaced. JDBC bound probes are memoized per JVM, so repeated
    * sql() calls cost view re-registration only, not fresh round trips. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    // register only tables the query TEXT references (word match — an
    // over-approximation that may register an extra view named in a
    // comment or string literal, which is harmless): each registration
    // re-reads parquet footers for schema, and most queries touch a
    // handful of the ten catalog tables. A name that appears nowhere in
    // the text cannot be referenced by the query.
    val referenced = {
      val words = "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(query).toSet
      AllTables.filter(words.contains)
    }
    referenced.foreach { name =>
      val df = name match {
        case "events" => events(spark, dir)
        case n        => t(spark, dir, n)
      }
      df.createOrReplaceTempView(name)
    }
    spark.sql(query)
  }
}
