package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Import-run provenance (reference S2/S3/A5,
  * scripts/pricing/01_import_pricecharting_csv.js:119-121,148-154,244-249):
  * each ingest run logs the source file's SHA-256, metadata, and the
  * final row count to an append-only run-log table.
  */
object RunLog {

  /** File digests via the binaryFile source — distributed, no driver
    * read (S2: `sha2(content, 256)`). Takes the directory plus a name
    * glob (`pathGlobFilter`) rather than a glob path: the directory's
    * existence is what the caller can guarantee (it just committed a
    * write there), so listing never fails on glob resolution. */
  def fileDigests(
      spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(dir)
      .select(col("path").as("file_name"),
        sha2(col("content"), 256).as("file_sha256"),
        col("length").as("file_bytes"))

  /** Driver-side listing signature of the files an artifact was derived
    * from — `name|length|mtime` per matched file, sorted. Cheap (no
    * content read) staleness fingerprint, and the ONE signature of the
    * engine: [[graft.operators.PersistedStore.ensure]] commits against
    * it and [[graft.operators.SessionCache]] keys its entries on it, so
    * an artifact is valid only while its source files' signature is
    * unchanged; regenerated testdata or a partially cleaned cache then
    * triggers a rebuild instead of a silently-wrong reuse.
    *
    * A table stored as a DIRECTORY of part files (any Spark-written
    * corpus) signs its data files, RECURSIVELY: a partitioned table
    * (key=value subdirectories) has only directory children at depth 1
    * and would otherwise sign empty, so a stale store could never be
    * detected. Entries carry the path relative to the matched root, so
    * identically-named part files in different partitions stay
    * distinct. Hidden/_-prefixed segments (`_SUCCESS`, `.crc`,
    * `_temporary`, `.staging` and all below them) stay out, so a
    * re-run that only touches markers doesn't churn the signature.
    *
    * The walk is `listStatus`, never `listFiles`: a `LocatedFileStatus`
    * copies the file's permissions, and without the native Hadoop
    * library the local file system reads them by forking `ls -ld` per
    * file. `listStatus` reads only length and mtime, and forks
    * nothing. */
  def sourceSignature(
      spark: SparkSession, dir: String, glob: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val filter = new org.apache.hadoop.fs.GlobFilter(glob)
    def hidden(st: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    def walk(rel: String, st: org.apache.hadoop.fs.FileStatus)
        : Seq[String] =
      if (st.isFile) Seq(s"$rel|${st.getLen}|${st.getModificationTime}")
      else fs.listStatus(st.getPath).toSeq.filterNot(hidden)
        .flatMap(c => walk(s"$rel/${c.getPath.getName}", c))
    fs.listStatus(p).toSeq
      .filter(st => filter.accept(st.getPath))
      .flatMap(st => walk(st.getPath.getName, st))
      .sorted.mkString(",")
  }

  /** Append one run row (S3 + A5 row-count update folded into a single
    * append — the rebuild computes the count before logging). */
  def logRun(
      spark: SparkSession,
      logPath: String,
      game: String,
      digests: DataFrame,
      rowCount: Long): Unit = {
    digests
      .withColumn("game", lit(game))
      .withColumn("row_count", lit(rowCount))
      .withColumn("logged_at", current_timestamp())
      .write.mode(SaveMode.Append).parquet(logPath)
  }
}
