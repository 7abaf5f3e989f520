package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Transactional table store: the reference's REAL write pairs routed
  * through the [[TxCommit]] manifest protocol.
  *
  * The reference runs two shapes of multi-statement transaction:
  *  - snapshot UPDATE + normalized INSERT in one BEGIN/COMMIT
  *    (02_normalize_scryfall_prices.js:195-209);
  *  - revalue's item-values upsert + day-valuations delete-then-insert
  *    pair (revalueCollection.mjs:105-179).
  *
  * [[TxCommit]] supplies the commit point; this layer supplies the
  * table semantics on top of it:
  *  - [[transact]] — the optimistic-concurrency loop: stage under a
  *    fresh `Txn`, commit carry-forward (`latest ++ changed`), retry on
  *    a lost version race. ANY combination of the stage helpers below
  *    composes inside one transaction — that is the whole point: the
  *    keyed upsert and the day upsert land atomically together, exactly
  *    the reference's pair.
  *  - [[stageDays]] — delete-then-insert day partitions AS MANIFEST
  *    ENTRIES: each incoming day stages under its own dir and maps to
  *    output name `<prefix>/<day>`; unchanged days carry forward
  *    untouched (partition-level copy-on-write — a 3-day backfill
  *    stages 3 dirs and rewrites ~nothing, the shape that survives
  *    65 700 day partitions at 100 TB).
  *  - [[stageKeyed]] — the S8 update-then-insert merge against the
  *    CURRENTLY COMMITTED table state, staged as a full new version of
  *    that output (read → merge → write-to-new; the old version stays
  *    live until the commit point flips).
  *  - [[stageFull]] — plain full replacement of one output.
  *
  * Readers resolve through the latest manifest ([[TxCommit.read]] /
  * [[readDays]]), so they always see the complete output set of ONE
  * committed transaction — a crash between the pair's two writes
  * exposes nothing (crash-injection spec: TxStoreSpec).
  */
object TxStore {

  /** Internal partition column used for day-dir layout. The date column
    * itself stays IN the data files (partitionBy strips its column from
    * the files, so staging partitions by this duplicate instead keeps
    * re-reads schema-complete without basePath reconstruction). */
  private val DayDirCol = "__graft_day"

  /** Run one transaction: stage changes via `stageFn`, commit them
    * atomically on top of the currently committed outputs. Returns the
    * committed version. Retries the whole stage+commit on a lost
    * version race (optimistic concurrency — staging tokens keep racers'
    * dirs disjoint, so a retry never reads its own torn leftovers). */
  def transact(spark: SparkSession, root: String, maxAttempts: Int = 5)(
      stageFn: TxCommit.Txn => Map[String, String]): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      val txn = TxCommit.begin(spark, root)
      val changed = stageFn(txn)
      val outputs = TxCommit.latest(spark, root) ++ changed
      if (changed.isEmpty) return txn.version - 1 // nothing to commit
      if (TxCommit.commit(spark, txn, outputs)) return txn.version
      if (attempt >= maxAttempts)
        throw new IllegalStateException(
          s"transaction at $root lost the version race $maxAttempts times")
    }
    -1L // unreachable
  }

  /** Stage a delete-then-insert of the day partitions present in `df`:
    * one partitioned write job, one manifest entry per incoming day.
    * Day values must render to filesystem-safe strings (dates do). */
  def stageDays(txn: TxCommit.Txn, df: DataFrame, dateCol: String,
      prefix: String = "daily"): Map[String, String] = {
    val stageDir = txn.stage(prefix)
    // explicit partition count (r15): a keyed repartition with NO count
    // is fair game for AQE coalescing, which at small staged sizes
    // folded every day into ONE task that then created the day dirs'
    // files sequentially (measured ~20 ms per file create+commit — the
    // dominant cost of the upsert-day round trip). Pinning the count to
    // the session's parallelism keeps the per-day file layout identical
    // (each day still hashes to exactly one task → one file per day
    // dir) while the creates run in parallel; at cluster scale
    // defaultParallelism is the writer fan-out a day-partitioned
    // staging write wants anyway.
    val writers = df.sparkSession.sparkContext.defaultParallelism
    df.withColumn(DayDirCol, col(dateCol).cast("string"))
      .repartition(writers, col(dateCol))
      .write.mode("overwrite").partitionBy(DayDirCol).parquet(stageDir)
    // enumerate staged day dirs from the filesystem — no extra job, and
    // the manifest records exactly what landed
    val p = new Path(stageDir)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$DayDirCol="))
      .map { st =>
        val day = st.getPath.getName.stripPrefix(s"$DayDirCol=")
        s"$prefix/$day" -> st.getPath.toString
      }.toMap
  }

  /** Stage the S8 keyed merge (update-then-insert, incoming wins) of
    * `incoming` into output `output`'s currently committed state. */
  def stageKeyed(spark: SparkSession, txn: TxCommit.Txn, output: String,
      incoming: DataFrame, keyCols: Seq[String]): Map[String, String] = {
    val merged = TxCommit.latest(spark, txn.root).get(output) match {
      case Some(path) =>
        Sinks.upsertByKey(graft.Tables.parquet(spark, path), incoming, keyCols)
      case None => incoming
    }
    stageFull(txn, output, merged)
  }

  /** Stage a full replacement of one output. */
  def stageFull(txn: TxCommit.Txn, output: String,
      df: DataFrame): Map[String, String] = {
    df.write.mode("overwrite").parquet(txn.stage(output))
    Map(output -> txn.stage(output))
  }

  /** Read the union of all committed day partitions under `prefix`
    * through the latest manifest. */
  def readDays(spark: SparkSession, root: String,
      prefix: String = "daily"): DataFrame = {
    val paths = TxCommit.latest(spark, root)
      .collect { case (k, v) if k.startsWith(s"$prefix/") => v }.toSeq
    require(paths.nonEmpty, s"no committed '$prefix/*' outputs at $root")
    graft.Tables.parquet(spark, paths: _*)
  }

  /** Exactly-once micro-batch commit: publish `batch` as the delta of
    * Structured Streaming micro-batch `batchId`, idempotently.
    *
    * foreachBatch is AT-LEAST-ONCE — after a crash the restarted query
    * re-delivers the last unacknowledged batch with the SAME batchId.
    * Pinning the transaction version to batchId + 1 turns the commit
    * manifest into the acknowledgment: a replayed batch finds its
    * version already committed and skips (returns false, stages
    * nothing), and a zombie racing a live committer on the same version
    * loses the rename-if-absent and its staging dir becomes a vacuum
    * orphan. Either way version v holds EXACTLY one copy of batch v-1
    * — the Delta-sink `txnVersion` idempotence protocol on this
    * engine's own manifest store. Read the store with
    * [[TxCommit.readAll]] (the union of per-batch deltas).
    */
  def commitStreamBatch(spark: SparkSession, root: String, batchId: Long,
      output: String, batch: DataFrame): Boolean = {
    val version = batchId + 1
    if (TxCommit.versions(spark, root).contains(version)) false
    else {
      val txn = TxCommit.Txn(root, version,
        java.util.UUID.randomUUID().toString.replace("-", "").take(12))
      batch.write.mode("overwrite").parquet(txn.stage(output))
      TxCommit.commit(spark, txn, Map(output -> txn.stage(output)))
    }
  }
}
