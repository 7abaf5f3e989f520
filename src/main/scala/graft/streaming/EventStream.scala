package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the `events` shape (north-star extension —
  * SURVEY §2.10: the reference's only "streaming" is cron + daily
  * snapshot partitions; this module maps that cadence onto real
  * incremental execution).
  *
  * Semantics preserved from the reference:
  *  - tumbling daily windows keyed on event time = the `as_of_date`
  *    partition column (ref 02:94, 03:118);
  *  - late data handled by watermark instead of the batch "recompute the
  *    day" replay — same idempotent day-partition output, incremental
  *    cost.
  *
  * At scale: state is partitioned by group key across executors
  * (RocksDB state store in prod); the watermark bounds state size —
  * without it a 100 TB/day stream accumulates state forever.
  */
object EventStream {

  /** Windowed aggregation: tumbling window + watermark, the streaming
    * twin of the batch `as_of_date` groupBy. */
  def windowedAgg(
      events: DataFrame,
      window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("value_cents"))

  final case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionUpdate(
      user_id: Long, n_events: Long, total_cents: Long, closed: Boolean)

  /** Custom state machine via mapGroupsWithState: per-user running
    * session totals — the streaming equivalent of the reference's
    * per-user accumulators (revalueCollection.mjs:57-103), without the
    * driver-memory cap.
    *
    * `withTimeout=true` closes idle sessions via processing-time timeout
    * (the production shape). Tests run with `withTimeout=false`: a
    * pending timeout makes Spark schedule timeout-check microbatches
    * forever, so `processAllAvailable()` never settles — NoTimeout keeps
    * the smoke test deterministic.
    */
  def sessionize(
      events: Dataset[Event],
      withTimeout: Boolean = true): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (withTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long), SessionUpdate](timeoutConf) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val (n, cents) = state.get
            state.remove()
            SessionUpdate(userId, n, cents, closed = true)
          } else {
            val (n0, c0) = state.getOption.getOrElse((0L, 0L))
            var n = n0; var c = c0
            rows.foreach { e => n += 1; c += math.round(e.value * 100) }
            state.update((n, c))
            if (withTimeout) state.setTimeoutDuration("30 minutes")
            SessionUpdate(userId, n, c, closed = false)
          }
      }
  }

  /** Threshold-crossing alerts via flatMapGroupsWithState: zero-or-more
    * outputs per group per batch (mapGroupsWithState is exactly-one —
    * the wrong contract when a batch may cross several thresholds at
    * once, or none). Emits one alert per 10-dollar (1000-cent) level a
    * user's running total crosses, AT MOST ONCE per level: the state
    * carries a high-water-mark level alongside the running total, so a
    * total that dips (refund / negative event) and later re-crosses an
    * already-alerted level stays silent, and negative totals can't
    * re-arm levels via truncating division (levels use floorDiv, so
    * boundaries are consistent on both sides of zero). State remains a
    * few bytes per key regardless of event volume.
    */
  def thresholdAlerts(
      events: Dataset[Event],
      stepCents: Long = 1000L): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      // NOTE: state schema is (n, cents, hwm_level) — widened from the
      // pre-HWM (n, cents) 2-tuple. A deployment resuming from an old
      // checkpoint must migrate or restart state (state-schema changes
      // are not checkpoint-compatible); fresh streams are unaffected.
      .flatMapGroupsWithState[(Long, Long, Long), SessionUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[(Long, Long, Long)]) =>
          val (n0, c0, hwm0) = state.getOption.getOrElse((0L, 0L, 0L))
          var n = n0; var c = c0
          rows.foreach { e => n += 1; c += math.round(e.value * 100) }
          val level = Math.floorDiv(c, stepCents)
          val hwm = math.max(hwm0, level)
          state.update((n, c, hwm))
          // one output per NEW level above the high-water mark
          ((hwm0 + 1) to level).iterator.map { l =>
            SessionUpdate(userId, n, l * stepCents, closed = false)
          }
      }
  }

  /** Stream → idempotent day-partition sink: each micro-batch upserts
    * its days via dynamic partition overwrite — the reference's
    * delete-then-insert-per-day semantics (revalueCollection.mjs:135-165)
    * driven incrementally instead of by cron. foreachBatch gives the
    * batch writer path (and its file-commit atomicity) per micro-batch;
    * late data simply rewrites its day, identical to the batch replay.
    */
  def streamToDayPartitions(
      spark: SparkSession, dir: String, outPath: String): Unit = withStreamShuffle(spark) {
    val stream = eventsStream(spark, dir)
      .withColumn("as_of_date", to_date(col("ts")))
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sinks.upsertByDay(batch, outPath, "as_of_date")
      }
      .option("checkpointLocation", s"$outPath.checkpoint")
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Exactly-once streaming rollup into the transactional store: each
    * micro-batch's (day, event_type) delta commits through
    * [[graft.sources.TxStore.commitStreamBatch]] with version pinned to
    * batchId + 1, so a crash-replayed batch is detected by its already-
    * committed manifest and skipped — at-least-once foreachBatch
    * squeezed to exactly-once by the store, not the source. The runner
    * is deliberately one-shot with a scratch checkpoint: a RE-invocation
    * replays the source from batch 0 and every commit no-ops against
    * the standing manifests (idempotence doing the work a long-lived
    * query's offset log would). The store wipes when the SOURCE listing
    * signature changes — regenerated testdata must not reconcile
    * against a stale log.
    */
  def runTxRollup(spark: SparkSession, dir: String, root: String): Unit =
    withStreamShuffle(spark) {
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val sigPath = new org.apache.hadoop.fs.Path(s"$root/_SRC_SIG")
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val srcSig = graft.sources.RunLog
        .sourceSignature(spark, dir, "events.parquet")
      val sigOk = fs.exists(sigPath) && {
        val in = fs.open(sigPath)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) == srcSig
        finally in.close()
      }
      if (!sigOk) {
        fs.delete(rootPath, true)
        fs.mkdirs(rootPath)
        val out = fs.create(sigPath, true)
        try out.write(srcSig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      val stream = eventsStream(spark, dir)
        .select(to_date(col("ts")).as("day"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      withScratchCheckpoint { ckpt =>
        val q = stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            val rollup = batch.groupBy(col("day"), col("event_type"))
              .agg(count(lit(1)).as("n"), sum(col("cents")).as("value_cents"))
            graft.sources.TxStore.commitStreamBatch(
              spark, root, batchId, "rollup", rollup): Unit
          }
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
      }
    }

  /** Run `body` with a fresh checkpoint dir on the machine's tmpfs
    * (fallback: java.io.tmpdir — Spark's own default for memory-sink
    * temp checkpoints), deleted afterwards. The checkpoint of a bounded
    * local run is pure scratch — offset WAL + state-store deltas that
    * die with the query — and an implicit temp checkpoint lands on
    * disk-backed /tmp, so every micro-batch pays ext4 journal+fsync
    * for durability nobody reads. A production stream points this at
    * reliable storage (HDFS/S3 + RocksDB provider); the knob is the
    * path, not the plan. */
  private def withScratchCheckpoint[T](body: String => T): T = {
    val dir = s"$scratchRoot/once-${java.util.UUID.randomUUID()}"
    try body(dir)
    finally rmTree(new java.io.File(dir))
  }

  private def rmTree(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(rmTree)
    f.delete(): Unit
  }

  /** Shared scratch root for stream checkpoints (tmpfs when available),
    * removed on JVM exit — long-lived queries keep their checkpoints
    * here for the process lifetime. */
  private lazy val scratchRoot: String = {
    val dir = s"${graft.operators.SinkOps.scratchRoot}/graft-ckpt-${
      java.util.UUID.randomUUID()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      rmTree(new java.io.File(dir))))
    dir
  }

  /** Registry of LONG-LIVED streaming queries. A registered streaming
    * op starts its StreamingQuery once per (op, source dir, session)
    * and keeps it RUNNING across invocations: the first call pays
    * stream start + the full drain, every later call just drains newly
    * arrived files (`processAllAvailable` on a settled source returns
    * in milliseconds). That is the production execution shape — a
    * stream starts once and runs for weeks; per-invocation cost is
    * drain latency, not cold-start — and it is what makes the bench's
    * steady-state number measure incremental processing rather than
    * query-start machinery. Keys carry the collision-safe
    * [[graft.operators.SessionCache.sessionId]] (never recycled across
    * GC'd sessions, unlike identityHashCode) so a stopped/replaced
    * session restarts cold instead of reusing a dead query; queries die
    * with the JVM (local harness) or with an explicit
    * [[stopLiveQueries]]. */
  private val liveQueries = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.streaming.StreamingQuery]

  private def liveKey(
      spark: SparkSession, queryName: String, dir: String): String =
    s"$queryName@$dir@${graft.operators.SessionCache.sessionId(spark)}"

  /** Memory-sink table name, unique per (op, source dir) so one session
    * can hold live queries against several dirs (the bench warms at
    * sf0.001, then times sf0.1). */
  private def liveTable(queryName: String, dir: String): String =
    s"${queryName}_${java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)}"

  /** Stop and deregister every live query of `spark` (tests / teardown). */
  def stopLiveQueries(spark: SparkSession): Unit = {
    val suffix = s"@${graft.operators.SessionCache.sessionId(spark)}"
    liveQueries.filterInPlace { (k, q) =>
      if (k.endsWith(suffix)) { if (q.isActive) q.stop(); false } else true
    }: Unit
  }

  /** Drain-or-start harness behind the registered memory-sink streaming
    * ops: reuse the live query for (queryName, dir) when active, else
    * start it via `start(tableName, checkpointDir)` and register it.
    * Returns the memory-sink table name holding the current output. */
  private def runLiveToMemory(
      spark: SparkSession, queryName: String, dir: String)(
      start: (String, String) => org.apache.spark.sql.streaming.StreamingQuery)
      : String = {
    val table = liveTable(queryName, dir)
    val key = liveKey(spark, queryName, dir)
    withStreamShuffle(spark) {
      liveQueries.get(key).filter(_.isActive) match {
        case Some(q) => q.processAllAvailable()
        case None =>
          // fresh checkpoint per START: a resumed checkpoint from a
          // previous session's dead query would replay zero files into
          // an empty memory sink
          val q = start(table, s"$scratchRoot/$table-${
            java.util.UUID.randomUUID()}")
          q.processAllAvailable()
          liveQueries(key) = q
      }
    }
    table
  }

  /** Streaming entry points pin a smaller shuffle-partition count for
    * the stream's lifetime: each shuffle partition is a state-store
    * instance, and every micro-batch commits a delta file per store —
    * at local bench scale 32 stores × fsync dominates the runtime of
    * queries whose actual data fits in a handful of partitions. 8 keeps
    * local parallelism while cutting the per-batch state-commit fan-out
    * 4×; a production deployment sizes this to its key cardinality the
    * same way. Restored after the stream stops; batch semantics are
    * unaffected by partition count. */
  private def withStreamShuffle[T](spark: SparkSession)(body: => T): T = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val savedNoData =
      spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // No-data micro-batches exist to advance the watermark when the
    // source goes quiet — eviction housekeeping. Every emission path in
    // this module is either Complete mode (re-emits each data batch) or
    // an append op that emits DURING the data batch
    // (dropDuplicatesWithinWatermark emits first arrivals immediately;
    // the stream-stream inner join emits matches as they form), so the
    // trailing empty batches only pay offset-WAL + 8 state-store
    // commits each without changing one output row. Bounded runs skip
    // them; a production deployment with timeout/eviction-driven OUTPUT
    // (e.g. Append session windows) turns them back on.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try body finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      savedNoData match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }

  /** The flagship best-of-day pipeline run INCREMENTALLY, in the shape
    * the reference actually runs it (03_build_market_price_daily.js:58-61:
    * the cron default is ONE day — `--date`, today — and `--all-dates`
    * is an explicit one-time backfill): a compacted BASE holding the
    * backfilled history, plus a day-partitioned HOT store that the
    * stream upserts, day by day, as snapshot files arrive.
    *
    *  - [[bootstrapBestOfDay]] = `--all-dates`: batch-reduce all days up
    *    to a split point ([[BootstrapTailDays]] before the max day) into
    *    one compacted parquet dir, and record which source files it
    *    consumed (sidecar meta table). Built once per store, like any
    *    layout artifact; the stream never redoes it.
    *  - each micro-batch keeps only data the base has NOT seen — rows
    *    from new files (a late drop, tomorrow's snapshots) plus the
    *    post-split tail of bootstrapped files — and merges it into the
    *    hot store via read-touched-days → re-reduce → overwrite-touched-
    *    days. Correct for ANY batching because the kernel is a
    *    distributive min-struct reduction (Pricing.bestReduce:
    *    best(best(S₁) ∪ S₂) = best(S₁ ∪ S₂)), and idempotent per day
    *    exactly like the reference's cron replay (same file re-delivered
    *    ⇒ same merge). Late data for a day the BASE owns lands in hot
    *    and overrides it at read — no base rewrite on the hot path.
    *  - [[readBestOfDayStore]] reconciles day-wins (hot day ⊃ that day's
    *    full re-merge, so it replaces the base day outright);
    *    [[compactBestOfDay]] periodically folds hot back into base —
    *    the lakehouse compaction cadence.
    *
    * At 100 TB the per-batch cost is ∝ the batch's days, not history:
    * the existing side is read with a literal day-list filter
    * (partition-pruned on hot, a compacted scan on base), and dynamic
    * partition overwrite rewrites only the touched hot days.
    */
  def runBestOfDayIncremental(
      spark: SparkSession, srcDir: String, glob: String,
      basePath: String, hotPath: String): Unit = withStreamShuffle(spark) {
    val q = startBestOfDay(spark, srcDir, glob, basePath, hotPath)
    q.processAllAvailable()
    q.stop()
  }

  /** [[runBestOfDayIncremental]] with the query LEFT RUNNING — the
    * registered op's entry (see [[runLiveToMemory]] for why): on the
    * first call per (store, session) the hot store and its checkpoint
    * reset and the stream replays the tail; later calls drain whatever
    * new snapshot files arrived into the same live query. */
  def runBestOfDayLive(
      spark: SparkSession, srcDir: String, glob: String,
      basePath: String, hotPath: String): Unit = withStreamShuffle(spark) {
    val key = liveKey(spark, s"bod:$basePath", srcDir)
    liveQueries.get(key).filter(_.isActive) match {
      case Some(q) => q.processAllAvailable()
      case None =>
        val fs = new org.apache.hadoop.fs.Path(hotPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        for (p <- Seq(hotPath, s"$hotPath.checkpoint"))
          fs.delete(new org.apache.hadoop.fs.Path(p), true)
        val q = startBestOfDay(spark, srcDir, glob, basePath, hotPath)
        q.processAllAvailable()
        liveQueries(key) = q
    }
  }

  private def startBestOfDay(
      spark: SparkSession, srcDir: String, glob: String,
      basePath: String, hotPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val fs = new org.apache.hadoop.fs.Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // reuse the base only while it is COMMITTED (_SUCCESS — a partially
    // cleaned cache dir must not pass) AND every file the bootstrap
    // consumed is still on disk unchanged (listing signature in the
    // meta sidecar — regenerated testdata at the same path must trigger
    // a re-bootstrap, not a silent merge against a stale base). Files
    // that appeared AFTER the bootstrap do not invalidate it: new files
    // are precisely what the stream processes incrementally.
    val current = graft.sources.RunLog
      .sourceSignature(spark, srcDir, glob).split(",").toSet
    val baseValid =
      fs.exists(new org.apache.hadoop.fs.Path(s"$basePath/_SUCCESS")) &&
        fs.exists(new org.apache.hadoop.fs.Path(bodMetaPath(basePath))) && {
          val meta = graft.Tables.parquet(spark, bodMetaPath(basePath))
          meta.columns.contains("src_sig") && {
            val consumed = meta.select(col("src_sig")).head().getString(0)
            consumed.split(",").forall(current.contains)
          }
        }
    if (!baseValid) {
      for (p <- Seq(basePath, bodMetaPath(basePath), hotPath,
          s"$hotPath.checkpoint"))
        fs.delete(new org.apache.hadoop.fs.Path(p), true)
      bootstrapBestOfDay(spark, srcDir, glob, basePath)
    }
    val meta = graft.Tables.parquet(spark, bodMetaPath(basePath))
    val splitDay = meta.agg(max(col("split_day"))).head().getDate(0)
    val bootFiles = meta.select(col("file_name"))
    // one file per micro-batch: the multi-batch merge path actually
    // executes when the source has several files (EventStreamSpec
    // feeds two overlapping halves)
    val stream = tableStream(spark, srcDir, glob, maxFilesPerTrigger = 1)
    val qName = "stream_bod_" + java.lang.Integer.toHexString(
      hotPath.hashCode & 0x7fffffff)
    // a query leaked ACTIVE by an earlier failed drain would make this
    // start throw a duplicate-name error and wedge the op until the
    // session restarts — stop the stale instance first (its state is
    // being reset by this very code path anyway)
    spark.streams.active
      .filter(q => q.name != null && q.name == qName)
      .foreach(_.stop())
    stream.writeStream
      // named: active-query enumerations must never meet a null name
      .queryName(qName)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sb = batch.sparkSession
        // the base has seen: every row of a bootstrapped file at or
        // before the split day. Everything else is new to the store.
        val fresh = batch
          .withColumn("_src_file", input_file_name())
          .join(broadcast(bootFiles),
            col("_src_file") === col("file_name"), "left")
          .filter(col("file_name").isNull ||
            to_date(col("l_shipdate")) > lit(splitDay))
          .drop("_src_file", "file_name")
        val snaps = graft.operators.Pricing.snapsOf(fresh)
        // touched days as literals → partition pruning on the existing
        // side (day count per batch is bounded and small; same driver
        // anchor-probe budget as Rollup)
        val days = snaps.select(col("as_of_date")).distinct()
          .collect().map(_.getDate(0))
        if (days.nonEmpty) {
          val existing = readBestOfDayStore(sb, basePath, hotPath)
            .filter(col("as_of_date").isin(days.toIndexedSeq: _*))
            .select(snaps.columns.map(col).toIndexedSeq: _*)
          val merged = graft.operators.Pricing.bestReduce(
            snaps.unionByName(existing))
          graft.sources.Sinks.upsertByDay(merged, hotPath, "as_of_date")
        }
      }
      .option("checkpointLocation", s"$hotPath.checkpoint")
      .start()
  }

  /** Days before the corpus max day that stay OUT of the bootstrap base
    * — the "hot tail" the stream owns. Production picks this from its
    * late-data SLA (how far back a snapshot drop can reach). */
  val BootstrapTailDays = 30

  private def bodMetaPath(basePath: String): String = s"$basePath.meta"

  /** The `--all-dates` backfill (03_build_market_price_daily.js:60,76):
    * batch best-of-day over all days at or before the split point,
    * written as ONE compacted parquet dir, plus a sidecar meta table of
    * (consumed file, split day) so the stream knows what the base has
    * already folded in. */
  def bootstrapBestOfDay(
      spark: SparkSession, srcDir: String, glob: String,
      basePath: String): Unit = {
    // explicit-path read works on BOTH layouts (single file or part-file
    // directory); the glob-filtered dir read returned EMPTY on directory
    // tables, which bootstrapped an empty base (r13 soak catch)
    val src = graft.Tables.parquet(spark, s"$srcDir/$glob")
    val snaps = graft.operators.Pricing.snapsOf(src)
    val maxDay = snaps.agg(max(col("as_of_date"))).head().getDate(0)
    val splitDay = java.sql.Date.valueOf(
      maxDay.toLocalDate.minusDays(BootstrapTailDays.toLong))
    graft.operators.Pricing.bestReduce(
        snaps.filter(col("as_of_date") <= lit(splitDay)))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(basePath)
    src.select(input_file_name().as("file_name")).distinct()
      .withColumn("split_day", lit(splitDay))
      .withColumn("src_sig",
        lit(graft.sources.RunLog.sourceSignature(spark, srcDir, glob)))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(bodMetaPath(basePath))
  }

  /** Day-wins reconciliation: a hot day holds that day's FULL re-merge
    * (the stream merged new rows with the store's existing rows before
    * writing), so it replaces the base's day outright. */
  def readBestOfDayStore(
      spark: SparkSession, basePath: String, hotPath: String): DataFrame = {
    val base = graft.Tables.parquet(spark, basePath)
    val hotP = new org.apache.hadoop.fs.Path(hotPath)
    val fs = hotP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hotP)) base
    else {
      val cols = base.columns.map(col).toIndexedSeq
      val hot = graft.Tables.parquet(spark, hotPath).select(cols: _*)
      val hotDays = hot.select(col("as_of_date")).distinct()
      base.join(broadcast(hotDays), Seq("as_of_date"), "left_anti")
        .select(cols: _*)
        .unionByName(hot)
    }
  }

  /** Compaction: fold the hot store into a new base (write-new, swap,
    * clear hot) — run on the lakehouse cadence, off the hot path. The
    * meta table is untouched: consumed files stay consumed, and a
    * re-delivered non-bootstrap file re-merges idempotently. */
  def compactBestOfDay(
      spark: SparkSession, basePath: String, hotPath: String): Unit = {
    val merged = readBestOfDayStore(spark, basePath, hotPath)
    val tmp = s"$basePath.compacting"
    merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(basePath), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(basePath))
    fs.delete(new org.apache.hadoop.fs.Path(hotPath), true)
  }

  /** Watermark delay strictly beyond the events corpus's actual time
    * span, in whole days (one two-value MIN/MAX anchor probe): with
    * delay > span the watermark can never pass min(ts), so no state
    * expires mid-run and stateful streaming ops equal their batch twins
    * regardless of micro-batch split — the property every
    * streaming-vs-batch oracle in this module pins. */
  private def derivedWatermarkDays(spark: SparkSession, dir: String): Long = {
    val bounds = graft.Tables.events(spark, dir)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    java.time.Duration.between(
      bounds.getTimestamp(0).toInstant, bounds.getTimestamp(1).toInstant)
      .toDays + 2
  }

  /** Resolve a file-backed table under `dir` for streaming reads. The
    * driver corpus stores table t as a single FILE `dir/t.parquet` —
    * FileStreamSource needs a directory source, so that layout streams
    * from `dir` with a leaf-name pathGlobFilter. A Spark-written /
    * production corpus stores `t.parquet` as a DIRECTORY of part
    * files, where the leaf glob matches NOTHING and the stream is
    * silently EMPTY — the r13 whole-registry decade soak caught every
    * streaming op returning zero rows on the sf1 twin exactly this
    * way (negative scaling exponents = zero files matched). Directory
    * tables stream from the directory itself, no filter. A `table`
    * argument containing real glob wildcards (the best-of-day
    * `snap_*.parquet` source) is resolved via `globStatus` (ADVICE
    * r14): the pre-r14 wildcard fallthrough kept the broken leaf-name
    * filter for glob sources, so a glob matching directory tables
    * bootstrapped a base fine (batch reads expand path globs) and
    * then silently never streamed an increment. When any current
    * match is a directory, the stream reads the GLOB PATH itself —
    * FileStreamSource re-expands the pattern on every listing, so
    * part files inside matched directories (and late-arriving NEW
    * directories) are picked up, and the source count stays one so
    * checkpoints survive arrivals. All-file (or no-match-yet) globs
    * keep the historical filtered-dir shape; a corpus that mixes
    * both layouts under one glob is not supported (the layout is
    * probed once per stream start, not per batch). */
  private def resolveTable(
      spark: SparkSession, dir: String, table: String)
      : (String, Option[String]) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (table.exists(c => c == '*' || c == '?' || c == '[')) {
      val matches = Option(fs.globStatus(p)).getOrElse(Array.empty)
      if (matches.exists(_.isDirectory)) (p.toString, None)
      else (dir, Some(table))
    }
    else if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      (p.toString, None)
    else (dir, Some(table))
  }

  /** Streaming source for `dir/table`, correct on BOTH layouts. */
  private[graft] def tableStream(
      spark: SparkSession, dir: String, table: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val schema = graft.Tables.parquet(spark, s"$dir/$table").schema
    val (path, filt) = resolveTable(spark, dir, table)
    val r0 = spark.readStream.schema(schema)
    val r1 = filt.fold(r0)(g => r0.option("pathGlobFilter", g))
    val r2 = if (maxFilesPerTrigger > 0)
      r1.option("maxFilesPerTrigger", maxFilesPerTrigger.toString) else r1
    r2.parquet(path)
  }

  /** Parquet-backed stream of the events table — the one source shape
    * shared by every streaming entry point below. `ts` is normalized to
    * a session-TZ TIMESTAMP whichever way the file stores it (ns-as-long
    * or µs TIMESTAMP_NTZ — the driver has shipped both; same dual
    * handling as `Tables.events`). */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the stream carries the file schema as read, so its `ts` type is
    // the stored encoding
    val raw = tableStream(spark, dir, "events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Streaming exact dedup on a content key — the ingest-dedup stage of
    * a training-data pipeline run incrementally. Uses
    * `dropDuplicatesWithinWatermark`, the state-EXPIRING dedup API
    * (plain streaming dropDuplicates keeps every key forever — a
    * guaranteed OOM on an unbounded 100 TB/day stream). The watermark
    * delay is DERIVED from the dataset's actual time span (one
    * two-value MIN/MAX probe, same anchor pattern as Rollup): with
    * delay > span the watermark can never pass min(ts), so no key
    * expires during the run and the semantics equal a global batch
    * DISTINCT regardless of how many micro-batches the source splits
    * into — which is exactly what the DuckDB oracle pins. (A fixed
    * delay held that parity only while the data span stayed under it —
    * a larger corpus would have re-emitted expired keys and failed the
    * oracle non-obviously.) The first-arrival row wins; only the key
    * columns are emitted, so the output set is arrival-order-independent. */
  /** Streaming content-key dedup to an AT-REST parquet file sink
    * (exactly-once via the sink's _spark_metadata commit log). The
    * output is corpus-sized (every distinct key triple), so a memory
    * sink holds ~N rows on the driver — measured at the r14 sf1→sf10
    * soak step as exponent 1.23 solo (34 s vs the 7.7 s the SAME
    * stream costs into a noop sink: the data path + state store scale
    * at 0.43; the driver-held sink was the whole regression). Same
    * fix class as r13's q_stream_bm25 pair-log: results land at rest,
    * the registered op reads them back distributed. */
  def runDedupToParquet(
      spark: SparkSession, dir: String, root: String): String =
    withStreamShuffle(spark) {
      val key = liveKey(spark, s"dedup_pq:$root", dir)
      liveQueries.get(key).filter(_.isActive) match {
        case Some(q) => q.processAllAvailable()
        case None =>
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          // fresh run per session: a resumed checkpoint from a dead
          // session's query would replay zero files into empty output
          fs.delete(new org.apache.hadoop.fs.Path(root), true)
          val spanDays = derivedWatermarkDays(spark, dir)
          val qName = "q_stream_dedup_" + java.lang.Integer.toHexString(
            root.hashCode & 0x7fffffff)
          spark.streams.active
            .filter(q => q.name != null && q.name == qName)
            .foreach(_.stop())
          val q = eventsStream(spark, dir)
            .select(col("ts"), col("user_id"), col("event_type"),
              round(col("value") * 100).cast("long").as("value_cents"))
            .withWatermark("ts", s"$spanDays days")
            .dropDuplicatesWithinWatermark(
              "user_id", "event_type", "value_cents")
            .select("user_id", "event_type", "value_cents")
            .writeStream.outputMode(OutputMode.Append)
            .format("parquet")
            .queryName(qName)
            .option("path", s"$root/out")
            .option("checkpointLocation", s"$root/checkpoint")
            .start()
          q.processAllAvailable()
          liveQueries(key) = q
      }
      // a zero-batch run leaves no sink directory — seed a
      // schema-correct empty one so the read side never throws
      val rootFs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!rootFs.exists(new org.apache.hadoop.fs.Path(s"$root/out")))
        graft.Tables.events(spark, dir).limit(0)
          .select(col("user_id"), col("event_type"),
            lit(0L).as("value_cents"))
          .write.mode("overwrite").parquet(s"$root/out")
      root
    }

  /** Streaming INCREMENTAL near-dup dedup — the continuous-ingestion
    * twin of [[graft.operators.Dedup.dedupIncremental]]: delta
    * documents arrive as a stream and probe the STATIC corpus MinHash
    * index (`Dedup.minhashIndex` — the session-cached form of the
    * persisted, bucketed index a 100 TB deployment maintains).
    *
    * The streaming pipeline is entirely STATELESS — there is no state
    * store anywhere:
    *  - per-doc MinHash signatures are per-ROW expressions
    *    (`array_min` over the shingle array per hash lane — no
    *    aggregation, unlike the corpus-signing path which MIN-aggregates
    *    exploded shingle rows for shuffle volume; same xxhash64 chain,
    *    so buckets collide exactly with the index),
    *  - band probe rows explode map-side,
    *  - candidate generation and exact-Jaccard verification are two
    *    stream-static BROADCAST joins (array_intersect against the
    *    corpus shingle arrays — per-row math, provably equal to the
    *    batch row-join verify on distinct shingle arrays).
    * Per-batch cost is the batch's own docs × broadcast probe; nothing
    * accumulates across batches. The memory sink holds the verified
    * (doc_id, corpus_id, jaccard) match LOG — duplicated when a pair
    * shares several bands; the registered op rolls it up per delta doc
    * in batch. In production the log is a parquet/Delta sink and the
    * rollup a downstream view — the standard streaming-ETL split. At
    * 100 TB the corpus side outgrows a broadcast and the probe becomes
    * a co-located join on the (band, bucket)-bucketed index layout
    * (`sources/Bucketing.scala`); the stream side stays map-only. */
  def runIncrDedupToMemory(
      spark: SparkSession, dir: String, queryName: String): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      import graft.operators.Dedup
      val mod = Dedup.IncrementalDeltaMod
      val delta = tableStream(spark, dir, "documents.parquet")
        .filter(col("doc_id") % mod === 0)
      incrDedupMatchLog(spark, dir, delta)
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** The whole stream-side transform of [[runIncrDedupToMemory]]:
    * delta docs (doc_id, text, …) → verified match-log rows
    * (doc_id, corpus_id, jaccard) against `dir`'s standing corpus.
    * Takes ANY frame — streaming or batch — because it is stateless by
    * construction; the batching-invariance spec drives it through a
    * MemoryStream split into several micro-batches and pins the output
    * equal to the single-batch run (per-row math + stream-static joins
    * means each row's result depends on that row alone, so ANY source
    * batching yields the same log, exactly like the reference's
    * idempotent cron replay). */
  def incrDedupMatchLog(
      spark: SparkSession, dir: String, delta: DataFrame): DataFrame = {
    import graft.operators.Dedup
    val mod = Dedup.IncrementalDeltaMod
    val (banded, _) = Dedup.minhashIndex(spark, dir)
    val corpusBands = broadcast(banded
      .filter(col("doc_id") % mod =!= 0)
      .select(col("doc_id").as("corpus_id"), col("band"), col("bucket")))
    val corpusSh = broadcast(graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % mod =!= 0)
      .select(col("doc_id").as("corpus_id"),
        graft.functions.TextAnalysis.wordShingles(col("text"), 3).as("sh_c")))
    val probes = bandProbes(delta)
    val inter = size(array_intersect(col("sh"), col("sh_c")))
    val uni = size(col("sh")) + size(col("sh_c")) - inter
    probes.join(corpusBands, Seq("band", "bucket"))
      .join(corpusSh, Seq("corpus_id"))
      .withColumn("jaccard", inter.cast("double") / uni.cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_id"), col("corpus_id"), col("jaccard"))
  }

  /** Per-row MinHash band probes of a (doc_id, text) frame —
    * (doc_id, sh, band, bucket), the EXACT banding of
    * [[graft.operators.Dedup.minhashIndex]] (k hashes, same xxhash64
    * chain, same band split) computed row-locally so it runs on a
    * stream. Shared by [[incrDedupMatchLog]] and the continuous
    * clustering fold — one definition, so the probes can never drift
    * from the standing index's banding. */
  private[graft] def bandProbes(delta: DataFrame): DataFrame = {
    import graft.operators.Dedup
    val shDelta = delta.select(col("doc_id"),
      graft.functions.TextAnalysis.wordShingles(col("text"), 3).as("sh"))
    val k = Dedup.MinhashBands * Dedup.MinhashRowsPerBand
    val withSig = (0 until k).foldLeft(shDelta) { (df, i) =>
      df.withColumn(s"m$i",
        array_min(transform(col("sh"), s => xxhash64(xxhash64(s), lit(i)))))
    }
    val bandCols = (0 until Dedup.MinhashBands).map { bnd =>
      struct(lit(bnd).as("band"),
        xxhash64(lit(bnd) +: (0 until Dedup.MinhashRowsPerBand)
          .map(r => col(s"m${bnd * Dedup.MinhashRowsPerBand + r}")): _*)
          .as("bucket"))
    }
    withSig
      .select(col("doc_id"), col("sh"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sh"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Chunk-level dedup AT INGEST — the stream leg of the
    * batch/incremental/streaming triple on
    * [[graft.operators.TextOps.chunkDedupIncr]]'s kernel: arriving
    * delta documents chunk MAP-ONLY in the stream
    * ([[graft.operators.TextOps.chunksOf]] is explode+transform, no
    * aggregation), probe the standing corpus' PERSISTED first-keeper
    * table (`chunk_keepers` store) by ONE stream-static broadcast left
    * join, and emit the per-chunk probe log
    * (doc_id, chunk_idx, chunk_fp, standing_first — null when the
    * fingerprint is corpus-new). Per-batch cost is the batch's own
    * chunks × broadcast probe; nothing accumulates across batches. The
    * registered op folds the delta-side keeper MIN and the per-doc
    * rollup in batch (delta-sized) — the standard streaming-ETL split.
    * At 100 TB the keeper table outgrows a broadcast and the probe
    * becomes a co-located join on a chunk_fp-bucketed store layout
    * (`sources/Bucketing.scala`); the stream side stays map-only. */
  def runChunkDedupToMemory(
      spark: SparkSession, dir: String, queryName: String): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      val mod = graft.operators.Dedup.IncrementalDeltaMod
      val delta = tableStream(spark, dir, "documents.parquet")
        .filter(col("doc_id") % mod === 0)
      chunkProbeLog(spark, dir, delta)
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** The whole stream-side transform of [[runChunkDedupToMemory]]:
    * delta docs (doc_id, text, …) → per-chunk probe rows against
    * `dir`'s standing keeper store. Takes ANY frame — streaming or
    * batch — because it is stateless by construction (map-only
    * chunking + one stream-static broadcast join: each output row
    * depends on its input row alone, so any micro-batch split yields
    * the same log). */
  def chunkProbeLog(
      spark: SparkSession, dir: String, delta: DataFrame): DataFrame = {
    import graft.operators.TextOps
    val standing = broadcast(TextOps.standingChunkKeepers(spark, dir)
      .select(col("chunk_fp"), col("first_key").as("standing_first")))
    TextOps.chunksOf(delta.select(col("doc_id"), col("text")))
      .join(standing, Seq("chunk_fp"), "left")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_fp"),
        col("standing_first"))
  }

  /** Streaming perplexity-bucket scoring — the stream side of
    * [[graft.operators.StreamingOps.streamPpl]]: arriving delta
    * documents explode their LM bigrams statelessly and probe the
    * PERSISTED standing model through a stream-static LEFT join
    * (unseen transition → c12 = 0, the add-zero floor). The emitted
    * log carries one (doc_id, lang, c12) row per bigram OCCURRENCE —
    * count/sum monoids downstream, so the rollup is batching-
    * invariant. No state store, no stream-side aggregation: the model
    * and its tercile cuts are yesterday's artifacts, scoring is a
    * map + one static-side probe per row. */
  def runPplToMemory(
      spark: SparkSession, dir: String, queryName: String): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      val (model, _) =
        graft.operators.StreamingOps.standingPplModel(spark, dir)
      val delta = tableStream(spark, dir, "documents.parquet")
        .filter(col("doc_id") %
          graft.operators.Dedup.IncrementalDeltaMod === 0)
        .select(col("doc_id"), col("lang"),
          explode(graft.operators.TextOps.bigramArray).as("bg"))
        .select(col("doc_id"), col("lang"),
          col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      delta
        .join(model, Seq("lang", "w1", "w2"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("c12"), lit(0L)).as("c12"))
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** Streaming LEARNED-quality scoring — the stream leg of the trained
    * gate ([[graft.operators.QualityModel]]): arriving documents score
    * against the PERSISTED standing model statelessly — the weights
    * enter as one broadcast one-row map and the margin folds row-
    * locally per token, so there is no state store and no stream-side
    * shuffle (the whole point of distilling the corpus-pass teacher
    * into a fixed weight vector is exactly that ingest can apply it
    * this way). Registered against the batch scorer's oracle: the
    * memory table must hash-equal the batch margins, only possible if
    * the per-token fold is exactly the batch group-by. */
  def runQualityScoreToMemory(
      spark: SparkSession, dir: String, queryName: String): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      val docs = tableStream(spark, dir, "documents.parquet")
        .select(col("doc_id"), col("text"))
      graft.operators.QualityModel.scoreRowLocal(spark, dir, docs)
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** Streaming sequence packing — the stream leg of the packing
    * triple on [[graft.operators.Curation.packContinuing]]'s kernel:
    * delta documents arrive as an id-ordered file stream and each
    * micro-batch is packed by CONTINUING every source's token prefix
    * sum from the running high-water mark, seeded from the persisted
    * `pack_hwm` store and advanced per batch (the hwm is a SUM monoid,
    * so the fold across ANY id-ordered batching is EXACTLY the
    * single-pass assignment — the registered op's oracle is the batch
    * law itself).
    *
    * Exactly-once without a manifest: batch ids name the artifacts.
    * Each foreachBatch writes its packs to `packs-<b>` and then commits
    * the advanced hwm to `hwm-<b>` LAST; a replayed batch (crash
    * between the two writes) detects its committed hwm and no-ops, or
    * overwrites its own packs dir idempotently and re-derives the same
    * hwm from `hwm-<b-1>`. At 100 TB the per-batch cost is the batch's
    * own rows + a #sources-row broadcast; the standing corpus is never
    * rescanned, and yesterday's packed shards are never touched. */
  def runStreamPack(
      spark: SparkSession, dir: String, root: String): String =
    withStreamShuffle(spark) {
      val key = liveKey(spark, s"pack:$root", dir)
      liveQueries.get(key).filter(_.isActive) match {
        case Some(q) => q.processAllAvailable()
        case None =>
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          // fresh run per session: a resumed checkpoint from a dead
          // session's query would replay zero files into empty output
          fs.delete(new org.apache.hadoop.fs.Path(root), true)
          graft.operators.Curation.standingPackHwm(spark, dir)
            .select(col("source"), col("standing_tokens"))
            .write.mode("overwrite").parquet(s"$root/hwm-seed")
          val split = graft.operators.Curation.packSplitId(spark, dir)
          val delta = tableStream(spark, dir, "documents.parquet")
            .filter(col("doc_id") >= split)
            .select(col("doc_id"), col("source"),
              graft.functions.TextAnalysis.bpeishTokenCount(col("text"))
                .cast("long").as("n_tokens"))
          val qName = "q_stream_pack_" + java.lang.Integer.toHexString(
            root.hashCode & 0x7fffffff)
          // stop a stale same-named query a failed drain leaked —
          // this branch resets its state anyway, and a duplicate-name
          // start would otherwise wedge the op for the session
          spark.streams.active
            .filter(q => q.name != null && q.name == qName)
            .foreach(_.stop())
          val q = delta.writeStream
            // named: anything enumerating spark.streams.active (the
            // stateless-plan specs do) must never meet a null name
            .queryName(qName)
            .foreachBatch { (batch: DataFrame, b: Long) =>
              val sb = batch.sparkSession
              val committed = new org.apache.hadoop.fs.Path(
                s"$root/hwm-$b/_SUCCESS")
              if (!fs.exists(committed)) {
                val prev =
                  if (b == 0) s"$root/hwm-seed" else s"$root/hwm-${b - 1}"
                val hwm = graft.Tables.parquet(sb, prev)
                graft.operators.Curation.packContinuing(batch, hwm)
                  .write.mode("overwrite").parquet(s"$root/packs-$b")
                // advance from the AT-REST packs (one compute per batch)
                graft.operators.Curation.advancePackHwm(
                    hwm, graft.Tables.parquet(sb, s"$root/packs-$b"))
                  .write.mode("overwrite").parquet(s"$root/hwm-$b")
              }
            }
            .option("checkpointLocation", s"$root/checkpoint")
            .start()
          q.processAllAvailable()
          liveQueries(key) = q
      }
      root
    }

  // ------- continuous cluster maintenance (q_stream_incr_cc) -------

  /** Fold state of the continuous clustering stream: the GROWING
    * band+shingle index (standing corpus + every folded batch) and the
    * current (node, lbl) cluster table. The index frames are LAZY
    * UNIONS of per-batch checkpointed segments (the standing slice plus
    * each folded batch's probes) — per-batch write cost is the batch's
    * own rows, never the accumulated corpus, and no superseded
    * corpus-sized checkpoint ever exists to leak. Because the union
    * tree would otherwise grow one branch per micro-batch (linear
    * planning cost per fold ⇒ quadratic over the stream's life, and
    * every segment pinned in the block manager forever), every
    * [[IncrCcCompactEvery]] folds the accumulated unions are
    * re-`localCheckpoint`ed into ONE segment each and the superseded
    * owned segments released — amortized write cost stays
    * O(corpus/CompactEvery) per batch and the union tree is bounded.
    * `ownedSegs` are the segment frames THIS fold chain checkpointed
    * (releasable on compaction); `ownsLabels` marks a label frame this
    * fold chain checkpointed itself (releasable when superseded); the
    * INITIAL labels are the shared session-cached
    * [[graft.operators.GraphOps.standingLabels]] frame, which other
    * consumers hold — a fold must never release that. */
  private[graft] final case class IncrCcState(
      bands: DataFrame, shingles: DataFrame, labels: DataFrame,
      ownsLabels: Boolean = false,
      ownedSegs: Seq[DataFrame] = Seq.empty,
      foldsSinceCompact: Int = 0)

  /** Compaction cadence of the incr-CC index unions (see
    * [[IncrCcState]]): small enough that planning cost per fold stays
    * flat in the spec's multi-batch runs, large enough that the
    * re-checkpoint (one corpus-sized write) amortizes. */
  private[graft] val IncrCcCompactEvery = 8

  private val incrCcStates = scala.collection.concurrent.TrieMap
    .empty[String, IncrCcState]

  /** Initial fold state — the standing corpus' slice of the session
    * band index, its shingle sets, and its cluster labels. */
  private[graft] def incrCcInit(
      spark: SparkSession, dir: String): IncrCcState = {
    import graft.operators.{Dedup, GraphOps}
    val mod = Dedup.IncrementalDeltaMod
    val (banded, _) = Dedup.minhashIndex(spark, dir)
    val bands = banded.filter(col("doc_id") % mod =!= 0)
      .select(col("doc_id"), col("band"), col("bucket"))
      .localCheckpoint()
    val sh = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % mod =!= 0)
      .select(col("doc_id"),
        graft.functions.TextAnalysis.wordShingles(col("text"), 3).as("sh"))
      .localCheckpoint()
    IncrCcState(bands, sh, GraphOps.standingLabels(spark, dir),
      ownedSegs = Seq(bands, sh))
  }

  /** Fold ONE arriving batch of documents into the state: band-probe
    * the growing index for cross matches (so a near-dup pair split
    * across micro-batches is found when the LATER doc arrives),
    * band-self-join the batch for internal matches, merge both into
    * the labels through the quotient CC
    * ([[graft.operators.GraphOps.incrementalCcFrom]] — per-batch cost
    * is delta-sized, never the corpus), and append the batch's bands
    * and shingles to the index. Folding is ASSOCIATIVE in the batch
    * split (min-label union-find), which is what makes the result
    * batching-invariant — spec-pinned against the single-batch run
    * and the full batch recompute. */
  private[graft] def incrCcFold(
      state: IncrCcState, batch: DataFrame): IncrCcState = {
    import graft.operators.GraphOps
    val probes = bandProbes(batch).localCheckpoint()
    val shB = probes.select(col("doc_id"), col("sh"))
      .dropDuplicates("doc_id")
    val inter = size(array_intersect(col("sh"), col("sh_c")))
    val jac = inter.cast("double") /
      (size(col("sh")) + size(col("sh_c")) - inter).cast("double")
    val cross = probes
      .join(state.bands.select(col("doc_id").as("corpus_id"),
        col("band"), col("bucket")), Seq("band", "bucket"))
      .select(col("doc_id"), col("corpus_id")).distinct()
      .join(shB, Seq("doc_id"))
      .join(state.shingles.select(col("doc_id").as("corpus_id"),
        col("sh").as("sh_c")), Seq("corpus_id"))
      .filter(jac >= 0.5)
      .select(col("doc_id").as("doc_id_a"), col("corpus_id").as("doc_id_b"))
    val internal = probes.select(col("doc_id").as("ia"),
        col("band"), col("bucket"))
      .join(probes.select(col("doc_id").as("ib"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib")).distinct()
      .join(shB.select(col("doc_id").as("ia"), col("sh")), Seq("ia"))
      .join(shB.select(col("doc_id").as("ib"), col("sh").as("sh_c")),
        Seq("ib"))
      .filter(jac >= 0.5)
      .select(col("ia").as("doc_id_a"), col("ib").as("doc_id_b"))
    val labels = GraphOps.incrementalCcFrom(state.labels, cross, internal)
      .select(col("doc_id").as("node"), col("cluster_id").as("lbl"))
      .localCheckpoint()
    // the new labels are materialized; the superseded round's checkpoint
    // (owned by this fold chain — never the shared standing frame) can go
    if (state.ownsLabels)
      graft.operators.SessionCache.releaseFrame(state.labels)
    // index growth is an APPEND of the batch's own checkpointed probes —
    // a lazy union over per-batch segments, not a re-checkpoint of the
    // whole accumulated corpus (which would make per-batch write cost
    // corpus-sized and pin one superseded copy per batch)
    val grown = IncrCcState(
      state.bands.unionByName(
        probes.select(col("doc_id"), col("band"), col("bucket"))),
      state.shingles.unionByName(shB),
      labels, ownsLabels = true,
      ownedSegs = state.ownedSegs :+ probes,
      foldsSinceCompact = state.foldsSinceCompact + 1)
    if (grown.foldsSinceCompact < IncrCcCompactEvery) grown
    else {
      // compact: collapse each union tree into ONE fresh segment and
      // release every owned per-batch segment it supersedes — bounds
      // both the planning cost per fold and the block-manager footprint
      val cb = grown.bands.localCheckpoint()
      val cs = grown.shingles.localCheckpoint()
      grown.ownedSegs.foreach(graft.operators.SessionCache.releaseFrame)
      IncrCcState(cb, cs, grown.labels, ownsLabels = grown.ownsLabels,
        ownedSegs = Seq(cb, cs), foldsSinceCompact = 0)
    }
  }

  /** Drain-or-start runner for the continuous clustering stream over
    * `dir`'s delta docs (doc_id % [[graft.operators.Dedup
    * .IncrementalDeltaMod]] = 0): a foreachBatch sink folds each
    * micro-batch through [[incrCcFold]]; returns the current
    * (node, lbl) cluster table. Same long-lived-query discipline as
    * the memory-sink ops — later invocations drain newly arrived
    * files and fold only those. */
  def runIncrCcLabels(
      spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val key = liveKey(spark, queryName, dir)
    withStreamShuffle(spark) {
      liveQueries.get(key).filter(_.isActive) match {
        case Some(q) => q.processAllAvailable()
        case None =>
          incrCcStates(key) = incrCcInit(spark, dir)
          val mod = graft.operators.Dedup.IncrementalDeltaMod
          val arriving = tableStream(spark, dir, "documents.parquet")
            .filter(col("doc_id") % mod === 0)
          val q = arriving.writeStream
            .queryName(liveTable(queryName, dir))
            .foreachBatch { (batch: DataFrame, _: Long) =>
              incrCcStates.updateWith(key)(_.map(incrCcFold(_, batch)))
              ()
            }
            .option("checkpointLocation", s"$scratchRoot/$queryName-${
              java.util.UUID.randomUUID()}")
            .start()
          q.processAllAvailable()
          liveQueries(key) = q
      }
    }
    incrCcStates(key).labels
  }

  /** Streaming drift telemetry — the data-observability probe run at
    * INGEST: every arriving delta document emits its hashed-bigram
    * bucket rows map-side (the [[graft.operators.Introspect
    * .driftMonitor]] feature device), STATELESS — per-occurrence rows
    * append to the sink and the registered op rolls them up and scores
    * them against the STANDING corpus' bucket model in batch (counts
    * are a sum monoid, so the rolled-up stream is batching-invariant
    * by construction). The emission is one map pass per batch; nothing
    * accumulates in the stream. */
  def runDriftToMemory(
      spark: SparkSession, dir: String, queryName: String): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      import graft.operators.{Dedup, Retrieval, TextOps}
      val mod = Dedup.IncrementalDeltaMod
      tableStream(spark, dir, "documents.parquet")
        .filter(col("doc_id") % mod === 0)
        .select(col("doc_id"),
          explode(TextOps.bigramArray).as("bg"))
        .select(col("doc_id"),
          (graft.functions.TextAnalysis.fingerprint(
            concat_ws(" ", col("bg.w1"), col("bg.w2")))
            % Retrieval.DsirDim).as("bucket"))
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** Streaming benchmark decontamination — the curation gate run at
    * INGEST, the second demonstration (after [[runIncrDedupToMemory]])
    * that the corpus-hygiene family is stateless against a fixed
    * reference set. The benchmark suite is FIXED and small (MBs of eval
    * text vs 100 TB/day of arriving train data), so its exploded
    * distinct 8-grams BROADCAST; each arriving train doc explodes its
    * own grams map-side and inner-joins the broadcast — the emitted
    * match log (doc_id, g8, bench_doc_id) is exactly the batch op's
    * pre-aggregation join, and the registered op rolls it up per doc in
    * batch. No state store anywhere; per-batch cost is the batch's own
    * grams × a broadcast probe, nothing accumulates. Rows are unique by
    * construction (both gram lists are per-doc distinct), so the log
    * needs no dedup before rollup. */
  /** Arrival-time ANN retrieval — the third stateless ingest pattern
    * (after the incremental-dedup probe and benchmark decontamination),
    * extending it from text to EMBEDDINGS: arriving vectors probe the
    * standing corpus's canopy index and emit their exact-scored top-k
    * neighbors map-side. The whole search is per-row array expressions
    * over two broadcasts (seed-centroid array + cell→members map —
    * [[graft.operators.Similarity.annProbeRows]]), so there is no
    * state store, no stream-side shuffle, and batching cannot change
    * one output row. At 100 TB the cell map outgrows a broadcast and
    * the `element_at` lookup becomes a partition-pruned point read of
    * the (cell)-bucketed persisted index; the stream side stays
    * map-only. */
  def runAnnProbeToMemory(
      spark: SparkSession, dir: String, queryName: String): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      import graft.operators.Similarity
      val arrivals = tableStream(spark, dir, "embeddings.parquet")
        .filter(col("vec_id") % Similarity.StreamAnnMod === 0)
      Similarity.annProbeRows(spark, dir, arrivals)
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** Streaming probe of the TRAINED standing index — the stream leg
    * of the imiDelta triple (batch join form / persisted incremental
    * index / arrival-time probe, one kernel). Each micro-batch runs
    * [[graft.operators.Imi.deltaProbeOf]] — the batch op's OWN probe
    * body — over its arrivals inside foreachBatch (batch-complete: an
    * arrival's result depends only on its own row plus the static
    * index) and lands k rows per arrival in an at-rest parquet store,
    * idempotent per batch. Index-size independent: the stored cells
    * join distributed — unlike the pre-r14 [[Imi.probeRows]] device,
    * whose one-row collected cell map crashed the driver at the
    * sf1→sf10 soak step (1.6M member entries), and unlike the memory
    * sink it fed. The registered op's oracle is imiDelta's verbatim,
    * so the green row pins stream ≡ batch hash-exactly. */
  def runImiProbeToParquet(
      spark: SparkSession, dir: String, root: String): String =
    withStreamShuffle(spark) {
      import graft.operators.Imi
      val key = liveKey(spark, s"imiprobe:$root", dir)
      liveQueries.get(key).filter(_.isActive) match {
        case Some(q) => q.processAllAvailable()
        case None =>
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root), true)
          val arrivals = tableStream(spark, dir, "embeddings.parquet")
            .filter(col("vec_id") % Imi.DeltaMod === 0)
          val qName = "q_stream_ann_tr_" + java.lang.Integer.toHexString(
            root.hashCode & 0x7fffffff)
          spark.streams.active
            .filter(q => q.name != null && q.name == qName)
            .foreach(_.stop())
          val q = arrivals.writeStream
            .queryName(qName)
            .foreachBatch { (batch: DataFrame, b: Long) =>
              val committed = new org.apache.hadoop.fs.Path(
                s"$root/topk-$b/_SUCCESS")
              if (!fs.exists(committed))
                Imi.deltaProbeOf(batch.sparkSession, dir,
                    imiQualified(batch))
                  .write.mode("overwrite").parquet(s"$root/topk-$b")
            }
            .option("checkpointLocation", s"$root/checkpoint")
            .start()
          q.processAllAvailable()
          liveQueries(key) = q
      }
      val rootFs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (Option(rootFs.globStatus(
          new org.apache.hadoop.fs.Path(s"$root/topk-*")))
          .forall(_.isEmpty)) {
        import graft.operators.Imi
        Imi.deltaProbeOf(spark, dir,
            imiQualified(graft.Tables.embeddings(spark, dir).limit(0)))
          .write.mode("overwrite").parquet(s"$root/topk-0")
      }
      root
    }

  /** [[graft.operators.Similarity.quantizedLabeled]]'s projection over
    * an arbitrary embeddings-shaped frame — the arrivals batch enters
    * [[graft.operators.Imi.deltaProbeOf]] with exactly the columns
    * the batch op's delta carries. */
  private def imiQualified(raw: DataFrame): DataFrame = {
    import graft.operators.Similarity
    raw.select(col("vec_id"), col("label"),
        Similarity.quantize(col("embedding")).as("v"))
      .withColumn("n2", Similarity.inorm2(col("v")))
      .filter(col("n2") > 0)
  }

  /** Stateless streaming BM25 probe — retrieval at ingest: arriving
    * query docs (doc_id % Bm25QueryMod = 0, the registered contract's
    * query set) probe the standing rare-term postings index. Parity
    * with the batch op is exact because the probe's index, stats, and
    * part expression are the batch op's own (shared code, not twins).
    *
    * Reduction is BATCH-LOCAL (r13 decade soak): the previous shape
    * sank one row per (query, term, match) PARTIAL into the memory
    * sink and summed on read — a pair-scaled sink (sampled queries AND
    * per-term postings both grow with the corpus), measured exp 1.93 /
    * 63 s / driver-heap pressure on the sf1 twin. An arriving query's
    * partials all live in the SAME micro-batch (per-row term
    * expansions of that one arrival row, and doc_id is unique in the
    * corpus), so the per-(qid, doc) score sum and the per-qid top-k
    * are batch-COMPLETE: foreachBatch reduces them exactly — same sum,
    * same (score DESC, doc_id) tie-break the read side used — and
    * lands k rows per query in the at-rest store. Sink volume is
    * arrivals×k with the index size out of the equation; per batch the
    * write is idempotent (_SUCCESS guard), same fresh-per-session root
    * discipline as [[runStreamPack]]. */
  def runBm25Probe(
      spark: SparkSession, dir: String, root: String): String =
    withStreamShuffle(spark) {
      val key = liveKey(spark, s"bm25probe:$root", dir)
      liveQueries.get(key).filter(_.isActive) match {
        case Some(q) => q.processAllAvailable()
        case None =>
          import graft.operators.TextOps
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          // fresh run per session: a resumed checkpoint from a dead
          // session's query would replay zero files into empty output
          fs.delete(new org.apache.hadoop.fs.Path(root), true)
          val arrivals = tableStream(spark, dir, "documents.parquet")
            .filter(col("doc_id") % TextOps.Bm25QueryMod === 0)
          val qName = "q_stream_bm25_" + java.lang.Integer.toHexString(
            root.hashCode & 0x7fffffff)
          spark.streams.active
            .filter(q => q.name != null && q.name == qName)
            .foreach(_.stop())
          val q = TextOps.bm25ProbeRows(spark, dir, arrivals)
            .writeStream
            .queryName(qName)
            .foreachBatch { (batch: DataFrame, b: Long) =>
              val committed = new org.apache.hadoop.fs.Path(
                s"$root/topk-$b/_SUCCESS")
              if (!fs.exists(committed))
                bm25TopkOf(batch)
                  .write.mode("overwrite").parquet(s"$root/topk-$b")
            }
            .option("checkpointLocation", s"$root/checkpoint")
            .start()
          q.processAllAvailable()
          liveQueries(key) = q
      }
      // zero micro-batches (no files / no query-doc arrivals) leave no
      // topk-* directory and the consumer's read would throw
      // path-not-found (ADVICE r14) — guarantee a schema-correct empty
      // batch-0 artifact by pushing an empty static arrivals frame
      // through the SAME probe + reduce pipeline
      val rootFs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (Option(rootFs.globStatus(
          new org.apache.hadoop.fs.Path(s"$root/topk-*")))
          .forall(_.isEmpty)) {
        import graft.operators.TextOps
        bm25TopkOf(TextOps.bm25ProbeRows(
            spark, dir, graft.Tables.documents(spark, dir).limit(0)))
          .write.mode("overwrite").parquet(s"$root/topk-0")
      }
      root
    }

  /** The per-micro-batch BM25 reduce: exact per-query score sum +
    * top-k, batch-local (a query's partials all share its arrival's
    * micro-batch). Shared by the live foreachBatch and the empty
    * batch-0 seed above. */
  private def bm25TopkOf(batch: DataFrame): DataFrame = {
    import graft.operators.TextOps
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    batch.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("part")).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TextOps.Bm25K)
  }

  def runDecontaminateToMemory(
      spark: SparkSession, dir: String, queryName: String): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      val mod = graft.operators.Curation.BenchSplitMod
      val bench = broadcast(graft.operators.Curation.gramRows8(spark, dir)
        .filter(col("is_bench"))
        .select(col("doc_id").as("bench_doc_id"), col("g8")))
      val train = tableStream(spark, dir, "documents.parquet")
        .filter(col("doc_id") % mod =!= 0)
        .select(col("doc_id"),
          explode(graft.functions.TextAnalysis.wordShingles(col("text"), 8))
            .as("g8"))
      train.join(bench, Seq("g8"))
        .select(col("doc_id"), col("g8"), col("bench_doc_id"))
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** STATELESS streaming BPE encode — arriving delta documents are
    * tokenized against the STANDING tokenizer artifact
    * ([[graft.operators.Bpe.standingMerges]], the persisted
    * `bpe_merges` store): the merge table rides a broadcast ONE-ROW
    * MAP ([[graft.operators.Bpe.mergeRankMap]]) into the
    * rank-priority fixpoint encoder, so each document's (n_words,
    * n_chars, n_tokens) is pure per-row expression work with a plan
    * that is O(1) in merge count — no streaming aggregation, no state
    * store, no stream-side shuffle (state operators spec-pinned
    * EMPTY). The batch op's broadcast type-table join and this
    * per-row fixpoint compute the same law (BpeSpec pins the law
    * against the published subword-nmt encode scan; EventStreamSpec
    * pins stream ≡ batch hash-exactly), they just trade where the
    * per-type work lands: amortized across a bounded type table in
    * batch, inline at ingest here — the tokenize-on-arrival shape a
    * 100 TB/day feed needs. */
  def runBpeEncodeToMemory(
      spark: SparkSession, dir: String, queryName: String): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      import graft.operators.{Bpe, Dedup}
      val mrank = Bpe.mergeRankMapBucketed(Bpe.standingMerges(spark, dir))
      val words = regexp_extract_all(col("text"),
        lit(Bpe.TokenRe), lit(0))
      def tokCount(w: org.apache.spark.sql.Column) =
        size(Bpe.encodeFixpointBucketed(Bpe.initSyms(w), col("mrank")))
          .cast("long")
      tableStream(spark, dir, "documents.parquet")
        .filter(col("doc_id") % Dedup.IncrementalDeltaMod === 0)
        .filter(size(words) > 0)
        .crossJoin(broadcast(mrank))
        .select(col("doc_id"),
          size(words).cast("long").as("n_words"),
          aggregate(words, lit(0L),
            (acc, w) => acc + length(w)).as("n_chars"),
          aggregate(words, lit(0L),
            (acc, w) => acc + tokCount(w)).as("n_tokens"))
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** STATELESS streaming token-id emission — the dataloader artifact
    * ([[graft.operators.Bpe.bpeTokens]]'s law) computed AT ARRIVAL:
    * per document the token-id sequence's length, unk count and
    * order-sensitive fingerprint, all per-row expression work — the
    * merge table AND the standing inventory each ride a broadcast
    * one-row BUCKETED map (the merges into the fixpoint encoder —
    * plan O(1) in merge count, the [[runBpeEncodeToMemory]] device;
    * the inventory through
    * [[graft.operators.Bpe.inventoryMapBucketed]], miss = unk 0,
    * exactly the batch op's probe — a flat string-keyed `element_at`
    * is linear in inventory size, the same defect class the bucketed
    * merge map closed, so the production-depth form is the default
    * here too), and the in-order fold runs inside the row over
    * `flatten(transform(words, syms))` — word order × symbol order IS
    * document order, so no sort and no aggregation cross rows. No
    * state store, no stream-side shuffle; the batch op's
    * broadcast-join form and this row-local form prove equal through
    * the SHARED oracle on every verify run. */
  def runBpeTokensToMemory(
      spark: SparkSession, dir: String, queryName: String): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      import graft.operators.{Bpe, Dedup}
      val mrank = Bpe.mergeRankMapBucketed(Bpe.standingMerges(spark, dir))
      val imap = Bpe.inventoryMapBucketed(Bpe.inventoryIds(spark, dir))
      val words = regexp_extract_all(col("text"),
        lit(Bpe.TokenRe), lit(0))
      def symsOf(w: org.apache.spark.sql.Column) =
        Bpe.encodeFixpointBucketed(Bpe.initSyms(w), col("mrank"))
      tableStream(spark, dir, "documents.parquet")
        .filter(col("doc_id") % Dedup.IncrementalDeltaMod === 0)
        .filter(size(words) > 0)
        .crossJoin(broadcast(mrank))
        .crossJoin(broadcast(imap))
        .withColumn("ids",
          transform(flatten(transform(words, w => symsOf(w))),
            s => Bpe.bucketedSymId(col("imap"), s)))
        .select(col("doc_id"),
          size(col("ids")).cast("long").as("n_tokens"),
          aggregate(col("ids"), lit(0L),
            (acc, x) => acc + when(x === 0L, 1L).otherwise(0L))
            .as("n_unk"),
          aggregate(col("ids"), lit(0L),
            (acc, x) => (acc * 31 + x) % 1000000007L).as("ids_fp"))
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** Streaming DSIR scoring — arriving documents scored against the
    * STANDING importance model at ingest ([[graft.operators.Retrieval
    * .dsirWeights]]'s ratio table + selection threshold, built once
    * from the static corpus): per-row hashed-bigram bucket array, one
    * `aggregate` over it reading the broadcast [[
    * graft.operators.Retrieval.DsirDim]]-entry ratio MAP (the
    * one-row-map device of [[graft.operators.Similarity.annProbeRows]]).
    * STATELESS: the per-occurrence ratio lookup sums to exactly the
    * batch op's Σ cnt(b)·ratio(b) without any per-doc aggregation
    * crossing rows, so there is no streaming aggregation, no state
    * store, no stream-side shuffle — the 100 TB/day shape for
    * selection-at-ingest. */
  def runDsirToMemory(
      spark: SparkSession, dir: String, queryName: String): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      import graft.operators.{Retrieval, TextOps}
      val dc = Retrieval.dsirDocCountsCached(spark, dir)
      val ratio = Retrieval.dsirRatio(dc)
      val rmap = ratio.agg(map_from_entries(
        collect_list(struct(col("bucket"), col("ratio")))).as("rmap"))
      val thr = Retrieval.dsirScores(dc, ratio)
        .agg(expr(s"percentile(dsir_score, ${Retrieval.DsirQuantile})")
          .as("p75"))
      val arriving = tableStream(spark, dir, "documents.parquet")
      val buckets = transform(TextOps.bigramArray, bg =>
        graft.functions.TextAnalysis.fingerprint(
          concat_ws(" ", bg.getField("w1"), bg.getField("w2")))
          % Retrieval.DsirDim)
      arriving
        // zero-bigram docs are outside the batch op's domain
        .filter(size(TextOps.bigramArray) > 0)
        .crossJoin(broadcast(rmap)).crossJoin(broadcast(thr))
        // every arriving bucket is in the map: the model was built
        // over this corpus, so a doc's own occurrences are counted
        .select(col("doc_id"),
          aggregate(buckets, lit(0L),
            (acc, b) => acc + element_at(col("rmap"), b)).as("dsir_score"),
          col("p75"))
        .select(col("doc_id"), col("dsir_score"),
          (col("dsir_score") >= col("p75")).as("kept"))
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** Watermarked STREAM-STREAM join — the attribution shape: every
    * (click, purchase) pair of the same user where the click precedes
    * the purchase by at most [[AttributionWindow]]. Both sides carry a
    * watermark and the join condition carries the event-time range, so
    * Spark can bound each side's state buffer: a click older than
    * watermark − window can never match a future purchase and is
    * evicted — without the time bound the state grows forever and a
    * 100 TB/day stream OOMs. The watermark delay is DERIVED from the
    * corpus's actual span (same anchor pattern as [[runDedupToMemory]]),
    * which pins exact batch parity for the inner join regardless of how
    * many micro-batches the source splits into — exactly what the
    * DuckDB oracle (a plain self-join with the same interval predicate)
    * checks. */
  val AttributionWindow = "1 hour"

  def runAttributionToMemory(
      spark: SparkSession, dir: String, queryName: String): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      val spanDays = derivedWatermarkDays(spark, dir)
      val stream = eventsStream(spark, dir)
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("click_user"), col("ts").as("click_ts"))
        .withWatermark("click_ts", s"$spanDays days")
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"),
          round(col("value") * 100).cast("long").as("purchase_cents"))
        .withWatermark("purchase_ts", s"$spanDays days")
      attributionJoin(clicks, purchases)
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** Native session-window aggregation on the stream — the built-in
    * twin of the `mapGroupsWithState` sessionizer (which remains the
    * template for NON-aggregate session state): Spark merges per-key
    * events into gap-bounded sessions inside the state store, with
    * map-side partial merging before the shuffle. Complete mode for the
    * bounded smoke run (the deterministic choice — every session
    * including still-open ones); production streams run Append with a
    * real watermark and emit sessions as the watermark closes them.
    * Boundary semantics: windows are half-open, so an event exactly
    * `gap` after the previous one starts a NEW session (`>=` in the
    * oracle, unlike the batch CTE's strict `>`). */
  /** Streaming session windows to an AT-REST parquet store. Complete
    * mode (the oracle-parity watermark is > span, so Append would
    * emit nothing) cannot use the file sink — each data batch lands
    * its full result via a foreachBatch overwrite instead (one
    * distributed write; the default source triggers ONE data batch
    * for a static corpus, and drains re-trigger nothing). The memory
    * sink this replaces held the ~corpus-sized session table on the
    * driver and re-scanned it per drain — the r14 sf1→sf10 soak
    * measured exp 1.21 solo (13 s), the q_stream_dedup defect class. */
  def runSessionizeToParquet(
      spark: SparkSession, dir: String, root: String): String =
    withStreamShuffle(spark) {
      val key = liveKey(spark, s"sessionize_pq:$root", dir)
      liveQueries.get(key).filter(_.isActive) match {
        case Some(q) => q.processAllAvailable()
        case None =>
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root), true)
          val qName = "q_stream_sessionize_" +
            java.lang.Integer.toHexString(root.hashCode & 0x7fffffff)
          spark.streams.active
            .filter(q => q.name != null && q.name == qName)
            .foreach(_.stop())
          val q = eventsStream(spark, dir)
            .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n_events"),
              sum(round(col("value") * 100).cast("long")).as("value_cents"))
            .select(col("user_id"),
              unix_micros(col("session_window.start")).as("start_us"),
              unix_micros(col("session_window.end")).as("end_us"),
              col("n_events"), col("value_cents"))
            .writeStream.outputMode(OutputMode.Complete)
            .queryName(qName)
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(s"$root/out")
            }
            .option("checkpointLocation", s"$root/checkpoint")
            .start()
          q.processAllAvailable()
          liveQueries(key) = q
      }
      val rootFs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!rootFs.exists(new org.apache.hadoop.fs.Path(s"$root/out")))
        graft.Tables.events(spark, dir).limit(0)
          .select(col("user_id"), lit(0L).as("start_us"),
            lit(0L).as("end_us"), lit(0L).as("n_events"),
            lit(0L).as("value_cents"))
          .write.mode("overwrite").parquet(s"$root/out")
      root
    }

  /** The join core, side-injectable for tests: `clicks` needs columns
    * (click_id, click_user, click_ts·watermarked), `purchases`
    * (purchase_id, user_id, purchase_ts·watermarked, purchase_cents). */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.join(purchases,
        expr(s"""click_user = user_id
                |AND click_ts <= purchase_ts
                |AND click_ts >= purchase_ts - INTERVAL $AttributionWindow"""
          .stripMargin))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        col("purchase_cents"))

  /** Wire a parquet-backed stream of the events table to a memory sink
    * (local smoke; swap readStream source + sink for kafka/files in
    * prod). `ts` normalizes to µs whichever way the file stores it
    * ([[eventsStream]]). */
  def runWindowedToMemory(
      spark: SparkSession, dir: String, queryName: String,
      mode: OutputMode = OutputMode.Complete): String =
    runLiveToMemory(spark, queryName, dir) { (table, ckpt) =>
      val stream = eventsStream(spark, dir)
      // Complete mode emits every window including still-open ones — the
      // deterministic choice for a bounded smoke run; production streams
      // use Append, where the watermark finalizes windows incrementally.
      windowedAgg(stream)
        .writeStream.outputMode(mode)
        .format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    }
}
