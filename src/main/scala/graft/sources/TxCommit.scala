package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S12 — cross-output transactional commit over files.
  *
  * The reference wraps its two-table writes in one PostgreSQL
  * transaction (scripts/pricing/02_normalize_scryfall_prices.js:195-209:
  * BEGIN → UPDATE snapshot rows → INSERT normalized rows → COMMIT), so a
  * crash can never expose the snapshot table without its normalized
  * twin. Parquet outputs have per-OUTPUT atomicity (the file-commit
  * protocol) but nothing ties two outputs together — this is the
  * missing piece, built the way table formats do it (a Delta/Iceberg
  * commit log reduced to exactly what the engine needs):
  *
  *  - each transaction stages EVERY output under a fresh per-TRANSACTION
  *    dir (`<root>/data/<output>/v<NNNNNNNN>-<token>/` — the token makes
  *    racing transactions' staging disjoint) — never touching live data;
  *  - the commit point is ONE file: `<root>/_commits/v<NNNNNNNN>.json`,
  *    written to a temp name and atomically renamed into place. Readers
  *    resolve every output through the HIGHEST committed manifest, so
  *    they see the full output set of some committed transaction —
  *    never a mix, never a partial;
  *  - a crash before the rename leaves staged files but no manifest:
  *    invisible, re-run overwrites them (idempotent recovery, the
  *    reference's own cron-replay model);
  *  - two committers racing the same version: rename-if-absent means
  *    exactly one wins; the loser re-stages at the next version (the
  *    caller's retry loop — optimistic concurrency, same as Delta), and
  *    its already-staged dirs are orphans the winner's readers can never
  *    resolve (disjoint staging tokens), collected by [[vacuum]].
  *
  * The publish primitive is abstracted behind [[AtomicPublish]]:
  * rename-if-absent on HDFS/POSIX filesystems (default), a
  * conditional PUT (`If-None-Match: *`) on S3-class object stores —
  * the protocol is unchanged, only the primitive. TxCommitSpec drives
  * the race paths through the conditional-PUT double.
  *
  * At 100 TB the manifest holds PATHS, not data: commit cost is O(1)
  * regardless of output size, and readers pay one tiny metadata read.
  * Old versions stay readable until [[vacuum]] — time travel for free.
  */
object TxCommit {

  /** An open transaction: outputs staged under `version`, nothing
    * visible until [[commit]] succeeds. `token` makes the staging path
    * unique PER TRANSACTION, not per version: two committers racing the
    * same version stage into disjoint dirs, so the loser can never have
    * scribbled over data the winner's manifest points at (the same
    * reason Delta/Iceberg data files carry unique names independent of
    * the commit version). The loser's dir becomes an orphan that
    * [[vacuum]] collects. */
  final case class Txn(root: String, version: Long, token: String) {
    /** Staging dir for one named output of this transaction. */
    def stage(output: String): String =
      f"$root/data/$output/v$version%08d-$token"
  }

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitsDir(root: String) = new Path(s"$root/_commits")

  private val ManifestName = """v(\d{8})\.json""".r

  /** Committed versions, ascending (empty if none). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val dir = commitsDir(root)
    val f = fs(spark, root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case ManifestName(v) => v.toLong
    }.sorted
  }

  /** Begin a transaction at the next unclaimed version, with a fresh
    * staging token. */
  def begin(spark: SparkSession, root: String): Txn =
    Txn(root, versions(spark, root).lastOption.getOrElse(0L) + 1L,
      java.util.UUID.randomUUID().toString.replace("-", "").take(12))

  /** Publish `outputs` (name → staged path, normally `txn.stage(name)`
    * for each) as one atomic commit. Returns false if another
    * transaction won this version — the caller re-stages via a fresh
    * [[begin]] (nothing half-visible either way).
    *
    * The commit point is `publish.publishIfAbsent` on ONE manifest
    * file — [[AtomicPublish.RenameIfAbsent]] on filesystems by
    * default; an object-store deployment passes its conditional-PUT
    * realization instead (see [[AtomicPublish]]'s store mapping). */
  def commit(spark: SparkSession, txn: Txn, outputs: Map[String, String],
      publish: AtomicPublish = AtomicPublish.RenameIfAbsent): Boolean = {
    require(outputs.nonEmpty, "a transaction must commit at least one output")
    val f = fs(spark, txn.root)
    f.mkdirs(commitsDir(txn.root))
    val json = outputs.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${escape(k)}":"${escape(v)}""""
    }.mkString(s"""{"version":${txn.version},"outputs":{""", ",", "}}")
    val dest = new Path(commitsDir(txn.root), f"v${txn.version}%08d.json")
    publish.publishIfAbsent(f, dest,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The latest committed manifest's output map (empty before any
    * commit). Every output in the map belongs to ONE transaction. */
  def latest(spark: SparkSession, root: String): Map[String, String] =
    versions(spark, root).lastOption match {
      case None => Map.empty
      case Some(v) => manifest(spark, root, v)
    }

  /** Read one committed manifest. */
  def manifest(
      spark: SparkSession, root: String, version: Long): Map[String, String] = {
    val p = new Path(commitsDir(root), f"v$version%08d.json")
    val in = fs(spark, root).open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    parseOutputs(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Read a named output through the latest committed manifest. */
  def read(spark: SparkSession, root: String, output: String): DataFrame = {
    val m = latest(spark, root)
    val path = m.getOrElse(output, throw new IllegalArgumentException(
      s"output '$output' not in latest manifest (has: ${m.keys.mkString(",")})"))
    graft.Tables.parquet(spark, path)
  }

  /** Time travel: read a named output AS OF a specific committed
    * version — the version's manifest resolves the exact data dirs
    * that were live at that commit, untouched by later commits (until
    * [[vacuum]] retires them). */
  def readAsOf(spark: SparkSession, root: String, output: String,
      version: Long): DataFrame = {
    val m = manifest(spark, root, version)
    val path = m.getOrElse(output, throw new IllegalArgumentException(
      s"output '$output' not in manifest v$version (has: ${m.keys.mkString(",")})"))
    graft.Tables.parquet(spark, path)
  }

  /** Union a named output across EVERY committed version — the log-of-
    * appends reading mode (each version's data stands alone, the store
    * is their union), used by the exactly-once streaming sink where
    * version v holds micro-batch v-1's delta. Versions missing the
    * output contribute nothing. Empty store → empty frame of `schema`.
    * Compaction-aware: resolves to the latest published compaction plus
    * the versions after it ([[streamDataPaths]]) — same union, bounded
    * dir count. */
  def readAll(spark: SparkSession, root: String, output: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val paths = streamDataPaths(spark, root, output)
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  /** Drop manifests and data dirs older than the last `keep` committed
    * versions, plus ORPHANED staging dirs — dirs staged by transactions
    * that crashed or lost their version race (per-transaction staging
    * tokens mean losers never overwrite live data, but their dirs
    * linger). An orphan is any version-pattern data dir not referenced
    * by a surviving manifest whose version is ≤ the latest committed
    * one: its version was claimed by some committed manifest, so no
    * future commit can ever reference it. Staging for an IN-FLIGHT
    * transaction (version > latest committed) is left alone. The latest
    * pair always survives. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): Unit = {
    require(keep >= 1, "must keep at least the latest version")
    val vs = versions(spark, root)
    val f = fs(spark, root)
    val dead = vs.dropRight(keep)
    // data dirs referenced by surviving manifests — never deleted even
    // if their version number is old (a kept manifest may point anywhere)
    val live = vs.takeRight(keep)
      .flatMap(v => manifest(spark, root, v).values).toSet
    dead.foreach { v =>
      manifest(spark, root, v).values
        .filterNot(live.contains)
        .foreach(p => f.delete(new Path(p), true))
      f.delete(new Path(commitsDir(root), f"v$v%08d.json"), false)
    }
    vs.lastOption.foreach { latestV =>
      // listStatus returns scheme-qualified paths; manifests record the
      // caller's plain strings — qualify both sides before comparing
      val liveQualified = live.map(p => f.makeQualified(new Path(p)))
      stagedDataDirs(spark, root)
        .filter { case (_, v) => v <= latestV }
        .filterNot { case (p, _) => liveQualified.contains(f.makeQualified(p)) }
        .foreach { case (p, _) => f.delete(p, true) }
    }
  }

  private val StagedDirName = """v(\d{8})(?:-[0-9a-f]+)?""".r

  /** All version-pattern staging dirs under `<root>/data`, recursively
    * (output names may contain '/'), with their parsed versions. */
  private def stagedDataDirs(
      spark: SparkSession, root: String): Seq[(Path, Long)] = {
    val f = fs(spark, root)
    val dataRoot = new Path(s"$root/data")
    if (!f.exists(dataRoot)) Seq.empty
    else {
      def walk(p: Path): Seq[(Path, Long)] =
        f.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
          st.getPath.getName match {
            case StagedDirName(v) => Seq(st.getPath -> v.toLong)
            case _ => walk(st.getPath)
          }
        }
      walk(dataRoot)
    }
  }

  // ── Stream-log compaction ──────────────────────────────────────────
  //
  // The append-mode reading path ([[readAll]], used by the exactly-once
  // streaming sink) unions ONE data dir per committed micro-batch: at a
  // year of minute-batches that is ~500k dirs — listing cost and
  // small-file pressure grow without bound even though the UNION itself
  // is a fixed-size rollup. Compaction rewrites the union of versions
  // ≤ V into one dir and publishes it through its own atomic
  // rename-if-absent manifest under `_compactions/` (filename carries V
  // and the output name); readers then resolve to compaction + the
  // suffix of versions > V. The batch-version manifests are NEVER
  // deleted by [[vacuumStream]] — they are the replay-no-op
  // acknowledgments ([[TxStore.commitStreamBatch]] skips any batchId
  // whose version manifest exists), so a restart that replays compacted
  // batches still commits nothing. Compaction artifacts live outside
  // `<root>/data`, so the snapshot-store [[vacuum]]'s orphan scan never
  // touches them.

  private def compactionsDir(root: String) = new Path(s"$root/_compactions")

  private def sanitize(output: String): String =
    output.map(c => if (c.isLetterOrDigit || c == '_' || c == '-') c else '_')

  private val CompactionName = """c(\d{8})-(.+)\.json""".r

  /** The latest published compaction of `output`: (covered-through
    * version, compacted data path). */
  def latestCompaction(spark: SparkSession, root: String,
      output: String): Option[(Long, String)] = {
    val dir = compactionsDir(root)
    val f = fs(spark, root)
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case CompactionName(v, o) if o == sanitize(output) => v.toLong
    }.sorted.lastOption.map { v =>
      val p = new Path(dir, f"c$v%08d-${sanitize(output)}.json")
      val in = f.open(p)
      val json =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      v -> parseOutputs(json)(output)
    }
  }

  /** The dirs an append-mode read of `output` resolves to: the latest
    * compaction (if any) + per-version dirs after it. Without
    * compaction this is exactly one dir per committed version. */
  def streamDataPaths(spark: SparkSession, root: String,
      output: String): Seq[String] = {
    val comp = latestCompaction(spark, root, output)
    val from = comp.map(_._1).getOrElse(0L)
    comp.map(_._2).toSeq ++
      versions(spark, root).filter(_ > from)
        .flatMap(v => manifest(spark, root, v).get(output))
  }

  /** Rewrite the current full union of `output` into one compacted dir
    * and publish it atomically. Returns false when there is nothing new
    * to cover or another compactor won the publish (its data dir is
    * removed either way — losers leave no trace readers can see). */
  def compactStream(spark: SparkSession, root: String, output: String,
      schema: org.apache.spark.sql.types.StructType,
      publish: AtomicPublish = AtomicPublish.RenameIfAbsent): Boolean = {
    val vs = versions(spark, root)
    if (vs.isEmpty) return false
    val covered = vs.max
    val prior = latestCompaction(spark, root, output)
    if (prior.exists(_._1 >= covered)) return false
    // compact EXACTLY the versions ≤ covered from this listing snapshot
    // (not readAll: a version committed between the listing and the
    // read would land in the compacted dir AND in the post-compaction
    // suffix — double-counted)
    val from = prior.map(_._1).getOrElse(0L)
    val srcPaths = prior.map(_._2).toSeq ++
      vs.filter(v => v > from && v <= covered)
        .flatMap(v => manifest(spark, root, v).get(output))
    if (srcPaths.isEmpty) return false
    val f = fs(spark, root)
    val token =
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val dest =
      s"$root/_compactdata/${sanitize(output)}-v$covered-$token"
    spark.read.schema(schema).parquet(srcPaths: _*)
      .write.mode("overwrite").parquet(dest)
    f.mkdirs(compactionsDir(root))
    val json =
      s"""{"version":$covered,"outputs":{"${escape(output)}":"${escape(dest)}"}}"""
    val destMf = new Path(compactionsDir(root),
      f"c$covered%08d-${sanitize(output)}.json")
    val won = publish.publishIfAbsent(f, destMf,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // a losing compactor's data dir must not linger as a visible orphan
    if (!won) f.delete(new Path(dest), true)
    won
  }

  /** Retire what the latest compaction of `output` superseded: the
    * per-batch data dirs of covered versions (their MANIFESTS stay —
    * replay no-op depends on them), older compactions, and orphaned
    * compact data dirs from crashed or race-losing compactors. */
  def vacuumStream(spark: SparkSession, root: String, output: String): Unit =
    latestCompaction(spark, root, output).foreach { case (covered, livePath) =>
      val f = fs(spark, root)
      val liveQ = f.makeQualified(new Path(livePath))
      versions(spark, root).filter(_ <= covered).foreach { v =>
        manifest(spark, root, v).get(output).foreach { p =>
          val q = f.makeQualified(new Path(p))
          if (q != liveQ) f.delete(q, true)
        }
      }
      // superseded compaction manifests
      val dir = compactionsDir(root)
      f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
        case CompactionName(v, o)
            if o == sanitize(output) && v.toLong < covered => v.toLong
      }.foreach { v =>
        f.delete(new Path(dir, f"c$v%08d-${sanitize(output)}.json"), false)
      }
      // compact data dirs not referenced by the surviving manifest
      val compactData = new Path(s"$root/_compactdata")
      if (f.exists(compactData)) {
        val prefix = s"${sanitize(output)}-v"
        f.listStatus(compactData).toSeq
          .filter(_.getPath.getName.startsWith(prefix))
          .filterNot(st => f.makeQualified(st.getPath) == liveQ)
          .foreach(st => f.delete(st.getPath, true))
      }
    }

  private def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Minimal parser for the manifest's own fixed shape (written above —
    * flat string map; jackson-databind stays off the hot path and the
    * format stays greppable). */
  private[sources] def parseOutputs(json: String): Map[String, String] = {
    val body = json.indexOf("\"outputs\":{") match {
      case -1 => throw new IllegalArgumentException(s"bad manifest: $json")
      case i => json.substring(i + "\"outputs\":{".length, json.lastIndexOf("}}"))
    }
    if (body.trim.isEmpty) Map.empty
    else {
      val pair = """"((?:[^"\\]|\\.)*)":"((?:[^"\\]|\\.)*)"""".r
      pair.findAllMatchIn(body).map(m =>
        unescape(m.group(1)) -> unescape(m.group(2))).toMap
    }
  }

  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }
}
