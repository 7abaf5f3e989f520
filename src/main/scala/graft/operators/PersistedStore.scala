package graft.operators

import org.apache.spark.sql.SparkSession

/** The at-rest half of the shared-index architecture (the FAISS
  * write_index/read_index split, generalized from
  * [[Similarity.pqTrainedIndex]]'s inline form): an engine-built
  * artifact lands as parquet under a staging store guarded by the
  * SOURCE-LISTING SIGNATURE of the corpus files it derives from, so a
  * NEW session — or another process entirely — reads the artifact back
  * instead of rebuilding. Session caches ([[SessionCache.Cache]])
  * memoize the store's scan frames; this object owns the durable copy.
  *
  * [[ensure]] is the engine's ONLY commit protocol for a derived
  * artifact: the indexes (LSH pair graphs, postings, canopy
  * assignments, co-purchase edges, cluster labels, quality and drift
  * models, …) and the staged fixtures alike — `csv` and `jsonl`
  * ([[IngestOps]]), `orc` ([[FormatOps]]), `mv_agg` and `mv_sketch`
  * ([[IncrementalAgg]]), `zorder` ([[Layout]]) and the `media_assets`
  * directory ([[graft.multimodal.Multimodal.writeAssetFixture]]). The
  * signature is [[graft.sources.RunLog.sourceSignature]]
  * (name|length|mtime over the source glob) plus a version tag, the
  * one [[SessionCache]] keys on too: a regenerated fixture rebuilds, a
  * live store never does.
  */
private[graft] object PersistedStore {

  private val storeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** Commit-time GC skips `ver-*` dirs younger than this (a
    * cross-process writer's in-flight build; see [[ensure]]). */
  private[graft] val GcGraceNanos: Long = 15L * 60 * 1000 * 1000 * 1000

  /** Build-or-reuse the store for (`dir`, `tag`): when the recorded
    * signature matches the current source listing the CURRENT VERSION
    * root it references is served as-is; otherwise `write(versionRoot)`
    * rebuilds into a FRESH version subdir (writing any number of
    * parquet dirs under it) and the signature — source signature plus
    * the version pointer — is committed LAST. Returns the version root
    * path to read from.
    *
    * Versioned commit (never mutate in place): a rebuild writes a new
    * `ver-*` subdir and flips the pointer atomically with the
    * signature file, so a reader holding the PREVIOUS version's path
    * keeps scanning intact files — `mode(overwrite)` never deletes
    * under an active reader. The superseded version survives one more
    * generation (protecting in-flight readers); a `ver-*` dir is
    * garbage-collected at a later commit once it is (a) at least two
    * generations old AND (b) older than the cross-process grace
    * window (see below); every other entry of the store root but the
    * signature file (what a store first written in an older layout
    * left) is deleted at the next commit. A crash mid-rebuild leaves a
    * stale/absent signature and an orphan version dir — never a
    * valid-looking half-written store.
    *
    * Concurrency: a per-store JVM lock serializes rebuilds across
    * SESSIONS in one process (the session caches' per-scope locks
    * don't cover two sessions sharing a dir). Cross-PROCESS, racing
    * writers build into DISTINCT version dirs and the last signature
    * write wins — the loser's dir is unreferenced and becomes a GC
    * candidate at a later commit; a reader can only observe a version
    * whose writer finished its data pass before committing the
    * signature. GC runs at every commit but SKIPS `ver-*` dirs
    * younger than [[GcGraceNanos]] (the nanoTime suffix in the dir
    * name), so a concurrent cross-process writer's in-flight build —
    * which the JVM lock cannot see — is never deleted mid-write. */
  def ensure(spark: SparkSession, dir: String, sourceGlob: String,
      tag: String, version: String, sigDir: String = null)(
      write: String => Unit): String = {
    val store = SinkOps.stagingDir(dir, tag)
    val sigPath = new org.apache.hadoop.fs.Path(s"$store/_SRC_SIG")
    val fs = sigPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val srcSig =
      graft.sources.RunLog.sourceSignature(
        spark, if (sigDir == null) dir else sigDir, sourceGlob) +
        s":$version"
    def current(): Option[String] = readSig(fs, sigPath) match {
      case Some((sig, ver)) if sig == srcSig =>
        val root = s"$store/$ver"
        if (fs.exists(new org.apache.hadoop.fs.Path(root))) Some(root)
        else None
      case _ => None
    }
    current().getOrElse {
      val lock = storeLocks.computeIfAbsent(store, _ => new Object)
      lock.synchronized {
        current().getOrElse { // re-check under the lock: a race's loser reuses
          val prevVer = readSig(fs, sigPath).map(_._2).getOrElse("")
          val ver = "ver-" +
            java.lang.Long.toHexString(srcSig.hashCode.toLong & 0xffffffffL) +
            "-" + java.lang.Long.toHexString(System.nanoTime())
          val root = s"$store/$ver"
          write(root)
          val out = fs.create(sigPath, true)
          try out.write(s"$srcSig\n$ver"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          // GC: versions other than the new one and its immediate
          // predecessor (which an in-flight reader may still scan).
          // Grace window: the JVM lock above only serializes THIS
          // process — a concurrent cross-process writer's in-flight
          // `ver-*` dir must not be deleted mid-write, so dirs whose
          // nanoTime suffix (CLOCK_MONOTONIC, shared across processes
          // on one host) is younger than the window are left alone;
          // they become ordinary GC candidates at a later commit.
          val keep = Set(ver, prevVer).filter(_.nonEmpty)
          val now = System.nanoTime()
          def youngerThanGrace(name: String): Boolean = {
            val ts = name.substring(name.lastIndexOf('-') + 1)
            try now - java.lang.Long.parseUnsignedLong(ts, 16) <
              GcGraceNanos
            catch { case _: NumberFormatException => false }
          }
          // Anything else in the store root but the signature and its
          // checksum is a leftover of an older layout (in-place part
          // files, generation dirs) that nothing reads any more.
          def stale(st: org.apache.hadoop.fs.FileStatus): Boolean = {
            val name = st.getPath.getName
            if (st.isDirectory && name.startsWith("ver-"))
              !keep(name) && !youngerThanGrace(name)
            else name != "_SRC_SIG" && name != "._SRC_SIG.crc"
          }
          Option(fs.listStatus(new org.apache.hadoop.fs.Path(store)))
            .getOrElse(Array.empty)
            .filter(stale)
            .foreach(st => fs.delete(st.getPath, true))
          root
        }
      }
    }
  }

  /** The committed (signature, version dir) pair of a store, or None
    * when it has none. A signature without a version line is not a
    * commit of this protocol: it reads as None, so [[ensure]] rebuilds. */
  private def readSig(fs: org.apache.hadoop.fs.FileSystem,
      sigPath: org.apache.hadoop.fs.Path): Option[(String, String)] =
    if (!fs.exists(sigPath)) None
    else {
      val in = fs.open(sigPath)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val i = s.indexOf('\n')
      if (i < 0) None else Some((s.substring(0, i), s.substring(i + 1)))
    }

  /** The CURRENT version root of an already-committed store (the path
    * [[ensure]] would return without rebuilding) — for consumers that
    * need the store's on-disk location itself, e.g. the oracle-SQL
    * path substitution that lets DuckDB read a persisted artifact.
    * Falls back to the store root when nothing is committed. */
  def currentRoot(spark: SparkSession, dir: String, tag: String): String = {
    val store = SinkOps.stagingDir(dir, tag)
    val sigPath = new org.apache.hadoop.fs.Path(s"$store/_SRC_SIG")
    val fs = sigPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSig(fs, sigPath).fold(store) { case (_, ver) => s"$store/$ver" }
  }

  /** Test hook: drop a store so the next access rebuilds. */
  private[graft] def drop(spark: SparkSession, dir: String, tag: String): Unit =
    SinkOps.deleteDir(spark, SinkOps.stagingDir(dir, tag))
}
