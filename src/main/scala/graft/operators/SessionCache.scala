package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-scoped shared-index cache device behind
  * [[Dedup.shingleRows]], [[Dedup.lshPairIndex]], [[TextOps.tfIndex]],
  * [[Similarity.graphCanopy]], [[GraphOps.copurchaseEdges]], … — one
  * consistent implementation of three properties every cache must
  * have:
  *
  *  1. **Scope**: one entry per (session identity, corpus dir [, extra
  *     parameters]) — a new session rebuilds, two dirs never collide.
  *  2. **Staleness**: the stored value carries the source files'
  *     listing signature — [[graft.sources.RunLog.sourceSignature]],
  *     the one [[PersistedStore.ensure]] commits against (recursive
  *     over a matched directory, so a partitioned table invalidates;
  *     marker files such as `_SUCCESS` and `.crc` do not); a mismatch
  *     on access REBUILDS instead of serving the dead corpus. Cost:
  *     one driver-side file listing per access, metadata only, no
  *     process fork.
  *  3. **Bounded memory**: replacing a stale entry RELEASES the old
  *     value, before the rebuild, by its own shape: a `persist()`ed frame is unpersisted,
  *     any other frame drops its localCheckpoint blocks
  *     ([[releaseFrame]], the [[GraphOps.connectedComponents]] release
  *     discipline; a plain scan holds none), a tuple releases each
  *     element and a scalar holds nothing. A long-lived session
  *     cycling through regenerated corpora holds one live index per
  *     scope, not one per generation. `clear()` only drops references
  *     (tests may still hold the frames; the ContextCleaner reclaims
  *     them).
  *
  * Each call site holds its own `private val` of a `new Cache[T]`:
  * inlining the construction into the access would compile but never
  * cache.
  */
private[graft] object SessionCache {

  /** Release the block-manager copy behind a `localCheckpoint`ed frame
    * (its analyzed plan is a LogicalRDD over the materialized RDD); a
    * plain scan holds none. Without this, superseded snapshots stay
    * pinned until the RDD is GC'd and the ContextCleaner gets to it —
    * deterministic release keeps a long-lived session's storage memory
    * flat. */
  def releaseFrame(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Stable UNIQUE id per live session — `identityHashCode` can
    * collide and is REUSED after a session is GC'd (a new session
    * could silently adopt a dead session's cache row); this UUID is
    * minted once per session instance and its WeakHashMap entry dies
    * with the session, so ids are never recycled. */
  private val sessionIds =
    new java.util.WeakHashMap[SparkSession, String]

  def sessionId(spark: SparkSession): String = sessionIds.synchronized {
    val cur = sessionIds.get(spark)
    if (cur != null) cur
    else {
      val id = java.util.UUID.randomUUID.toString
      sessionIds.put(spark, id)
      id
    }
  }

  /** Releases what an evicted value holds, by the value's shape. */
  private def release(v: Any): Unit = v match {
    case df: DataFrame =>
      if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        df.unpersist(false)
      else releaseFrame(df)
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }

  final class Cache[T] {
    private val entries =
      new java.util.concurrent.ConcurrentHashMap[String, (String, T)]
    private val locks =
      new java.util.concurrent.ConcurrentHashMap[String, Object]

    /** Atomic per scope: two concurrent callers on one scope never both
      * build (the first holds the scope lock through `build`; the second
      * blocks and then reads the fresh entry) — and only an entry
      * actually EVICTED by signature mismatch is released, so a frame a
      * concurrent reader obtained before the rebuild is never yanked by
      * a builder that lost a race it wasn't in. The residual hazard —
      * a reader still holding a genuinely STALE frame when its rebuild
      * releases it — is inherent to staleness eviction (the old frame
      * references a dead corpus either way). */
    def getOrBuild(spark: SparkSession, dir: String, sourceGlob: String,
        extra: String = "")(build: => T): T = {
      val scope = s"${sessionId(spark)}@$dir@$extra"
      val sig = graft.sources.RunLog.sourceSignature(spark, dir, sourceGlob)
      val cur = entries.get(scope)
      if (cur != null && cur._1 == sig) return cur._2
      val lock = locks.computeIfAbsent(scope, _ => new Object)
      lock.synchronized {
        val cur2 = entries.get(scope)
        if (cur2 != null && cur2._1 == sig) cur2._2
        else {
          // release the stale value BEFORE the build: a rebuild that
          // persists the same plan would otherwise adopt the old cached
          // data and lose it with the release
          if (cur2 != null) { entries.remove(scope); release(cur2._2) }
          val v = build
          entries.put(scope, (sig, v))
          v
        }
      }
    }

    /** Drops entries only — the locks map stays stable so a builder
      * holding a scope lock across a concurrent clear() still excludes
      * the next getOrBuild on that scope (clearing locks too would let
      * a racer mint a fresh lock and run a duplicate build, leaking
      * the loser's localCheckpoint blocks). Lock objects are tiny and
      * scope keys are bounded by (session × dir × params) churn. */
    def clear(): Unit = entries.clear()
  }
}
