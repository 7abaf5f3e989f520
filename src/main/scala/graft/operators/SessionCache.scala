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
  *     value's localCheckpoint blocks (the
  *     [[GraphOps.connectedComponents]] release discipline) — a
  *     long-lived session cycling through regenerated corpora holds
  *     one live index per scope, not one per generation. `clear()`
  *     only drops references (tests may still hold the frames; the
  *     ContextCleaner reclaims them).
  */
private[graft] object SessionCache {

  /** Release the block-manager copy behind a localCheckpointed frame. */
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

  final class Cache[T](release: T => Unit) {
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
          val v = build
          val old = entries.put(scope, (sig, v))
          if (old != null) release(old._2)
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

  /** NEW cache of single localCheckpointed frames — factory, not a
    * shared singleton: each call-site holds its own `private val`
    * (inlining `SessionCache.mkFrames().getOrBuild(...)` would compile
    * but never cache, hence the explicit factory form). */
  def mkFrames(): Cache[DataFrame] = new Cache[DataFrame](releaseFrame)

  /** Cache of driver-side values (e.g. the quadratic-guard candidate
    * estimates, the BM25 (n_docs, t_tokens) corpus stats) — nothing to
    * release. */
  def mkValues[T](): Cache[T] = new Cache[T](_ => ())

  /** Cache of `persist()`-ed (columnar InMemoryRelation) frames — for
    * WIDE cached payloads (e.g. the span window rows, ~8× the corpus
    * text bytes as deserialized localCheckpoint blocks) where the
    * columnar cache's compression (dictionary/RLE over repetitive
    * strings) bounds the footprint and MEMORY_AND_DISK spills the rest;
    * released by `unpersist` instead of the LogicalRDD block drop. */
  def mkPersistedFrames(): Cache[DataFrame] =
    new Cache[DataFrame](df => { df.unpersist(false); () })

  /** NEW cache of frame PAIRS (e.g. the minhash (banded, sizes) index) —
    * factory form for the same reason as [[mkFrames]]. */
  def mkFramePairs(): Cache[(DataFrame, DataFrame)] =
    new Cache[(DataFrame, DataFrame)]({ case (a, b) =>
      releaseFrame(a); releaseFrame(b)
    })
}
