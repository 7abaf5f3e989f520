package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The at-rest half of every shared index ([[PersistedStore]]): a
  * cache-evicted rerun must READ the persisted parquet back — same
  * rows, store files untouched — and a dropped store must rebuild to
  * identical content. One test per round-7 store; the PQ index, phash,
  * and standing-label stores carry the same checks in their own
  * suites. */
class PersistedStoreSpec extends SparkSpec {

  private def storeListing(store: String, sub: String) = {
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/$sub"))
      .map(s => s.getPath.getName -> s.getModificationTime).sortBy(_._1).toSeq
  }

  private def checkStore(tag: String, sub: String, evict: () => Unit)(
      frame: => DataFrame): Unit = {
    def rows() = frame.collect().map(_.toString).sorted
    val first = rows()
    assert(first.nonEmpty, s"$tag store produced no rows")
    // the CURRENT version root (round-8 versioned-commit layout) — the
    // path ensure() hands its readers
    val store = PersistedStore.currentRoot(spark, sf001, tag)
    val before = storeListing(store, sub)
    evict()
    assert(rows() === first, s"$tag: evicted reread diverged")
    assert(storeListing(store, sub) === before,
      s"$tag: cache-evicted rerun must reuse the store, not rewrite it")
    PersistedStore.drop(spark, sf001, tag)
    evict()
    assert(rows() === first, s"$tag: rebuilt store diverged")
  }

  test("lsh pair index persists and rebuilds identically") {
    checkStore("lsh_pair_index", "pairs", () => Dedup.lshPairCache.clear())(
      Dedup.minhashLsh.build(spark, sf001))
  }

  test("tf index persists and rebuilds identically") {
    checkStore("tf_index", "tf", () => TextOps.tfIndexCache.clear())(
      TextOps.tfIndex(spark, sf001))
  }

  test("co-purchase edges persist and rebuild identically") {
    checkStore("copurchase_edges", "edges",
      () => GraphOps.copurchaseCache.clear())(
      GraphOps.copurchaseEdges(spark, sf001))
  }

  test("graph canopy persists and rebuilds identically") {
    checkStore("graph_canopy", "cells",
      () => Similarity.canopyCache.clear())(
      Similarity.graphCanopy(spark, sf001))
  }

  test("sparse entity labels persist and rebuild identically") {
    checkStore("sparse_entity_labels", "labels",
      () => Dedup.sparseEntityCache.clear())(
      Dedup.entityResolve.build(spark, sf001))
  }

  test("drift model persists and rebuilds identically") {
    checkStore("drift_model", "model",
      () => StreamingOps.driftModelCache.clear())(
      StreamingOps.standingDriftModel(spark, sf001))
  }

  test("bpe merge table persists and rebuilds identically") {
    checkStore("bpe_merges", "merges",
      () => { Bpe.mergesCache.clear(); Bpe.vocabCache.clear() })(
      Bpe.standingMerges(spark, sf001))
  }

  test("minhash banded-signature index persists and rebuilds identically") {
    checkStore("minhash_index", "banded",
      () => Dedup.minhashIndexCache.clear())(
      Dedup.minhashIndex(spark, sf001)._1)
  }

  test("minhash shingle sizes persist and rebuild identically") {
    checkStore("minhash_index", "sizes",
      () => Dedup.minhashIndexCache.clear())(
      Dedup.minhashIndex(spark, sf001)._2)
  }

  test("incremental verified-match set persists and rebuilds identically") {
    checkStore("incr_matches", "matches",
      () => Dedup.incrMatchCache.clear())(
      Dedup.incrementalMatches(spark, sf001))
  }

  test("trained IMI canopy persists and rebuilds identically") {
    checkStore("imi_canopy", "cells", () => Imi.imiCache.clear())(
      Imi.trainedCanopy(spark, sf001))
  }

  test("standing IMI index (codebook half) persists and rebuilds " +
    "identically") {
    checkStore("imi_standing", "codebook", () => Imi.standingCache.clear())(
      Imi.standingIndex(spark, sf001)._1)
  }

  test("standing IMI index (cells half) persists and rebuilds " +
    "identically") {
    checkStore("imi_standing", "cells", () => Imi.standingCache.clear())(
      Imi.standingIndex(spark, sf001)._2)
  }

  test("compacted IMI index persists and rebuilds identically") {
    checkStore("imi_compact", "cells", () => Imi.compactCache.clear())(
      Imi.imiCompact.build(spark, sf001))
  }

  test("bpe segmented vocab persists and rebuilds identically") {
    checkStore("bpe_merges", "vocab",
      () => { Bpe.mergesCache.clear(); Bpe.vocabCache.clear() })(
      Bpe.standingVocab(spark, sf001))
  }

  test("standing chunk-keeper table persists and rebuilds identically") {
    checkStore("chunk_keepers", "keepers",
      () => TextOps.chunkKeepersCache.clear())(
      TextOps.standingChunkKeepers(spark, sf001))
  }

  test("rebuild commits a NEW version dir and keeps the predecessor " +
    "(readers never see in-place mutation); older versions are GC'd") {
    PersistedStore.drop(spark, sf001, "ver_probe")
    def build(v: String) = PersistedStore.ensure(spark, sf001,
      "documents.parquet", "ver_probe", v) { root =>
      graft.Tables.documents(spark, sf001).limit(2)
        .write.mode("overwrite").parquet(s"$root/rows")
    }
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    try {
      val r1 = build("v1")
      assert(build("v1") === r1, "same signature must reuse, not rebuild")
      val r2 = build("v2") // version bump = signature change = rebuild
      assert(r1 !== r2, "a rebuild must land in a fresh version dir")
      assert(exists(s"$r1/rows"),
        "the superseded version must survive one generation for " +
          "in-flight readers")
      assert(exists(s"$r2/rows"))
      assert(PersistedStore.currentRoot(spark, sf001, "ver_probe") === r2)
      // GC has a cross-process grace window: an unreferenced ver-* dir
      // is deleted only once its nanoTime suffix has aged past
      // GcGraceNanos (a concurrent writer's in-flight build must never
      // be deleted mid-write). Plant an unreferenced dir with an
      // expired timestamp: the next commit must GC it while keeping
      // the (young) r1/r2 generations.
      val storeRoot = r2.substring(0, r2.lastIndexOf('/'))
      val expired = s"$storeRoot/ver-dead-" + java.lang.Long.toHexString(
        System.nanoTime() - PersistedStore.GcGraceNanos - 1L)
      fs.mkdirs(new org.apache.hadoop.fs.Path(expired))
      val r3 = build("v3")
      assert(!exists(expired),
        "an unreferenced version past the grace window must be GC'd")
      assert(exists(r1),
        "a version younger than the grace window must NOT be GC'd " +
          "(it could be a concurrent writer's in-flight build)")
      assert(exists(s"$r2/rows") && exists(s"$r3/rows"))
    } finally PersistedStore.drop(spark, sf001, "ver_probe")
  }

  test("a commit deletes what an older layout left in the store root") {
    PersistedStore.drop(spark, sf001, "layout_probe")
    def build(v: String) = PersistedStore.ensure(spark, sf001,
      "documents.parquet", "layout_probe", v) { root =>
      graft.Tables.documents(spark, sf001).limit(2)
        .write.mode("overwrite").parquet(s"$root/rows")
    }
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def path(p: String) = new org.apache.hadoop.fs.Path(p)
    try {
      val r1 = build("v1")
      val store = r1.substring(0, r1.lastIndexOf('/'))
      // an in-place part file and a generation dir, the layouts the
      // fixture stores had before they committed through ensure
      fs.create(path(s"$store/part-0.parquet")).close()
      fs.mkdirs(path(s"$store/gen-v4-1"))
      val r2 = build("v2")
      assert(!fs.exists(path(s"$store/part-0.parquet")))
      assert(!fs.exists(path(s"$store/gen-v4-1")))
      assert(fs.exists(path(s"$store/_SRC_SIG")))
      assert(fs.listStatus(path(store)).map(_.getPath.getName)
        .filter(_.startsWith("ver-")).toSet ===
        Set(r1, r2).map(r => r.substring(r.lastIndexOf('/') + 1)))
      assert(fs.exists(path(s"$r1/rows")) && fs.exists(path(s"$r2/rows")))
    } finally PersistedStore.drop(spark, sf001, "layout_probe")
  }

  test("concurrent ensure on one store builds exactly once") {
    import java.util.concurrent.atomic.AtomicInteger
    val builds = new AtomicInteger(0)
    PersistedStore.drop(spark, sf001, "race_probe")
    val latch = new java.util.concurrent.CountDownLatch(1)
    def run(): String = {
      latch.await()
      PersistedStore.ensure(spark, sf001, "documents.parquet",
        "race_probe", "v1") { root =>
        builds.incrementAndGet()
        Thread.sleep(150) // widen the race window
        graft.Tables.documents(spark, sf001).limit(3)
          .write.mode("overwrite").parquet(s"$root/rows")
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] { def call(): String = run() }))
      latch.countDown()
      val stores = futures.map(_.get()).toSet
      assert(stores.size === 1)
      assert(builds.get() === 1,
        s"racing callers built ${builds.get()} times; the store lock must " +
          "serialize to exactly one build")
    } finally {
      pool.shutdown()
      PersistedStore.drop(spark, sf001, "race_probe")
    }
  }

  test("bucketed keeper table: a regenerated store generation DROPS " +
    "the previous generation's table and warehouse dir") {
    // scope to THIS corpus' tables: other suites may bucket other dirs,
    // and the drop rule is per-corpus by design (fixed-width md5 dir
    // key — the production naming)
    val prefix = "gb_chunk_keepers_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(sf001.getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString + "_"
    def keeperTables = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith(prefix)).toSet
    TextOps.bucketedChunkKeepers(spark, sf001).count()
    val before = keeperTables
    assert(before.nonEmpty, "first build must register a bucketed table")
    // force a NEW store generation (fresh ver dir ⇒ fresh table name)
    PersistedStore.drop(spark, sf001, "chunk_keepers")
    TextOps.chunkKeepersCache.clear()
    TextOps.bucketedChunkKeepers(spark, sf001).count()
    val after = keeperTables
    assert(after.nonEmpty)
    assert(after.intersect(before).isEmpty,
      "the regenerated store must bucket under a NEW table name")
    assert(before.forall(t => !spark.catalog.tableExists(t)),
      s"stale generations $before must be dropped when a new one buckets")
  }
}
