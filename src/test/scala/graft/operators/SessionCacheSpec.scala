package graft.operators

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The cache-scope law the round-10 verdict pinned: `getOrBuild`'s
  * scope key must carry the collision-safe [[SessionCache.sessionId]]
  * (minted once per live session, never recycled after GC), NOT
  * `identityHashCode` — two sessions over the same dir must never
  * share a cache row even when the corpus signature matches, and the
  * same session must keep hitting its own row. */
class SessionCacheSpec extends SparkSpec {

  test("sessionId is stable per session and distinct across sessions") {
    val a = SessionCache.sessionId(spark)
    assert(a == SessionCache.sessionId(spark))
    val s2 = spark.newSession()
    val b = SessionCache.sessionId(s2)
    assert(a != b)
    assert(b == SessionCache.sessionId(s2))
  }

  test("same session + same signature hits the cache; a second session " +
    "over the same dir rebuilds (no cross-session row sharing)") {
    val cache = new SessionCache.Cache[DataFrame]
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession) = {
      builds += 1
      s.read.parquet(s"$sf001/region.parquet")
    }
    val f1 = cache.getOrBuild(spark, sf001, "region.parquet")(build(spark))
    val f1b = cache.getOrBuild(spark, sf001, "region.parquet")(build(spark))
    assert(builds == 1)
    assert(f1 eq f1b) // cached instance served, not a rebuild
    // a NEW session over the SAME dir and UNCHANGED signature must get
    // its own build — the scope key separates sessions
    val s2 = spark.newSession()
    val f2 = cache.getOrBuild(s2, sf001, "region.parquet")(build(s2))
    assert(builds == 2)
    assert(!(f2 eq f1))
    // and each session keeps hitting its OWN row afterwards
    assert(cache.getOrBuild(spark, sf001, "region.parquet")(
      build(spark)) eq f1)
    assert(cache.getOrBuild(s2, sf001, "region.parquet")(build(s2)) eq f2)
    assert(builds == 2)
  }

  // rewrite = same bytes, later mtime: the listing signature changes
  private def rewrite(f: Path): Unit = {
    val t = Files.getLastModifiedTime(f).toMillis
    Files.write(f, Files.readAllBytes(f))
    Files.setLastModifiedTime(f, FileTime.fromMillis(t + 10000))
  }

  test("an evicted entry is released by its value's shape") {
    val tmp = Files.createTempDirectory("graft-session-cache")
    try {
      val table = tmp.resolve("region.parquet")
      graft.Tables.parquet(spark, s"$sf001/region.parquet")
        .write.parquet(table.toString)
      val part = Files.list(table).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-"))
        .getOrElse(fail(s"no part file in $table"))
      def scan() = graft.Tables.parquet(spark, table.toString)
      def checkpointed() = scan().localCheckpoint()
      // two persisted plans: one cached plan is shared by every frame
      // that persists it
      def persisted(cols: String*) = {
        val df = scan().selectExpr(cols: _*).persist(); df.count(); df
      }
      def rddId(df: DataFrame) = df.queryExecution.analyzed match {
        case lr: LogicalRDD => lr.rdd.id
        case p => fail(s"not a checkpointed frame: $p")
      }
      // a frame's storageLevel is looked up by plan, and the rebuild
      // persists the same plan again: its column buffers tell the two
      // generations apart (read them before the release, which lets a
      // later read build new ones)
      def bufferId(df: DataFrame) = df.queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation =>
          r.cacheBuilder.cachedColumnBuffers.id
        }.getOrElse(fail("not a persisted frame"))
      def live(id: Int) = spark.sparkContext.getPersistentRDDs.contains(id)
      val frames = new SessionCache.Cache[DataFrame]
      val persists = new SessionCache.Cache[DataFrame]
      val pairs = new SessionCache.Cache[(DataFrame, DataFrame)]
      val longs = new SessionCache.Cache[Long]
      var longBuilds = 0
      def get() = {
        val (d, g) = (tmp.toString, "region.parquet")
        (frames.getOrBuild(spark, d, g)(checkpointed()),
          persists.getOrBuild(spark, d, g)(persisted("*")),
          pairs.getOrBuild(spark, d, g)(
            (checkpointed(), persisted("r_name"))),
          longs.getOrBuild(spark, d, g) { longBuilds += 1; scan().count() })
      }
      val (f1, p1, (a1, b1), n1) = get()
      val old = Seq(rddId(f1), bufferId(p1), rddId(a1), bufferId(b1))
      assert(old.forall(live))
      rewrite(part)
      val (f2, p2, (a2, b2), n2) = get()
      assert(!(f2 eq f1) && !(p2 eq p1) && !(a2 eq a1))
      assert(!live(old(0)), "the old checkpoint's blocks were kept")
      assert(!live(old(1)), "the old persisted frame was kept")
      assert(!live(old(2)) && !live(old(3)),
        "the old pair was not released element by element")
      assert(longBuilds === 2 && n2 === n1)
      // the new entries stay live
      assert(Seq(rddId(f2), rddId(a2), bufferId(p2), bufferId(b2))
        .forall(live))
      Seq(p2, b2).foreach(_.unpersist(true))
      Seq(f2, a2).foreach(SessionCache.releaseFrame)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("a rewritten file under a partition dir rebuilds; a touched " +
    "_SUCCESS does not") {
    val tmp = Files.createTempDirectory("graft-session-cache")
    try {
      val table = tmp.resolve("region.parquet")
      graft.Tables.parquet(spark, s"$sf001/region.parquet")
        .write.partitionBy("r_name").parquet(table.toString)
      val cache = new SessionCache.Cache[Long]
      var builds = 0
      def get(): Unit = {
        cache.getOrBuild(spark, tmp.toString, "region.parquet") {
          builds += 1; 0L
        }: Unit
      }
      get()
      get()
      assert(builds === 1)
      val part = Files.walk(table).iterator().asScala.find { f =>
        f.getParent != table && f.getFileName.toString.startsWith("part-")
      }.getOrElse(fail(s"no part file under a partition dir of $table"))
      rewrite(part)
      get()
      assert(builds === 2, s"rewriting $part did not invalidate the cache")
      rewrite(table.resolve("_SUCCESS"))
      get()
      assert(builds === 2, "touching _SUCCESS invalidated the cache")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
