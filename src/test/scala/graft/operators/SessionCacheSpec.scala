package graft.operators

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.SparkSpec

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
    val cache = SessionCache.mkFrames()
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

  test("a rewritten file under a partition dir rebuilds; a touched " +
    "_SUCCESS does not") {
    val tmp = Files.createTempDirectory("graft-session-cache")
    try {
      val table = tmp.resolve("region.parquet")
      graft.Tables.parquet(spark, s"$sf001/region.parquet")
        .write.partitionBy("r_name").parquet(table.toString)
      val cache = SessionCache.mkValues[Long]()
      var builds = 0
      def get(): Unit = {
        cache.getOrBuild(spark, tmp.toString, "region.parquet") {
          builds += 1; 0L
        }: Unit
      }
      // rewrite = same bytes, later mtime
      def rewrite(f: Path): Unit = {
        val t = Files.getLastModifiedTime(f).toMillis
        Files.write(f, Files.readAllBytes(f))
        Files.setLastModifiedTime(f, FileTime.fromMillis(t + 10000))
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
