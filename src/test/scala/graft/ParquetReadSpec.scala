package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}

/** [[Tables.parquet]] — the one parquet read path: its footer schema
  * equals Spark's inferred schema on every layout the engine reads, it
  * runs no Spark job to get it, and a path with no data file fails
  * exactly as a plain read does. Its source scan has a sibling that
  * keeps one plan per native kernel (no session probes). */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private val sf = Paths.get(sf001).resolveSibling("sf0.01").toString
  private lazy val tmp: Path = Files.createTempDirectory("graft-parquet-read")

  private def sameSchema(paths: String*): Unit =
    assert(Tables.parquet(spark, paths: _*).schema ===
      spark.read.parquet(paths: _*).schema, paths.mkString(","))

  /** Jobs `body` starts on this thread (they carry its job group, so
    * background jobs of other suites' streams are not counted). A
    * fence job in its own group is awaited after `body`: listener
    * events arrive in order, so every job `body` started is seen. */
  private def jobsOf(body: => Unit): Int = {
    val seen = new AtomicInteger()
    val fence = new CountDownLatch(1)
    val sc = spark.sparkContext
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case "parquet-read-probe" => seen.incrementAndGet()
          case "parquet-read-fence" => fence.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("parquet-read-probe", "probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("parquet-read-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fence.await(60, TimeUnit.SECONDS), "fence job never seen")
      seen.get
    } finally sc.removeSparkListener(l)
  }

  test("footer schema equals the inferred schema on every sf0.01 table") {
    val before = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    try {
      // events is read with nanos-as-long (Tables.events sets it)
      for (nanos <- Seq("false", "true");
           t <- Tables.AllTables if nanos == "false" || t == "events") {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
        sameSchema(s"$sf/$t.parquet")
      }
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
      case None => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    }
  }

  test("partitionBy dir, glob path and multi-path read") {
    val df = Seq((1L, "a", 10), (2L, "b", 20), (3L, "a", 30))
      .toDF("id", "part", "v")
    val parted = tmp.resolve("parted").toString
    df.write.mode("overwrite").partitionBy("part").parquet(parted)
    sameSchema(parted)
    assert(Tables.parquet(spark, parted).schema.fieldNames.toSeq ===
      Seq("id", "v", "part"))
    for (i <- 1 to 2)
      df.write.mode("overwrite").parquet(tmp.resolve(s"multi-$i").toString)
    sameSchema(tmp.resolve("multi-*").toString)
    sameSchema(tmp.resolve("multi-1").toString, tmp.resolve("multi-2").toString)
    assert(Tables.parquet(spark, tmp.resolve("multi-*").toString).count() === 6)
  }

  test("_SUCCESS, .crc and other hidden names are never taken for data") {
    val dir = tmp.resolve("hidden")
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite").parquet(dir.toString)
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    // non-parquet bytes under hidden names: reading any of them as a
    // footer would throw
    for (n <- Seq("_a", ".a", "_temporary"))
      Files.write(dir.resolve(n), "not parquet".getBytes)
    sameSchema(dir.toString)
  }

  test("a table read runs no Spark job") {
    assert(jobsOf { Tables.lineitem(spark, sf).schema } === 0)
    // the probe does see jobs: the plain read's inference job
    assert(jobsOf { spark.read.parquet(s"$sf/lineitem.parquet").schema } > 0)
  }

  test("an empty dir fails as a plain read does") {
    val empty = Files.createDirectories(tmp.resolve("empty")).toString
    def err(read: => DataFrame) = intercept[AnalysisException](read)
    val plain = err(spark.read.parquet(empty))
    val ours = err(Tables.parquet(spark, empty))
    assert(ours.getCondition === plain.getCondition)
    assert(ours.getMessage === plain.getMessage)
  }

  /** The repository root: the nearest ancestor of the forked JVM's
    * working directory that holds `src/main/scala/graft`. */
  private lazy val repoRoot: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(
        _.getParent)
      .takeWhile(_ != null)
      .find(d => Files.isDirectory(d.resolve("src/main/scala/graft")))
      .getOrElse(fail(s"src/main/scala/graft not found above " +
        sys.props("user.dir")))

  private lazy val graftRoot = repoRoot.resolve("src/main/scala/graft")

  /** Engine sources under `src/main/scala/graft` (outside `tools/`),
    * path relative to that root → text. */
  private lazy val engineSources: Map[String, String] =
    Files.walk(graftRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.startsWith(graftRoot.resolve("tools")))
      .map(p => graftRoot.relativize(p).toString -> Files.readString(p))
      .toMap

  private def engineSourcesMatching(pattern: scala.util.matching.Regex)
      : Seq[String] =
    engineSources.collect {
      case (p, text) if pattern.findFirstIn(text).nonEmpty => p
    }.toSeq

  test("engine sources read parquet only through Tables.parquet") {
    // the helper's own fallback read must be found, so an empty scan
    // cannot pass
    val hits = engineSourcesMatching("""\.read\s*\.parquet\(""".r)
    assert(hits.contains("Tables.scala"), "the scan found no reader at all")
    assert(hits.filterNot(_ == "Tables.scala").isEmpty,
      s"read parquet through Tables.parquet, not spark.read.parquet: $hits")
  }

  test("engine sources reach the native kernels without a session probe") {
    // the installer must be among the scanned files, so an empty scan
    // cannot pass; every kernel call site outside it has one plan
    assert(engineSources.contains("GraftExtensions.scala"),
      "the scan found no installer")
    val hits = engineSourcesMatching(
      """catalog\s*\.functionExists\(|experimental\s*\.extraStrategies""".r)
    assert(hits.filterNot(_ == "GraftExtensions.scala").isEmpty,
      "call the graft_ kernels unconditionally; GraftExtensions.install " +
        s"puts them in every op's session: $hits")
  }

  test("engine sources walk listings without LocatedFileStatus") {
    // the signature's walk must be among the scanned files, so an empty
    // scan cannot pass
    assert(engineSourcesMatching("""\.listStatus\(""".r)
      .contains("sources/RunLog.scala"), "the scan found no listing")
    // Hadoop's listFiles(path, recursive) and listLocatedStatus build a
    // LocatedFileStatus, which forks `ls -ld` per file without the
    // native Hadoop library; java.io.File#listFiles() takes no argument
    val hits = engineSourcesMatching(
      """\.listFiles\(\s*[^)\s]|\.listLocatedStatus\(""".r)
    assert(hits.isEmpty,
      s"list with listStatus; a LocatedFileStatus forks per file: $hits")
  }

  test("engine sources commit derived artifacts only through PersistedStore") {
    val hits = engineSourcesMatching("_SRC_SIG".r)
    assert(hits.contains("operators/PersistedStore.scala"),
      "the scan found no commit protocol")
    assert(hits.filterNot(Set("operators/PersistedStore.scala",
      "streaming/EventStream.scala")).isEmpty,
      s"build and reuse a store with PersistedStore.ensure: $hits")
  }

  test("every dev tool main is named in the verify skill") {
    // the owner of a `def main(` is the last object declared before it
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = Files.list(graftRoot.resolve("tools")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString(_))
      .flatMap { text =>
        val objs = objectDecl.findAllMatchIn(text).toSeq
        """def main\(""".r.findAllMatchIn(text).flatMap(m =>
          objs.takeWhile(_.start < m.start).lastOption.map(_.group(1)))
      }.toSeq.distinct.sorted
    assert(mains.contains("Profile"), s"the scan found no profiler: $mains")
    val skill = Files.readString(
      repoRoot.resolve(".claude/skills/verify/SKILL.md"))
    val missing =
      mains.filterNot(n => s"\\b$n\\b".r.findFirstIn(skill).nonEmpty)
    assert(missing.isEmpty,
      s"document each dev tool in the verify skill, or delete it: $missing")
  }
}
