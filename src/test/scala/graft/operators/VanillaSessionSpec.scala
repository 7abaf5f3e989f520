package graft.operators

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.{EngineConf, GraftExtensions, SparkEntry, SparkSpec}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll

/** Runs in a JVM of its own (forked by [[VanillaSessionSpec]]; in the
  * suites' JVM `getOrCreate` would hand back the shared session, which
  * carries the extension): builds a session WITHOUT
  * `spark.sql.extensions`, runs [[VanillaSessionOps.Ops]] in it and
  * writes, per op, its sorted rows (`<op>.rows`) and executed plan
  * (`<op>.plan`) under `args(1)`; then installs the extension a second
  * time and writes the experimental rule and strategy counts before
  * and after (`install`). Exits 0 iff all of that ran. */
object VanillaSessionOps {
  val Ops = Seq("q_topk_native", "q_feed_export", "q_fuzzy_best",
    "q_best_of_day", "q_asof_native", "q_rand_proj", "q_stream_dsir")

  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val code = try {
      val spark = EngineConf.tuned(SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
        .getOrCreate()
      require(!spark.catalog.functionExists("graft_topk"),
        "the session was built with the extension")
      val byName = SparkEntry.ops.map(op => op.name -> op).toMap
      for (name <- Ops) {
        val df = byName(name).build(spark, dir)
        Files.write(Paths.get(out, s"$name.rows"),
          df.collect().map(_.toString).sorted.toSeq.asJava)
        Files.writeString(Paths.get(out, s"$name.plan"),
          df.queryExecution.executedPlan.toString)
      }
      val ex = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .experimental
      def counts = s"${ex.extraOptimizations.size} ${ex.extraStrategies.size}"
      val before = counts
      GraftExtensions.install(spark)
      Files.writeString(Paths.get(out, "install"), s"$before\n$counts")
      spark.stop()
      0
    } catch { case e: Throwable => e.printStackTrace(System.out); 1 }
    sys.exit(code)
  }
}

/** A session built without `spark.sql.extensions` gets the extension
  * from the ops themselves: the same rows as the shared (extended)
  * session, the native kernel in every plan, and an idempotent second
  * install. */
class VanillaSessionSpec extends SparkSpec with BeforeAndAfterAll {
  private var made: Option[Path] = None

  private lazy val out: Path = {
    val dir = Files.createTempDirectory("graft-vanilla-session")
    made = Some(dir)
    val log = dir.resolve("jvm.log")
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvmArgs ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        VanillaSessionOps.getClass.getName.stripSuffix("$"), sf001,
        dir.toString)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    val done = p.waitFor(600, TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    val tail = Files.readAllLines(log).asScala.takeRight(40).mkString("\n")
    assert(done && p.exitValue == 0, tail)
    dir
  }

  override def afterAll(): Unit =
    try made.foreach(Files.walk(_).iterator().asScala.toSeq.reverse
      .foreach(Files.delete(_)))
    finally super.afterAll()

  private def plan(op: String): String = Files.readString(out.resolve(s"$op.plan"))

  test("every op returns the extended session's rows in a vanilla session") {
    val byName = SparkEntry.ops.map(op => op.name -> op).toMap
    for (name <- VanillaSessionOps.Ops) {
      val vanilla = Files.readAllLines(out.resolve(s"$name.rows")).asScala.toSeq
      val extended = byName(name).build(spark, sf001).collect()
        .map(_.toString).sorted.toSeq
      assert(extended.nonEmpty, name)
      assert(vanilla === extended, name)
    }
  }

  test("a vanilla session plans the native kernels") {
    val topk = plan("q_topk_native")
    assert(topk.contains("ObjectHashAggregate") && topk.contains("graft_topk"),
      topk)
    assert(!topk.contains("Window"), topk)
    Seq("q_feed_export" -> "graft_uri_encode",
      "q_fuzzy_best" -> "graft_bag_dist",
      "q_best_of_day" -> "graft_topk",
      "q_asof_native" -> "AsOfJoin",
      "q_rand_proj" -> "graft_randproj").foreach { case (op, kernel) =>
      assert(plan(op).contains(kernel), s"$op: no $kernel in\n${plan(op)}")
    }
  }

  test("a second install leaves the experimental rules and strategies as they are") {
    val Seq(before, after) = Files.readAllLines(out.resolve("install"))
      .asScala.toSeq
    assert(before === after)
    // the first install added the extension's one rule and one strategy
    assert(before === "1 1")
  }
}
