package graft.operators

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.{EngineConf, SparkSpec}
import org.apache.spark.sql.SparkSession

/** Runs in a JVM of its own (forked by [[FreshSessionSpec]]; stopping
  * the suites' shared session would end it for every later suite):
  * `q_anti_join` in one session, that session stopped, `q_anti_join`
  * again in a fresh one. Exits 0 iff both runs return the same,
  * non-empty rows. */
object AntiJoinAfterStop {
  def main(args: Array[String]): Unit = {
    def run(): (SparkSession, Seq[String]) = {
      val s = EngineConf.tuned(SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
        .getOrCreate()
      (s, Normalize.antiJoin.build(s, args(0)).collect()
        .map(_.toString).sorted.toSeq)
    }
    val code = try {
      val (first, a) = run()
      first.stop()
      val (second, b) = run()
      second.stop()
      if (a.nonEmpty && a == b) 0 else { println(s"rows differ: $a vs $b"); 1 }
    } catch { case e: Throwable => e.printStackTrace(System.out); 1 }
    sys.exit(code)
  }
}

class FreshSessionSpec extends SparkSpec {
  test("q_anti_join runs in a fresh session after its first one stopped") {
    val log = Files.createTempFile("graft-fresh-session", ".log")
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvmArgs ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        AntiJoinAfterStop.getClass.getName.stripSuffix("$"), sf001)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    val done = p.waitFor(300, TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    val out = Files.readAllLines(log).asScala.takeRight(40).mkString("\n")
    Files.deleteIfExists(log)
    assert(done && p.exitValue == 0, out)
  }
}
