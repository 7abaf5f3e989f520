package graft.sources

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** Runs in a JVM of its own (forked by [[SourceSignatureForkSpec]],
  * whose `PATH` starts with a logging `ls`): signs the directory table
  * `args(0)/t.parquet` three times with [[RunLog.sourceSignature]],
  * then walks it once with Hadoop's `listFiles` as a control. Prints
  * `forks <sign> <control>`, the lines each step added to the log
  * `args(1)`. Exits 0 iff all of that ran. */
object SignatureForks {
  def main(args: Array[String]): Unit = {
    val Array(dir, log) = args
    def logged(): Int =
      if (Files.exists(Paths.get(log))) Files.readAllLines(Paths.get(log)).size
      else 0
    val code = try {
      val spark = SparkSession.builder()
        .master("local[1]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val before = logged()
      for (_ <- 1 to 3) RunLog.sourceSignature(spark, dir, "t.parquet")
      val signed = logged()
      val table = new org.apache.hadoop.fs.Path(s"$dir/t.parquet")
      val it = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(table, true)
      while (it.hasNext) it.next()
      println(s"forks ${signed - before} ${logged() - signed}")
      spark.stop()
      0
    } catch { case e: Throwable => e.printStackTrace(System.out); 1 }
    sys.exit(code)
  }
}

/** The source signature reads file lengths and mtimes without forking
  * a process: with no native Hadoop library, a `LocatedFileStatus`
  * (Hadoop's `listFiles`) reads each file's permissions through
  * `ls -ld`, and every [[graft.operators.PersistedStore]] check and
  * [[graft.operators.SessionCache]] hit signs its source. */
class SourceSignatureForkSpec extends SparkSpec {
  test("sourceSignature of a two-part directory table forks no ls") {
    val tmp = Files.createTempDirectory("graft-signature-forks")
    try {
      spark.range(10).repartition(2).write
        .parquet(tmp.resolve("t.parquet").toString)
      val bin = Files.createDirectories(tmp.resolve("bin"))
      val log = tmp.resolve("ls.log")
      val realLs = sys.env("PATH").split(":").iterator
        .map(Paths.get(_, "ls")).find(Files.isExecutable(_))
        .getOrElse(fail("no ls on PATH"))
      val ls = bin.resolve("ls")
      Files.writeString(ls,
        s"""#!/bin/sh\necho "$$*" >> '$log'\nexec '$realLs' "$$@"\n""")
      ls.toFile.setExecutable(true)
      val out = tmp.resolve("jvm.log")
      val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filterNot(_.startsWith("-Xmx"))
      val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
        jvmArgs ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
          SignatureForks.getClass.getName.stripSuffix("$"), tmp.toString,
          log.toString)
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(out.toFile)
      pb.environment().put("PATH", s"$bin:${sys.env("PATH")}")
      val p = pb.start()
      val done = p.waitFor(300, TimeUnit.SECONDS)
      if (!done) p.destroyForcibly()
      val lines = Files.readAllLines(out).asScala.toSeq
      assert(done && p.exitValue == 0, lines.takeRight(40).mkString("\n"))
      val Array(signed, control) = lines.find(_.startsWith("forks "))
        .getOrElse(fail(lines.takeRight(40).mkString("\n")))
        .split(" ").tail.map(_.toInt)
      // the control proves the logging ls sits where Hadoop looks for it
      assert(control > 0, "Hadoop's listFiles forked no logged ls")
      assert(signed === 0, s"sourceSignature forked $signed ls processes")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
