package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: write `explain("formatted")` for named queries into
  * per-query files — the round deliverable convention
  * (plans/rNN/<query>_<suffix>.txt).
  *
  *   sbt -batch "runMain graft.tools.PlanFiles <sfDir> <outDir> <suffix> <op> [op...]"
  */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, suffix, names @ _*) = args
    val spark = Profile.session()
    Files.createDirectories(Paths.get(outDir))
    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      try {
        val df = qs.getOrElse(n, sys.error(s"unknown op $n"))(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[planfiles] wrote $n ($suffix, ${plan.length} chars)")
      } catch { case e: Throwable =>
        println(s"[planfiles] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
