package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev tool (not part of the engine surface): the one per-op profiler.
  * Each op is warmed once at sf0.001 (the `sf0.001` sibling of
  * `<sfDir>` when there is one), then timed over 3 runs, each
  * materialised with the `noop` sink as the benchmark harness does.
  * Per op it prints the min and all run times, the last run's Spark
  * jobs, stages and tasks, and one line per job: its milliseconds and
  * its call site, e.g. `isEmpty at GraphOps.scala:<line>` (the
  * connected-components convergence probe, so iteration rounds are
  * read off the job lines). A job that runs for a SQL execution is
  * named by that execution's description, the short call site of the
  * action that started it: AQE submits its shuffle-stage jobs from a
  * pool thread, where the result stage's name would read
  * `… at CompletableFuture.java:<line>`. Any other job is named by its
  * result stage.
  *
  *   sbt -batch "runMain graft.tools.Profile <sfDir> <op> [op...]"
  */
object Profile {

  /** One finished job of a profiled run. */
  final case class Job(id: Int, ms: Long, callSite: String)

  /** The record of one op: every run's seconds, then the LAST run's
    * started job count, completed stages and ended tasks, and its
    * finished jobs in id order. */
  final case class Record(op: String, runs: Seq[Double], jobCount: Int,
      stages: Int, tasks: Int, jobs: Seq[Job])

  private final class Counter extends SparkListener {
    val started = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    private val starts = new ConcurrentHashMap[Int, (Long, String)]
    private val executions = new ConcurrentHashMap[Long, String]
    val ended = new ConcurrentLinkedQueue[Job]

    def reset(): Unit = {
      started.set(0); stages.set(0); tasks.set(0)
      starts.clear(); executions.clear(); ended.clear()
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.description != null =>
        executions.put(s.executionId, s.description): Unit
      case _ => ()
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      val execution = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executions.get(id.toLong)))
      // the result stage is created after its parents: the highest id
      val site = execution.getOrElse(
        j.stageInfos.maxByOption(_.stageId).fold("")(_.name))
      starts.put(j.jobId, (j.time, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.remove(e.jobId)).foreach { case (t0, site) =>
        ended.add(Job(e.jobId, e.time - t0, site))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      tasks.incrementAndGet(): Unit
  }

  /** The session recipe of the dev tools: the bench's shape at
    * `SPARK_GRAFT_CPUS` threads (32 unset). */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.EngineConf.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Builds the registered op `op` over `dir` and runs it into the
    * `noop` sink. */
  def run(spark: SparkSession, op: String, dir: String): Unit =
    graft.SparkEntry.queries.getOrElse(op, sys.error(s"unknown op $op"))(
      spark, dir).write.format("noop").mode("overwrite").save()

  /** Times `runs` runs of `op` over `dir` (no warm-up) under a listener
    * that is removed again before this returns. */
  def profile(spark: SparkSession, op: String, dir: String,
      runs: Int = 3): Record = {
    val sc = spark.sparkContext
    val c = new Counter
    sc.addSparkListener(c)
    try {
      val times = (1 to runs).map { _ =>
        GraftSqlBridge.drainListenerBus(spark)
        c.reset()
        val t0 = System.nanoTime()
        run(spark, op, dir)
        (System.nanoTime() - t0) / 1e9
      }
      GraftSqlBridge.drainListenerBus(spark)
      Record(op, times, c.started.get, c.stages.get, c.tasks.get,
        c.ended.asScala.toSeq.sortBy(_.id))
    } finally sc.removeSparkListener(c)
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, ops @ _*) = args
    val spark = session()
    val warmDir = {
      val d = new java.io.File(new java.io.File(dir).getAbsoluteFile
        .getParentFile, "sf0.001")
      if (d.isDirectory) d.getPath else dir
    }
    ops.foreach { op =>
      try {
        run(spark, op, warmDir)
        val r = profile(spark, op, dir)
        println(f"[profile] $op%-28s min ${r.runs.min}%7.3f s  runs " +
          r.runs.map(t => f"$t%.3f").mkString(" ") +
          s"  jobs=${r.jobCount} stages=${r.stages} tasks=${r.tasks}")
        r.jobs.foreach(j =>
          println(f"[profile]   job ${j.id}%-5d ${j.ms}%7d ms  ${j.callSite}"))
      } catch { case e: Throwable =>
        println(s"[profile] $op FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
