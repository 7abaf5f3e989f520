package pipebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval of the traced run. Times are epoch
  * milliseconds; `parent` is the id of the enclosing span (-1 for the
  * workload span), and every span of a run carries the run id. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double)

/** Metrics of one finished task; `end` is epoch milliseconds. */
final case class Task(end: Long, runMs: Long, cpuNs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, peakMem: Long,
    bytesWritten: Long)

/** The Spark-side recorder of the traced run: jobs, stages, task
  * metrics, block-manager memory and the driver-side file-scan metrics
  * of SQL executions. Everything is kept in memory with its event time;
  * [[Main]] windows it to the timed phase after draining the bus. */
final class SparkRecorder extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[Task]
  /** (job id, submission ms, end ms) */
  val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]
  val stageSubmits = new ConcurrentLinkedQueue[Long]
  /** (receipt ms, total in-memory block bytes after the update) */
  val blockLevels = new ConcurrentLinkedQueue[(Long, Long)]

  private val jobStarts = new ConcurrentHashMap[Int, Long]
  private val blocks = new ConcurrentHashMap[String, Long]
  @volatile private var blockTotal = 0L

  // SQL executions: start time, accumulator names, driver-side updates
  private val execStarts = new ConcurrentHashMap[Long, Long]
  private val accumNames = new ConcurrentHashMap[Long, String]
  private val driverUpdates = new ConcurrentLinkedQueue[(Long, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    jobs.add((e.jobId, s, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmits.add(
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled, m.peakExecutionMemory,
      m.outputMetrics.bytesWritten))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val now = if (info.storageLevel.isValid) info.memSize else 0L
    val prev = Option(blocks.put(info.blockId.name, now)).getOrElse(0L)
    blockTotal += now - prev
    blockLevels.add((System.currentTimeMillis(), blockTotal))
  }

  private def register(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => accumNames.put(m.accumulatorId, m.name))
    p.children.foreach(register)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStarts.put(s.executionId, s.time)
      register(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      register(u.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveSQLMetricUpdates =>
      u.sqlPlanMetrics.foreach(m => accumNames.put(m.accumulatorId, m.name))
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (id, v) =>
        driverUpdates.add((d.executionId, id, v))
      }
    case _ => ()
  }

  /** Sum of the driver-side metric `name` over executions started in
    * [t0, t1]. */
  def driverMetric(name: String, t0: Double, t1: Double): Long =
    driverUpdates.asScala.iterator.collect {
      case (exec, id, v) if accumNames.get(id) == name && {
        val s = execStarts.getOrDefault(exec, -1L)
        s >= t0 - 1 && s <= t1
      } => v
    }.sum

  /** Peak total block memory over [t0, t1], starting from the level the
    * window opens at. */
  def blockPeak(t0: Double, t1: Double): Long = {
    val levels = blockLevels.asScala.toSeq
    val atStart = levels.takeWhile(_._1 < t0).lastOption.map(_._2)
      .getOrElse(0L)
    (atStart +: levels.filter { case (t, _) => t >= t0 && t <= t1 }
      .map(_._2)).max
  }
}

/** Streaming micro-batch progress of the traced run. */
final class StreamRecorder extends StreamingQueryListener {
  /** (trigger start ms, input rows, trigger ms, walCommit+commitOffsets ms) */
  val batches = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches.add((java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows, ms("triggerExecution"),
      ms("walCommit") + ms("commitOffsets")))
  }
}
