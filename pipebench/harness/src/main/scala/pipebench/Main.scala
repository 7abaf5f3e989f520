package pipebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Op

/** One benchmark run in one JVM: start a session, run the workload's
  * set-up, run the timed passes (each op called one at a time through
  * `graft.SparkEntry.ops` and materialised with the `noop` sink), then
  * write each op's output for the output check and a JSON result file.
  *
  * Usage: `pipebench.Main <conf file>`; the conf file is `key=value`
  * lines written by `pipebench/run.py`, a repeated key forming a list:
  *
  *  - `workload`, `cpus`, `trace` (0/1), `result`, `spans`,
  *    `local_dir`, `store_root`
  *  - `check_out`: where each op's output for the output check goes;
  *    without it no output is written
  *  - `spark`: session settings, as `key=value`
  *  - `op`: the op list, in call order
  *  - `setup_dir`: dirs the op list runs over once each before timing
  *  - `pass_dir`: one dir per timed pass
  *  - `store_pattern`: a regex matching the names of the input dirs'
  *    scratch stores under `store_root`
  *  - `family`: the op families the per-layer metrics report
  *
  * Untraced runs register no listener; a traced run registers a
  * [[SparkRecorder]] and a [[StreamRecorder]] at session start and
  * reports the per-layer metrics of the timed phase. */
object Main {

  /** Result and span files are written with Jackson (Scala module), as
    * Spark writes its own JSON; `None` writes as null. */
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  final case class Call(pass: Int, op: String, family: String,
      start: Double, end: Double, error: Option[String])

  final case class Pass(start: Double, end: Double, builds: Int,
      commits: Int)

  private val clock0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds at nanosecond resolution. */
  def nowMs: Double = clock0 + (System.nanoTime() - nano0) / 1e6

  def readConf(path: String): Map[String, Seq[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.contains('=')).map { l =>
      val i = l.indexOf('=')
      l.substring(0, i) -> l.substring(i + 1)
    }.toSeq.groupMap(_._1)(_._2)
    finally src.close()
  }

  /** The op family is the engine object that defines the op. */
  def family(op: Op): String = {
    val n = op.build.getClass.getName
    n.substring(n.lastIndexOf('.') + 1).takeWhile(_ != '$')
  }

  private def firstLine(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage)}"
      .linesIterator.nextOption().getOrElse("").take(300)

  /** Build and materialise one op's output; the output, or the error. */
  def call(spark: SparkSession, op: Op, dir: String): Either[String, DataFrame] =
    try {
      val df = op.build(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      Right(df)
    } catch { case t: Throwable => Left(firstLine(t)) }

  def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong)
      .getOrElse(-1L)
    catch { case _: Throwable => -1L }

  /** Host CPU time stolen from this VM so far, in seconds (/proc/stat),
    * or -1 where unavailable. */
  def stealS(): Double =
    try scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+")(8).toDouble / 100
    catch { case _: Throwable => -1.0 }

  /** CPU time this process has used so far, in seconds. */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean =>
      os.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  /** Whole-stage and expression classes Spark has generated and
    * compiled so far in this JVM (a miss of its code cache). */
  def codeCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** The run's scratch stores: the dirs of the store root whose names
    * match `pattern`. */
  def storeDirs(root: String, pattern: String): Seq[Path] = {
    val name = pattern.r
    Option(new File(root).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && name.matches(f.getName))
      .map(_.toPath)
  }

  /** Signature files of the persisted stores (a store is a scratch dir
    * holding `_SRC_SIG`), keyed by path, valued by modification time:
    * every store build or rebuild rewrites its signature. */
  def storeSigs(dirs: Seq[Path]): Map[String, Long] = dirs.flatMap { d =>
    val sig = d.resolve("_SRC_SIG")
    if (Files.isRegularFile(sig))
      Some(sig.toString -> Files.getLastModifiedTime(sig).toMillis)
    else None
  }.toMap

  private def walk(d: Path): Seq[Path] =
    if (!Files.exists(d)) Nil
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  /** Commit markers under the stores: `_SUCCESS` files and transaction
    * or compaction manifests, keyed by path, valued by modification
    * time (nanoseconds where the file system keeps them). */
  def commitMarkers(dirs: Seq[Path]): Map[String, Long] = {
    val manifest = """[vc]\d{8}(-.*)?\.json""".r
    dirs.flatMap(walk).filter { p =>
      val n = p.getFileName.toString
      n == "_SUCCESS" || manifest.matches(n)
    }.map(p => p.toString ->
      Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS))
      .toMap
  }

  def changed(before: Map[String, Long], after: Map[String, Long]): Int =
    after.count { case (k, v) => !before.get(k).contains(v) }

  def bytesUnder(dirs: Seq[Path]): Long =
    dirs.flatMap(walk).map(p => Files.size(p)).sum

  def main(args: Array[String]): Unit = {
    val conf = readConf(args(0))
    def one(k: String) = conf(k).head
    def all(k: String) = conf.getOrElse(k, Nil)
    val traced = one("trace") == "1"
    val cpus = one("cpus")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val settings = all("spark").map { kv =>
      val i = kv.indexOf('=')
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap
    val spark = graft.EngineConf.tuned(SparkSession.builder()
        .master(s"local[$cpus]")
        .config(settings)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.local.dir", one("local_dir")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val recorder = if (traced) Some(new SparkRecorder) else None
    val streams = if (traced) Some(new StreamRecorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    streams.foreach(spark.streams.addListener)

    System.err.println(f"[pipebench] session ready ${(nowMs - jvmStartMs) / 1e3}%.3f s after JVM start")
    val registry = graft.SparkEntry.ops.map(o => o.name -> o).toMap
    val unknown = all("op").filterNot(registry.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[pipebench] ops not registered: ${unknown.mkString(" ")}")
      sys.exit(3)
    }
    val ops = all("op").map(registry)
    val storeRoot = one("store_root")
    val stores = () => storeDirs(storeRoot, one("store_pattern"))

    // set-up: what the workload itself needs before its first pass
    for (dir <- all("setup_dir"); op <- ops) {
      val s = nowMs
      val out = call(spark, op, dir)
      System.err.println(f"[pipebench] setup ${op.name} ${(nowMs - s) / 1e3}%.3f s" +
        out.left.toOption.fold("")(e => s" FAILED: $e"))
    }

    // timed phase
    val calls = mutable.ArrayBuffer.empty[Call]
    val lastOutput = mutable.Map.empty[String, Either[String, DataFrame]]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val load1Start = load1()
    val gc0 = gcMs()
    val compiles0 = codeCompiles()
    val steal0 = stealS()
    val cpu0 = cpuS()
    var sigs = storeSigs(stores())
    var markers = if (traced) commitMarkers(stores()) else Map.empty[String, Long]
    val t0 = nowMs
    for ((dir, p) <- all("pass_dir").zipWithIndex) {
      val ps = nowMs
      for (op <- ops) {
        val s = nowMs
        val out = call(spark, op, dir)
        calls += Call(p, op.name, family(op), s, nowMs, out.left.toOption)
        lastOutput(op.name) = out
      }
      val pe = nowMs
      System.err.println(f"[pipebench] pass $p ${(pe - ps) / 1e3}%.3f s, " +
        s"${codeCompiles()} generated classes compiled so far")
      val sigs2 = storeSigs(stores())
      val markers2 = if (traced) commitMarkers(stores()) else markers
      passes += Pass(ps, pe, changed(sigs, sigs2), changed(markers, markers2))
      sigs = sigs2
      markers = markers2
    }
    val t1 = nowMs
    val hwmKb = vmHwmKb()
    val gcS = (gcMs() - gc0) / 1e3
    val compiles = codeCompiles() - compiles0
    val load1End = load1()
    val stealTimed = stealS() - steal0
    val cpuTimed = cpuS() - cpu0
    val storedBytes = bytesUnder(stores())
    val storeBytes = bytesUnder(stores().filter(d =>
      Files.isRegularFile(d.resolve("_SRC_SIG"))))

    val layers = recorder.map { rec =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      layerMetrics(rec, streams.get, all("family"), calls.toSeq,
        passes.toSeq, t0, t1, storeBytes, gcS, compiles)
    }
    if (traced) writeSpans(one("spans"), one("workload"), t0, t1,
      passes.toSeq, calls.toSeq, recorder.get, streams.get)

    // output check material, outside the timed phase: the output of each
    // op's last timed call, written out. Building the op again instead
    // would run one more refresh of the incremental ops, whose output the
    // passes never produced. The writes are independent jobs, so they
    // run side by side, `cpus` at a time.
    val writers = java.util.concurrent.Executors.newFixedThreadPool(cpus.toInt)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(writers)
    val check = all("check_out").flatMap(out => ops.map { op =>
      op.name -> Future(lastOutput(op.name).flatMap { df =>
        try {
          df.write.mode("overwrite").parquet(s"$out/${op.name}")
          Right(())
        } catch { case t: Throwable => Left(firstLine(t)) }
      }.left.toOption)
    }).map { case (n, f) => n -> Await.result(f, Duration.Inf) }
    writers.shutdown()
    val oracles = ops.map(op => op.name -> op.oracle)

    val result = Map(
      "workload" -> one("workload"),
      "cpus" -> cpus.toInt,
      "setup_s" -> (t0 - jvmStartMs) / 1e3,
      "makespan_s" -> (t1 - t0) / 1e3,
      "vm_hwm_kb" -> hwmKb,
      "load1_start" -> load1Start,
      "load1_end" -> load1End,
      "steal_s" -> stealTimed,
      "cpu_s" -> cpuTimed,
      "stored_bytes" -> storedBytes,
      "passes" -> passes.map(p => Map("s" -> (p.end - p.start) / 1e3,
        "builds" -> p.builds, "commits" -> p.commits)),
      "calls" -> calls.map(c => Map("pass" -> c.pass, "op" -> c.op,
        "family" -> c.family, "s" -> (c.end - c.start) / 1e3,
        "error" -> c.error)),
      "check" -> check.map { case (n, e) => Map("op" -> n, "error" -> e) },
      "oracle" -> oracles.map { case (n, sql) => Map("op" -> n, "sql" -> sql) },
      "layers" -> layers.map(_.toMap),
    )
    Files.write(Paths.get(one("result")), Json.writeValueAsBytes(result))
    // everything the run reports is on disk; halting skips the seconds
    // that stopping the session and the running streams takes, and
    // `run.py` deletes the stores, checkpoints and local dirs after
    Runtime.getRuntime.halt(0)
  }

  /** Per-layer metrics of the timed phase [t0, t1] (traced run). */
  def layerMetrics(rec: SparkRecorder, streams: StreamRecorder,
      families: Seq[String], calls: Seq[Call], passes: Seq[Pass], t0: Double, t1: Double,
      storeBytes: Long, gcS: Double, compiles: Long): Seq[(String, Double)] = {
    val mb = 1e6
    def in(t: Double) = t >= t0 - 1 && t <= t1
    val tasks = rec.tasks.asScala.toSeq.filter(t => in(t.end.toDouble))
    val jobs = rec.jobs.asScala.toSeq.filter(j => in(j._2.toDouble))
    val batches = streams.batches.asScala.toSeq.filter(b => in(b._1.toDouble))
    // union of job-active intervals, clipped to the phase
    val busy = jobs.map { case (_, s, e) =>
      (math.max(s.toDouble, t0), math.min(e.toDouble, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0.0, t0)) { case ((acc, reach), (s, e)) =>
        if (e <= reach) (acc, reach)
        else (acc + e - math.max(s, reach), e)
      }._1
    val byFamily = families.map { f =>
      val fc = calls.filter(_.family == f)
      val nJobs = jobs.count(j => owner(calls, j._2.toDouble).exists(_.family == f))
      Seq(s"operators.$f.busy_s" -> fc.map(c => c.end - c.start).sum / 1e3,
        s"operators.$f.jobs" -> nJobs.toDouble)
    }.flatten
    Seq(
      "Tables.scan_mb" -> rec.driverMetric("size of files read", t0, t1) / mb,
      "Tables.files_read" ->
        rec.driverMetric("number of files read", t0, t1).toDouble,
      "PersistedStore.builds" -> passes.map(_.builds).sum.toDouble,
      "PersistedStore.bytes_mb" -> storeBytes / mb,
      "SessionCache.block_peak_mb" -> rec.blockPeak(t0, t1) / mb,
      "sources.write_mb" -> tasks.map(_.bytesWritten).sum / mb,
      "sources.commits" -> passes.map(_.commits).sum.toDouble,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.empty_batches" -> batches.count(_._2 == 0).toDouble,
      "streaming.trigger_s" -> batches.map(_._3).sum / 1e3,
      "streaming.commit_s" -> batches.map(_._4).sum / 1e3,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" ->
        rec.stageSubmits.asScala.count(t => in(t.toDouble)).toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.driver_gap_s" -> ((t1 - t0) - busy) / 1e3,
      "spark.task_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> tasks.map(_.spill).sum / mb,
      "spark.peak_exec_mem_mb" ->
        (0L +: tasks.map(_.peakMem)).max / mb,
      "spark.gc_s" -> gcS,
      "spark.codegen_compiles" -> compiles.toDouble,
    ) ++ byFamily
  }

  /** The op call whose span encloses time `t`: calls run one at a time,
    * so a job or batch belongs to the latest call started by `t`, if
    * that call had not yet ended. Spark stamps events in whole
    * milliseconds, hence the one-millisecond tolerance. */
  def owner(calls: Seq[Call], t: Double): Option[Call] =
    calls.takeWhile(_.start <= t + 1).lastOption.filter(_.end >= t - 1)

  def writeSpans(path: String, workload: String, t0: Double, t1: Double,
      passes: Seq[Pass], calls: Seq[Call], rec: SparkRecorder,
      streams: StreamRecorder): Unit = {
    val runId = java.util.UUID.randomUUID().toString
    val spans = mutable.ArrayBuffer(Span(0, -1, "workload", workload, t0, t1))
    val passIds = passes.zipWithIndex.map { case (p, i) =>
      spans += Span(spans.size, 0, "pass", s"pass-$i", p.start, p.end)
      spans.size - 1
    }
    val callIds = calls.map { c =>
      spans += Span(spans.size, passIds(c.pass), "op", c.op, c.start, c.end)
      c -> (spans.size - 1)
    }.toMap
    def parentAt(t: Double): Int = owner(calls, t).map(callIds)
      .orElse(passes.zip(passIds).collectFirst {
        case (p, id) if p.start <= t + 1 && p.end >= t - 1 => id
      }).getOrElse(0)
    rec.jobs.asScala.toSeq.sortBy(_._2)
      .filter(j => j._2 >= t0 - 1 && j._2 <= t1).foreach { case (id, s, e) =>
        spans += Span(spans.size, parentAt(s.toDouble), "job", s"job-$id",
          s.toDouble, e.toDouble)
      }
    streams.batches.asScala.toSeq.sortBy(_._1)
      .filter(b => b._1 >= t0 - 1 && b._1 <= t1).foreach { b =>
        spans += Span(spans.size, parentAt(b._1.toDouble), "batch", "batch",
          b._1.toDouble, (b._1 + b._3).toDouble)
      }
    val lines = spans.map(s => Json.writeValueAsString(Map("run" -> runId,
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end)))
    Files.write(Paths.get(path), lines.asJava)
  }
}
