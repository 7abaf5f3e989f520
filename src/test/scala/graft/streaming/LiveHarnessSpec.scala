package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.operators.{GraphOps, Op, StreamingOps, TextOps, Windows}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The standing-query harness behind every registered streaming op
  * ([[EventStream]]'s `runLive`): a second build drains the live query
  * instead of restarting it, a stale same-named query is stopped before
  * a start, a restart releases the fold state of the dead query, and
  * the registry, the stale-name stop and the drain each live in one
  * place. */
class LiveHarnessSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def activeId(name: String): java.util.UUID = {
    val qName = EventStream.liveTable(name, sf001)
    spark.streams.active.find(_.name == qName)
      .getOrElse(fail(s"no active query $qName")).id
  }

  test("a second build drains the live query and still equals batch") {
    val cases = Seq[(Op, String, Op)](
      (StreamingOps.streamTumbling, "q_stream_tumbling_mem",
        Windows.tumblingWindow),
      (StreamingOps.streamBm25, "q_stream_bm25", TextOps.bm25),
      (StreamingOps.streamIncrCc, "q_stream_incr_cc", GraphOps.dupClusters))
    for ((op, name, batchOp) <- cases) {
      val cols = batchOp.build(spark, sf001).columns.toSeq
      val batch = rows(batchOp.build(spark, sf001))
      assert(batch.nonEmpty, op.name)
      val first = rows(op.build(spark, sf001).select(cols.head, cols.tail: _*))
      val id = activeId(name)
      val second = rows(op.build(spark, sf001).select(cols.head, cols.tail: _*))
      assert(activeId(name) === id, s"${op.name} restarted its query")
      assert(first === batch, op.name)
      assert(second === batch, op.name)
    }
  }

  test("a stale query under the live name is stopped, not collided with") {
    val s2 = spark.newSession()
    val qName = EventStream.liveTable("q_stream_tumbling_mem", sf001)
    import s2.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val stale = MemoryStream[Int].toDF().writeStream
      .format("memory").queryName(qName)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-stale-ckpt").toString)
      .start()
    try {
      val cols = Seq("window_start_us", "event_type", "n", "value_cents")
      val got = rows(StreamingOps.streamTumbling.build(s2, sf001)
        .select(cols.head, cols.tail: _*))
      assert(!stale.isActive, "the stale same-named query still runs")
      assert(got === rows(Windows.tumblingWindow.build(spark, sf001)
        .select(cols.head, cols.tail: _*)))
    } finally s2.streams.active.foreach(_.stop())
  }

  test("restarting a dead incr-CC query releases its fold's segments") {
    def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.id
      case p => fail(s"not a checkpointed frame: $p")
    }
    val op = StreamingOps.streamIncrCc
    val first = rows(op.build(spark, sf001))
    val key = EventStream.liveKey(spark, "q_stream_incr_cc", sf001)
    val st = EventStream.incrCcStates(key)
    val owned = (st.ownedSegs ++ Seq(st.labels).filter(_ => st.ownsLabels))
      .map(rddId)
    val persisted = () => spark.sparkContext.getPersistentRDDs.keySet
    assert(owned.nonEmpty && owned.forall(persisted().contains), owned)
    spark.streams.active
      .filter(_.name == EventStream.liveTable("q_stream_incr_cc", sf001))
      .foreach(_.stop())
    assert(rows(op.build(spark, sf001)) === first)
    assert(!(EventStream.incrCcStates(key) eq st), "the fold did not restart")
    val kept = owned.filter(persisted().contains)
    assert(kept.isEmpty, s"segments of the dead fold still cached: $kept")
  }

  /** `src/main/scala` above the forked JVM's working directory. */
  private lazy val mainRoot: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(
        _.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail(s"src/main/scala not found above ${sys.props("user.dir")}"))

  private lazy val mainSources: Map[String, String] =
    Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => mainRoot.relativize(p).toString -> Files.readString(p))
      .toMap

  private def occurrences(text: String, needle: String): Int =
    java.util.regex.Pattern.quote(needle).r.findAllMatchIn(text).size

  private def count(needle: String): Int =
    mainSources.values.map(occurrences(_, needle)).sum

  test("the registry, the stale-name stop and the drain live in one place") {
    val es = mainSources.getOrElse("graft/streaming/EventStream.scala",
      fail("EventStream.scala not found"))
    // the body of a def: up to the next member at the object's indent
    def body(decl: String): String = {
      val at = es.indexOf(decl)
      assert(at >= 0, s"$decl not found")
      val end = """\n  (?:/\*\*|private|def |val |lazy )""".r
        .findFirstMatchIn(es.substring(at + decl.length))
        .fold(es.length)(at + decl.length + _.start)
      es.substring(at, end)
    }
    val harness = body("private def runLive(") + body("private def runOnce(")
    def inHarness(needle: String): Int = occurrences(harness, needle)
    assert(count("liveQueries.get(") === 1)
    assert(inHarness("liveQueries.get(") === 1)
    assert(count("spark.streams.active") === 1)
    assert(inHarness("spark.streams.active") === 1)
    for (call <- Seq(".processAllAvailable()", "withStreamShuffle(spark)")) {
      assert(inHarness(call) === 2, call)
      assert(count(call) === 2, s"$call outside runLive and runOnce")
    }
  }
}
