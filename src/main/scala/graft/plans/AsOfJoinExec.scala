package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Physical as-of join: a single forward merge over co-partitioned,
  * key+time-sorted inputs.
  *
  * `requiredChildDistribution` asks EnsureRequirements to hash-cluster
  * both sides on the join keys (exactly what a shuffled equi-join
  * declares, so pre-partitioned or bucketed inputs satisfy it with NO
  * added exchange), and `requiredChildOrdering` asks for an
  * in-partition sort by (keys, time[, tie-break]). What remains per
  * partition is O(|probe| + |state|): walk both sorted streams once,
  * remembering the latest eligible state row per key. Contrast the two
  * expressible-in-SQL shapes — the inequality join (quadratic in
  * state-rows-per-key) and the union + window carry-forward twin
  * ([[graft.operators.AsOf.asofJoin]], which pays a wider unioned sort
  * and a window pass). At 100 TB all three shuffle the same bytes; this
  * exec does the least work after the shuffle and never materializes a
  * window frame.
  *
  * The merge never holds more than ONE buffered state row (the current
  * best match, copied because shuffle readers reuse row buffers) — no
  * per-key group buffering, so a key with a billion state rows streams
  * through in constant memory.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: rightTieBreak)).map(SortOrder(_, Ascending)))

  // probe order is preserved; downstream per-key consumers reuse the sort
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "matched probe rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val leftOutput = left.output
    val rightOutput = right.output
    val lKeys = leftKeys; val rKeys = rightKeys
    val lTime = leftTime; val rTime = rightTime
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (probeIter, stateIter) =>
      val probeKeyProj = UnsafeProjection.create(lKeys, leftOutput)
      val probeTimeProj = UnsafeProjection.create(Seq(lTime), leftOutput)
      val stateKeyProj = UnsafeProjection.create(rKeys, rightOutput)
      val stateTimeProj = UnsafeProjection.create(Seq(rTime), rightOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val joined = new JoinedRow
      val nullState = new GenericInternalRow(rightOutput.size)
      val resultProj = UnsafeProjection.create(outAttrs, leftOutput ++ rightOutput)

      // one-row state lookahead; key/time projections are refreshed on load
      var sRow: InternalRow = null
      var sKey: UnsafeRow = null
      var sTime: UnsafeRow = null
      def loadState(): Unit =
        if (stateIter.hasNext) {
          sRow = stateIter.next()
          sKey = stateKeyProj(sRow)
          sTime = stateTimeProj(sRow)
        } else sRow = null
      loadState()

      // best eligible state row for the probe key in hand (owned copies:
      // both the shuffle reader and the projections reuse buffers)
      var matched: UnsafeRow = null
      var matchedKey: UnsafeRow = null

      if (forward) probeIter.map { p =>
        // forward merge holds NO buffered row at all: state is sorted
        // (key, time, tie) asc and probe times ascend per key, so the
        // first not-yet-skipped state row at (key == pk, time >= pt) is
        // the match — and it is NOT consumed, because it may also be
        // the closest-after row for later probes of the same key.
        val pk = probeKeyProj(p)
        val pt = probeTimeProj(p)
        var done = sRow == null
        while (!done) {
          val c = keyOrd.compare(sKey, pk)
          if (c < 0 || (c == 0 && timeOrd.compare(sTime, pt) < 0)) loadState()
          else done = true
          if (sRow == null) done = true
        }
        numOutputRows += 1
        if (sRow != null && keyOrd.compare(sKey, pk) == 0) {
          numMatched += 1
          resultProj(joined(p, sRow))
        } else resultProj(joined(p, nullState))
      }
      else probeIter.map { p =>
        val pk = probeKeyProj(p)
        val pt = probeTimeProj(p)
        if (matched != null && keyOrd.compare(matchedKey, pk) != 0) {
          matched = null; matchedKey = null
        }
        var done = sRow == null
        while (!done) {
          val c = keyOrd.compare(sKey, pk)
          if (c < 0) loadState()                       // key exhausted below probe
          else if (c == 0 && timeOrd.compare(sTime, pt) <= 0) {
            matched = sRow.asInstanceOf[UnsafeRow].copy() // later rows beat earlier: sort ends (time, tie) asc
            if (matchedKey == null) matchedKey = pk.copy()
            loadState()
          } else done = true
          if (sRow == null) done = true
        }
        numOutputRows += 1
        if (matched != null) {
          numMatched += 1
          resultProj(joined(p, matched))
        } else resultProj(joined(p, nullState))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy for [[AsOfJoinPlan]] — installed session-wide by
  * [[graft.GraftExtensions]] (`injectPlannerStrategy`).
  */
object GraftAsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case a: AsOfJoinPlan =>
      AsOfJoinExec(a.leftKeys, a.rightKeys, a.leftTime, a.rightTime,
        a.rightTieBreak, a.forward, planLater(a.left), planLater(a.right)) :: Nil
    case _ => Nil
  }
}
