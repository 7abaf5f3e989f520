package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.{AsciiLower, CellTopK, LongArrayDot, PackedBagDistance, PackedLetterBag, RandProjExpr, StringRollingHash, TopKAgg, UriEncode}

/** Engine extension point: the native functions, optimizer rules and
  * planner strategy every operator plans with. Two ways in, one set of
  * kernels:
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * at session build, or [[GraftExtensions.install]] on a live session,
  * which every registered op calls before it builds. The functions are
  * callable from BOTH the DataFrame API
  * (`call_function("graft_dot", a, b)`) and plain SQL. Operators call
  * them unconditionally: there is no second, extension-free plan. The
  * engine's ASCII casefold is one of them: it calls
  * `graft_ascii_lower` directly; no rule rewrites a `translate`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // optimizer tier: runs in the user-provided batch after pushdown
    e.injectOptimizerRule(_ => graft.plans.ThresholdLevenshtein)
    // planner tier: whole-operator strategy for the native as-of join
    e.injectPlannerStrategy(_ => graft.plans.GraftAsOfStrategy)
    // exact-arity builders: surplus arguments must be an analysis error,
    // never silently dropped (graft_fingerprint(a, b) returning the
    // fingerprint of `a` alone would be a plausible-looking wrong answer)
    def arity(name: String, n: Int, children: Seq[Expression]): Unit =
      if (children.size != n) throw new IllegalArgumentException(
        s"$name expects exactly $n argument(s), got ${children.size}")
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[LongArrayDot].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        arity("graft_dot", 2, children)
        LongArrayDot(children(0), children(1))
      }))
    e.injectFunction((
      FunctionIdentifier("graft_letter_bag"),
      new ExpressionInfo(classOf[PackedLetterBag].getName, "graft_letter_bag"),
      (children: Seq[Expression]) => {
        arity("graft_letter_bag", 1, children)
        PackedLetterBag(children.head)
      }))
    e.injectFunction((
      FunctionIdentifier("graft_bag_dist"),
      new ExpressionInfo(classOf[PackedBagDistance].getName, "graft_bag_dist"),
      (children: Seq[Expression]) => {
        arity("graft_bag_dist", 2, children)
        PackedBagDistance(children(0), children(1))
      }))
    e.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "graft_topk"),
      (children: Seq[Expression]) => {
        arity("graft_topk", 2, children)
        val k = children(1) match {
          case e if e.foldable && e.dataType ==
            org.apache.spark.sql.types.IntegerType =>
            val v = e.eval(null)
            if (v == null) throw new IllegalArgumentException(
              "graft_topk: k must not be null")
            v.asInstanceOf[Int]
          case _ => throw new IllegalArgumentException(
            "graft_topk: k must be a literal INT")
        }
        TopKAgg(children.head, k)
      }))
    e.injectFunction((
      FunctionIdentifier("graft_cell_topk"),
      new ExpressionInfo(classOf[CellTopK].getName, "graft_cell_topk"),
      (children: Seq[Expression]) => {
        arity("graft_cell_topk", 4, children)
        def lit[T](i: Int, t: org.apache.spark.sql.types.DataType,
            what: String): T = children(i) match {
          case c if c.foldable && c.dataType == t =>
            val v = c.eval(null)
            if (v == null) throw new IllegalArgumentException(
              s"graft_cell_topk: $what must not be null")
            v.asInstanceOf[T]
          case _ => throw new IllegalArgumentException(
            s"graft_cell_topk: $what must be a literal " +
              t.simpleString)
        }
        CellTopK(children(0), children(1),
          lit[Int](2, org.apache.spark.sql.types.IntegerType, "k"),
          lit[Boolean](3, org.apache.spark.sql.types.BooleanType,
            "byLabel"))
      }))
    e.injectFunction((
      FunctionIdentifier("graft_vecsum"),
      new ExpressionInfo(classOf[graft.expressions.VecSumAgg].getName,
        "graft_vecsum"),
      (children: Seq[Expression]) => {
        arity("graft_vecsum", 1, children)
        graft.expressions.VecSumAgg(children.head)
      }))
    e.injectFunction((
      FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[StringRollingHash].getName, "graft_fingerprint"),
      (children: Seq[Expression]) => {
        arity("graft_fingerprint", 1, children)
        StringRollingHash(children.head)
      }))
    e.injectFunction((
      FunctionIdentifier("graft_ascii_lower"),
      new ExpressionInfo(classOf[AsciiLower].getName, "graft_ascii_lower"),
      (children: Seq[Expression]) => {
        arity("graft_ascii_lower", 1, children)
        AsciiLower(children.head)
      }))
    e.injectFunction((
      FunctionIdentifier("graft_uri_encode"),
      new ExpressionInfo(classOf[UriEncode].getName, "graft_uri_encode"),
      (children: Seq[Expression]) => {
        arity("graft_uri_encode", 1, children)
        UriEncode(children.head)
      }))
    e.injectFunction((
      FunctionIdentifier("graft_randproj"),
      new ExpressionInfo(classOf[RandProjExpr].getName, "graft_randproj"),
      (children: Seq[Expression]) => {
        arity("graft_randproj", 2, children)
        val k = children(1) match {
          case c if c.foldable && c.dataType ==
            org.apache.spark.sql.types.IntegerType =>
            val v = c.eval(null)
            if (v == null) throw new IllegalArgumentException(
              "graft_randproj: k must not be null")
            v.asInstanceOf[Int]
          case _ => throw new IllegalArgumentException(
            "graft_randproj: k must be a literal INT")
        }
        RandProjExpr(children.head, k)
      }))
  }
}

object GraftExtensions {

  /** Installs [[GraftExtensions]] on a live session: the same injector
    * is applied to a fresh `SparkSessionExtensions`, and what it builds
    * goes into the session's function registry and its
    * `experimental` optimizer rules and planner strategies. A no-op
    * once `graft_topk` is in the session's function registry, which
    * covers a session built with `spark.sql.extensions` and a second
    * call alike, so the rules are never appended twice. Streams
    * started afterwards clone the registry and the experimental
    * methods with the session. */
  def install(spark: SparkSession): Unit = spark.synchronized {
    if (!GraftSqlBridge.hasFunction(spark, "graft_topk"))
      GraftSqlBridge.inject(spark, new GraftExtensions)
  }
}
