package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-placed bridge to the `private[sql]`/`private[spark]` entry
  * points the engine and its dev tools need: wrapping a hand-built
  * resolved [[LogicalPlan]] back into a [[DataFrame]], building what a
  * [[SparkSessionExtensions]] injector declares, and draining the
  * listener bus. This is the standard device third-party Spark engines
  * (Delta Lake, Frameless, Sedona …) use for custom logical nodes;
  * everything else in this repo goes through the public API.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Whether `name` is in the session's function registry: a map
    * lookup, where `catalog.functionExists` parses the name and
    * analyzes a plan. */
  def hasFunction(spark: SparkSession, name: String): Boolean =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .functionExists(FunctionIdentifier(name))

  /** Blocks until every event posted so far has reached the listeners
    * (the `private[spark]` bus drain Spark's own listener tests use). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Applies `injector` to a fresh [[SparkSessionExtensions]] and hands
    * what it built to the live session: functions into its function
    * registry, optimizer rules into `experimental.extraOptimizations`,
    * planner strategies into `experimental.extraStrategies`. The caller
    * guards against a second application. */
  def inject(spark: SparkSession,
      injector: SparkSessionExtensions => Unit): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val e = new SparkSessionExtensions
    injector(e)
    e.registerFunctions(s.sessionState.functionRegistry)
    s.experimental.extraOptimizations ++= e.buildOptimizerRules(s)
    s.experimental.extraStrategies ++= e.buildPlannerStrategies(s)
  }
}
