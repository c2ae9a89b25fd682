package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** Spark 4 removed the public Column <-> catalyst Expression constructors
  * (Connect API unification); the supported internal path is
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is private[sql].
  * This bridge lives in a subpackage of org.apache.spark.sql purely to
  * re-export those conversions — plus the two classic-session hooks a
  * custom-operator library needs (Dataset.ofRows to wrap a hand-built
  * LogicalPlan, experimental.extraStrategies to register its planner
  * strategy) and the listener-bus drain a job-counting check needs — to the
  * graft package.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Idempotent strategy registration on the session's experimental hook. */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Idempotent optimizer-rule registration; remove re-enables the stock plan. */
  def addOptimization(spark: SparkSession, r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(r))
      cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ r
  }

  def removeOptimization(spark: SparkSession, r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.experimental.extraOptimizations = cs.experimental.extraOptimizations.filterNot(_ == r)
  }

  /** Block until every event posted so far reached every listener, so a
    * listener's counts are complete when the call returns. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
