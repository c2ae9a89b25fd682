package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.StructType

/** Spark 4 removed the public Column <-> catalyst Expression constructors
  * (Connect API unification); the supported internal path is
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is private[sql].
  * This bridge lives in a subpackage of org.apache.spark.sql purely to
  * re-export those conversions — plus the two classic-session hooks a
  * custom-operator library needs (Dataset.ofRows to wrap a hand-built
  * LogicalPlan, experimental.extraStrategies to register its planner
  * strategy), the listener-bus drain a job-counting check needs, and Spark's
  * parquet writer for a file written from the driver — to the graft package.
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

  /** Write each `(path, rows)` of `files` as ONE parquet file
    * `<path><ext>` (rows in `schema`, `ext` the writer's own:
    * `.snappy.parquet` under the default codec), from the calling thread:
    * `ParquetFileFormat.prepareWrite` → `OutputWriterFactory.newInstance` →
    * `OutputWriter.write`, under the session's write conf — the file one
    * task of a Spark write of these rows, in this order, would produce,
    * with no job and no committer. The caller owns placement and the
    * commit. */
  def writeParquet(spark: SparkSession, schema: StructType,
                   files: Iterable[(String, Seq[Row])]): Unit = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    files.foreach { case (path, rows) =>
      val w = factory.newInstance(path + factory.getFileExtension(ctx), schema, ctx)
      try rows.foreach(r => w.write(toInternal(r).asInstanceOf[InternalRow]))
      finally w.close()
    }
  }
}
