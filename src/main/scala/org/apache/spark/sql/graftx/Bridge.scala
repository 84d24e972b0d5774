package org.apache.spark.sql.graftx

import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.status.api.v1.{JobData, StageData, TaskData, TaskSorting, TaskStatus}

/** Minimal bridge into `private[spark]` Spark 4 internals: converting between
  * the public `Column` and Catalyst `Expression` for our native functions,
  * and reading Spark's own status store. Lives under `org.apache.spark.sql`
  * for access; nothing else in the codebase touches Spark internals directly.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Apply an extensions object's injected functions onto an existing
    * registry (used to test GraftExtensions against a live session without
    * tearing down the shared SparkContext). */
  def registerInjectedFunctions(ext: SparkSessionExtensions,
      reg: FunctionRegistry): Unit = {
    ext.registerFunctions(reg)
    ()
  }

  /** The RDD under a checkpointed frame (one `LogicalRDD`): unpersisting
    * it frees the blocks, which `Dataset.unpersist` does not. */
  def checkpointRdd(df: DataFrame): RDD[_] =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  /** Block until every listener has seen every event posted so far, so the
    * status store below is complete up to this point. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  // The status store is what `AppStatusListener` (registered by every
  // SparkContext, UI or not) keeps per job, stage attempt and task.
  def jobs(sc: SparkContext): Seq[JobData] = sc.statusStore.jobsList(null)
  def stages(sc: SparkContext): Seq[StageData] = sc.statusStore.stageList(null)
  def successfulTasks(sc: SparkContext, stage: StageData): Seq[TaskData] =
    sc.statusStore.taskList(stage.stageId, stage.attemptId, 0, Int.MaxValue,
      TaskSorting.ID, List(TaskStatus.SUCCESS).asJava)
}
