package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge from custom Catalyst [[Expression]]s to the public [[Column]] API.
  * Spark 4 wraps classic expressions behind ColumnNode; the converter lives
  * in `org.apache.spark.sql.classic` with private[sql] access, so this shim
  * sits inside the org.apache.spark.sql package — the standard pattern for
  * Spark-native extensions.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c IN values` as one InSet: the planner sees one expression, not
    * one literal per value (`isInCollection`'s In list costs analysis
    * and optimizer time linear in the values on every rule pass). The
    * values must already be of `c`'s type. */
  def inSet(c: Column, values: Set[Any]): Column =
    column(org.apache.spark.sql.catalyst.expressions.InSet(expression(c), values))

  /** Build a DataFrame from a custom LogicalPlan node. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed-logical-plan accessor for plugging a DataFrame under a custom node. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.logical

  /** The truly-executed physical plan: unwraps AdaptiveSparkPlanExec (whose
    * runtime-final plan is private[sql]) so post-execution metrics like
    * numOutputRows are reachable — used by the query-execution log. */
  def finalPlan(qe: org.apache.spark.sql.execution.QueryExecution): org.apache.spark.sql.execution.SparkPlan =
    qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Waits until Spark's asynchronous listener bus has delivered every
    * event posted so far (the drain is package-private to Spark). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The job tags a job ran under, from its start event's properties. */
  def jobTags(props: java.util.Properties): Set[String] =
    Option(props).flatMap(p => Option(p.getProperty(org.apache.spark.SparkContext.SPARK_JOB_TAGS)))
      .fold(Set.empty[String])(_.split(org.apache.spark.SparkContext.SPARK_JOB_TAGS_SEP).toSet)

  /** Number of files the plan's file scans will actually open, AFTER
    * planning-time partition pruning (selectedPartitions is the
    * partition-filtered listing; `DataFrame.inputFiles` ignores filters and
    * lists the whole relation — useless for auditing pruning). */
  def scannedFileCount(df: org.apache.spark.sql.DataFrame): Long =
    finalPlan(df.queryExecution).collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }.sum
}
