package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** The one sanctioned crossing into Spark's `private[sql]` surface:
  * materializing a DataFrame from a custom [[LogicalPlan]] node
  * (`Dataset.ofRows` has no public equivalent). Every third-party
  * Spark operator library ships exactly this shim; keeping it in a
  * single two-line object makes the private-API dependency auditable.
  */
object PlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** Column over a custom Expression (`ExpressionUtils.column` is
    * `private[sql]` — same auditable-crossing rationale as `ofRows`).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The persisted RDDs under a `localCheckpoint(true)`'d frame
    * (LogicalRDD leaves). `graft.queries.FamilyCaches` records these as
    * the RDDs an artifact owns: the per-query sweep spares them, and
    * clearing the artifact unpersists them.
    */
  def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
}
