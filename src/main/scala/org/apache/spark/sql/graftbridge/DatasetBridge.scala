package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's private[sql] Dataset/plan conversions so the engine
  * can wrap custom logical operators (graft.plans.*) as ordinary
  * DataFrames; the analyzer resolves their expressions like any built-in
  * node. Companion to [[ColumnBridge]].
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
}
