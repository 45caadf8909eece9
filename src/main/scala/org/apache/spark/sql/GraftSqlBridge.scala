package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` plan-construction API so graft
  * can materialize a DataFrame from a custom [[LogicalPlan]] node (the
  * standard technique Spark extension libraries use — there is no public
  * constructor for "DataFrame over my own logical node").
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
