package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Spark 4 keeps `Dataset.ofRows` private[sql]; custom logical plans (the
  * §4.3 tier-(c) extension point — [[graft.plans.GraftAsOfJoin]]) need it
  * to surface as a DataFrame. Same minimal-shim policy as
  * [[ColumnBridge]]: one conversion re-exported, no other internals. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
