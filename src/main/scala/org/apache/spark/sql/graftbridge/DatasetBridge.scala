package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Spark 4 keeps `Dataset.ofRows` private[sql]; custom logical plans (the
  * §4.3 tier-(c) extension point — [[graft.plans.GraftAsOfJoin]]) need it
  * to surface as a DataFrame. Same minimal-shim policy as
  * [[ColumnBridge]]: one conversion re-exported, no other internals. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** An `RDD[InternalRow]` already in `schema`'s layout as a DataFrame
    * (`classic.SparkSession.internalCreateDataFrame`): no per-row
    * conversion, so an RDD-level operator (the upsert sink's keyed
    * merge) can hand its rows straight to a DataFrame writer. */
  def ofInternalRows(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
