package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** LogicalPlan → DataFrame bridge for graft code that rewrites an
  * analyzed plan (e.g. rebinding a prepared plan's leaf to a new relation,
  * [[graft.infer.PreparedBatch]]). Lives in an `org.apache.spark.sql`
  * subpackage solely to reach the `private[sql]` `Dataset.ofRows`, like
  * [[ColumnBridge]].
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
