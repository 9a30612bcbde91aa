package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A [[DataFrame]] over an already-analyzed logical plan — `Dataset.ofRows`,
  * which Spark keeps private to `org.apache.spark.sql`. A plan that still
  * carries its analyzed mark (`LogicalPlan.clone` keeps it) is not analyzed
  * again; optimization, planning and execution run afresh. */
object PlanFrames {
  def of(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
