package org.apache.spark.sql.classic

import org.apache.spark.sql.{DataFrame, SparkSession => ApiSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Test bridge into the sql-package-private `Dataset.ofRows`: a DataFrame
  * over an already-analyzed sub-plan, so a spec can evaluate expressions
  * against exactly the rows one node of a larger plan consumes.
  */
object GraftPlanFrames {
  def frame(spark: ApiSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
}
