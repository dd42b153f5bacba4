package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Static factory for a DataFrame over a logical plan the caller already
  * holds: the package-private `Dataset.ofRows`. Actions on the result go
  * through the session's usual execution path, listeners included. */
object DataFrameFactory {

  /** A DataFrame over `plan`, which must already have been analyzed in
    * this session under its current conf, such as a prepared plan with
    * new `LocalRelation` rows. The plan is marked analyzed, so the
    * analyzer returns it as it is instead of running its rules again. */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }
}
