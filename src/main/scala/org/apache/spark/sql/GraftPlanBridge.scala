package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` doorways the engine needs: constructing a
  * DataFrame from a custom [[LogicalPlan]] (`Dataset.ofRows` is
  * package-private) and cloning a session. Standard practice for Spark
  * plan extensions that produce leaf nodes outside the SQL parser path.
  */
object GraftPlanBridge {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s plan as a DataFrame of `s`, planned under `s`'s SQLConf. */
  def rebind(df: DataFrame, s: SparkSession): DataFrame =
    ofRows(s, df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** A session sharing `s`'s state and cache, starting from a copy of its
    * SQLConf, functions and listeners; nothing set on it reaches `s`. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
}
