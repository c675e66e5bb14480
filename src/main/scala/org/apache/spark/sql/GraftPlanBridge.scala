package org.apache.spark.sql

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` doorways the engine needs: constructing a
  * DataFrame from a custom [[LogicalPlan]] (`Dataset.ofRows` is
  * package-private), cloning a session and reaching the running
  * context's live conf. Standard practice for Spark plan extensions that
  * produce leaf nodes outside the SQL parser path.
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

  /** The running SparkContext's own conf (not `getConf`'s copy): a key set
    * on it before the first session's shared state exists is that
    * session's default, static SQL confs included. None before any
    * context starts. */
  def activeContextConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)
}
