package org.apache.spark.sql

import org.apache.spark.sql.util.QueryExecutionListener

/** Test-only view of a session's registered query-execution listeners
  * (`listListeners` is package-private). */
object GraftTestSession {
  def listeners(s: SparkSession): Seq[QueryExecutionListener] =
    s.asInstanceOf[classic.SparkSession].listenerManager.listListeners().toSeq
}
