package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Test access to the `private[sql]` query execution an execution-end
  * event carries (what Spark's own QueryExecutionListener bus reads). */
object GraftTestBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
