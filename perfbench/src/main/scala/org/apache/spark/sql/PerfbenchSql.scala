package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The SQL-execution end event carries the `QueryExecution` a
  * `QueryExecutionListener` would receive, together with the execution id
  * that the listener lacks and that jobs are tagged with. Both fields are
  * package-private to Spark SQL, hence this file's package. */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)

  def name(e: SparkListenerSQLExecutionEnd): String =
    e.executionName.getOrElse("")
}
