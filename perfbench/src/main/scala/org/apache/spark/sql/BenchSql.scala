package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution and duration an SQL-execution-end event carries
  * in-process (`private[sql]`). Read from the listener bus, these cover
  * every session, including the cloned one a streaming query runs in,
  * which a session's QueryExecutionListener does not see.
  */
object BenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration
  def failed(e: SparkListenerSQLExecutionEnd): Boolean = e.executionFailure.isDefined
}
