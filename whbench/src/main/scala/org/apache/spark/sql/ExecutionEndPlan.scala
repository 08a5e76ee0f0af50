package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution a SQL execution-end event carries, keyed by the
  * execution id its jobs carry too; the field is private to Spark SQL. */
object ExecutionEndPlan {
  def apply(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
