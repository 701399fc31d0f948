package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an end-of-execution event carries (the one
  * QueryExecutionListener callbacks receive), keyed by its execution
  * id. The field is package-private to Spark SQL, hence this bridge. */
object ExecutionEnd {
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
