package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an SQL-execution-end event carries is
  * `private[sql]`; this accessor lives under that package so the
  * benchmark's listener can read the plan of exactly the execution that
  * ended.
  */
object SqlAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
