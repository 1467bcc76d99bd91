package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the traced run reads, which are package-private to
  * Spark: the listener bus's drain, so every event is counted before the
  * metrics are read, and the query execution an execution-end event
  * carries, whose planning tracker times the program's own planning. */
object SparkInternals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
