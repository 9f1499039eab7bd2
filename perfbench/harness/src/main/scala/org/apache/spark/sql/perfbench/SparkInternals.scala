package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Lives under `org.apache.spark.sql` only to reach two members Spark
  * keeps package-private: the listener bus (the traced run reads
  * listener state after every event of an operation is delivered) and
  * the query execution an SQL-execution-end event carries (its plan
  * holds the scan and write metrics under that execution's id). */
object SparkInternals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
