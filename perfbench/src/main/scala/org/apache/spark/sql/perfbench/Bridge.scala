package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the engine internals the benchmark's probe reads from
  * outside the library: the listener bus (so spans' counters are
  * complete when they are written out) and the query execution of a
  * finished SQL execution.
  */
object Bridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's QueryExecution, set on the event in-process. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
