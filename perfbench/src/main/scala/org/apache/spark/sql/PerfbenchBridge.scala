package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark members the benchmark reads. */
object PerfbenchBridge {

  /** Block until the listener bus has delivered every posted event, so
    * span attribution is read after all of it has arrived.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The execution an end event reports, and whether it succeeded. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[(QueryExecution, Boolean)] =
    Option(e.qe).map(_ -> e.executionFailure.isEmpty)
}
