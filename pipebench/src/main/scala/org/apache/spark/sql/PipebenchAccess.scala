package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private Spark handles the benchmark's tracing needs: the
  * scheduler's listener bus, to drain it before reading its own records,
  * and the query a finished SQL execution ran, which the end event carries
  * for every session (streaming micro-batches run on a cloned session that
  * listeners registered on the caller's session never see). */
object PipebenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    if (e.executionFailure.exists(_ != null)) None else Option(e.qe)
}
