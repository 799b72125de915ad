package org.apache.spark.sql.kgbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer reads. */
object SparkInternals {
  /** The listener bus is asynchronous; the tracer waits for it to deliver
    * every event of a pass before it reads its counters. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The executed query of a finished SQL execution, with its duration in ns:
    * the link from a job's `spark.sql.execution.id` to the plan's SQL metrics. */
  def finishedQuery(e: SparkListenerSQLExecutionEnd): Option[(QueryExecution, Long)] =
    Option(e.qe).map(q => (q, e.duration))
}
