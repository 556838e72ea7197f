package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two private Spark hooks the benchmark needs. Lives in Spark's SQL
  * package because `SparkContext.listenerBus` is `private[spark]` and a SQL
  * execution's duration is `private[sql]`. */
object PerfbenchBus {
  /** Block until every listener event posted so far has been delivered, so
    * a span's job, stage and task counts are complete when the span closes. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Wall time of a SQL execution in ms, from before its physical planning
    * to after its last job (and, for a write, its commit). */
  def durationMs(e: SparkListenerSQLExecutionEnd): Double = e.duration / 1e6
}
