package org.apache.spark.sql.execution

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private Spark accessors the harness needs, hence this
  * package: draining the listener bus so a traced run's listener data
  * is complete before it is summarised, and the QueryExecution id a SQL
  * execution ran (execution ids and QueryExecution ids are separate
  * counters, and only this event carries both). */
object SparkInternals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
