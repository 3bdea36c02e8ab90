package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge to the SQL execution-end fields `graft.Metrics` reads — `qe`,
  * `executionName`, `duration` and `executionFailure` are private[sql] in
  * Spark 4 — and to the listener bus's bounded drain. Lives under the
  * spark.sql package solely for access; contains no Spark code.
  */
object MetricsBridge {
  /** The finished query; null on events posted without one. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  /** The action's name (`count`, `collect`, `save`, …), when it has one. */
  def executionName(e: SparkListenerSQLExecutionEnd): Option[String] =
    e.executionName

  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration

  def failed(e: SparkListenerSQLExecutionEnd): Boolean =
    e.executionFailure.isDefined

  private val DrainTimeoutMs = 30000L

  /** Blocks until every event posted so far has been delivered to every
    * listener; throws TimeoutException after 30 s.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(DrainTimeoutMs)
}
