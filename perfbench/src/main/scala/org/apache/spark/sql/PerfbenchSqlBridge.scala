package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reaches the `private[sql]` query execution carried by an execution-end
  * event: its planning tracker holds the analysis, optimization and
  * physical-planning phase times of that execution. */
object PerfbenchSqlBridge {
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
      .getOrElse(0L)
}
