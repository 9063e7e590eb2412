package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL execution-end event carries is
  * package-private; the benchmark reads its planning phases from here. */
object ExecutionEndAccess {
  /** Analysis, optimization and planning time of the execution, in ms. */
  def catalystMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map { qe =>
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    }.getOrElse(0L)
}
