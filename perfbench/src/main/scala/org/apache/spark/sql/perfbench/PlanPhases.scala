package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Catalyst phase times (`QueryPlanningTracker`: analysis, optimization,
  * planning, in ms) of the query behind a finished SQL execution. Lives
  * in an `org.apache.spark.sql` package only to reach the event's query
  * execution. */
object PlanPhases {
  def apply(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).fold(Map.empty[String, Long])(
      _.tracker.phases.map { case (k, p) => k -> p.durationMs })
}
