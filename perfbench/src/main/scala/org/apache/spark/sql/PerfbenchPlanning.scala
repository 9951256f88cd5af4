package org.apache.spark.sql

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query an SQL execution ran is private to Spark's SQL package; the
  * traced run reads its optimisation and physical planning time from it. */
object PerfbenchPlanning {
  /** Milliseconds the execution's query spent in optimisation and
    * physical planning, when the event carries its query. */
  def planMs(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map { qe =>
      val phases = qe.tracker.phases
      Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum
    }
}
