package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the trace reads, both package-private to Spark
  * (hence this package): waiting for the listener bus to drain, and the
  * planning tracker that an execution-end event carries. */
object Bus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** (analysis, optimization, planning) milliseconds of the execution. */
  def phasesMs(e: SparkListenerSQLExecutionEnd): (Long, Long, Long) =
    Option(e.qe).map { qe =>
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      (ms(QueryPlanningTracker.ANALYSIS), ms(QueryPlanningTracker.OPTIMIZATION),
        ms(QueryPlanningTracker.PLANNING))
    }.getOrElse((0L, 0L, 0L))
}
