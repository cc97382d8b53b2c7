package org.apache.spark.sql.perfbenchbridge

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the planning tracker of a finished SQL execution: (analysis,
  * optimization, planning) milliseconds, keyed by the execution id that
  * the execution's jobs carry. */
object SqlEnd {
  def phases(e: SparkListenerSQLExecutionEnd): Option[(Long, Long, Long)] =
    Option(e.qe).map { qe =>
      val p = qe.tracker.phases
      def d(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      (d("analysis"), d("optimization"), d("planning"))
    }
}
