package org.apache.spark.sql

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The final physical plan of a finished SQL execution, keyed by the
  * execution id its jobs carry. The end event's query execution is
  * `private[sql]`, hence this bridge in Spark's SQL package.
  */
object PerfbenchPlans {
  def finished(e: SparkListenerEvent): Option[(Long, SparkPlan)] = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      Some(end.executionId -> end.qe.executedPlan)
    case _ => None
  }
}
