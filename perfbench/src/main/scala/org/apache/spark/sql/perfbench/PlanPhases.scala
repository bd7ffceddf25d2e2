package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Catalyst phase time per SQL execution id. The execution-end event
  * carries the execution's `QueryExecution` only to `sql`-private code,
  * which is why this listener lives under `org.apache.spark.sql`.
  * `record(executionId, ms)` receives the summed analysis, optimization
  * and planning time. */
final class PlanPhases(record: (Long, Double) => Unit) extends SparkListener {
  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd if e.qe != null =>
      record(e.executionId, e.qe.tracker.phases.iterator
        .collect { case (k, v) if k != "parsing" => v.durationMs }.sum.toDouble)
    case _ =>
  }
}

object PlanPhases {
  /** Wait until every listener event posted so far has been handled
    * (the listener bus is `spark`-private). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000)
}
