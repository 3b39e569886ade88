package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the benchmark's tracer needs. They live in
  * Spark's package only because both members are package-private there;
  * nothing here changes Spark state. */
object Internals {

  /** Blocks until every listener event posted so far has been delivered. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Analysis + optimization + physical planning seconds of the execution
    * that just ended, from its planning tracker. */
  def planSeconds(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map { qe =>
      qe.tracker.phases.iterator
        .filter { case (phase, _) => phase != "parsing" }
        .map { case (_, s) => s.durationMs }.sum / 1e3
    }.getOrElse(0.0)
}
