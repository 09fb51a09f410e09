package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to two internals the benchmark reads from outside the engine:
  * the listener bus (`private[spark]`), waited on so that every event of a
  * finished action has reached the benchmark's listeners without sleeping,
  * and the planning tracker of a finished SQL execution (`private[sql]`).
  * This object lives under `org.apache.spark.sql` only for that access. */
object Shim {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (phase, start ms, end ms) of the analysis, optimization and planning
    * of the execution's query. */
  def phases(e: SparkListenerSQLExecutionEnd): Seq[(String, Long, Long)] =
    Option(e.qe).toSeq.flatMap(_.tracker.phases.toSeq.map { case (k, p) =>
      (k, p.startTimeMs, p.endTimeMs)
    })
}
