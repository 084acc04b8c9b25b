package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced op's jobs, stages, tasks and query executions are all
  * recorded before the next op starts. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
