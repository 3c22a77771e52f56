package org.apache.spark

/** The benchmark's one crossing into `private[spark]` surface: block until
  * every queued listener event has been delivered, so per-op counters read
  * after an op cover all of that op's jobs, tasks and query executions.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
