package org.apache.spark

/** Listener-bus drain for the traced run: task-end events are delivered
  * asynchronously, so per-layer sums are read only after the bus is
  * empty. Lives in this package because the bus is spark-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
