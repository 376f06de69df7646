package org.apache.spark

/** Access to the listener bus, so the benchmark reads its listener's counters
  * only after every event of a finished action has been delivered.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
