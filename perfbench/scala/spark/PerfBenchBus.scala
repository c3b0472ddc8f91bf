package org.apache.spark

/** Listener-bus drain for the benchmark's traced passes. Listener events
  * are delivered asynchronously; a pass's counters are only complete once
  * every event posted during it has reached the listeners. The bus is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
