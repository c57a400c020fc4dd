package org.apache.spark

/** The one engine internal the benchmark needs: listener events are
  * delivered asynchronously, so before reading a listener's counters the
  * benchmark waits until the bus has delivered every event posted so far. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
