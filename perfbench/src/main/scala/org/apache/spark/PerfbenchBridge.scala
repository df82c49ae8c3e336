package org.apache.spark

/** Reaches the one listener-bus call the benchmark needs: before it
  * reads its own SparkListener's totals, every queued event must have
  * been delivered. */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
