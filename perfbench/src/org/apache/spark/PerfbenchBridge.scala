package org.apache.spark

/** The one engine internal the benchmark needs: wait until the listener
  * bus has delivered every queued event, so the benchmark's listeners have
  * seen all jobs of the measured window before it reads their counters. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
