package org.apache.spark

/** The listener bus is package-private; the harness needs it drained
  * before it reads the job spans its listener recorded. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
