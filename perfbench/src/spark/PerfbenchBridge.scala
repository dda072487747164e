package org.apache.spark

/** Access to the listener bus, which is private to Spark: a traced run
  * waits for every posted event before it reads its listener's totals.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
