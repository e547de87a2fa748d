package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the
  * traced run drains it after every operation so that each job's events
  * are recorded before the next operation starts. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
