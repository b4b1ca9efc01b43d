package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run waits for every queued event before it aggregates.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
