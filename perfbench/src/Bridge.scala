package org.apache.spark

/** The one engine-internal call the benchmark makes: wait until the
  * listener bus has delivered every posted event, so the collectors
  * are complete before a report reads them. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
