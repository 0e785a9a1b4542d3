package org.apache.spark

/** Test hook: the listeners registered on a context's bus (the bus is
  * private to the `org.apache.spark` package). */
object ListenerCount {
  def of(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
