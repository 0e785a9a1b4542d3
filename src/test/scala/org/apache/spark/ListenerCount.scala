package org.apache.spark

/** Test hooks on a context's listener bus (the bus is private to the
  * `org.apache.spark` package). */
object ListenerCount {
  def of(sc: SparkContext): Int = sc.listenerBus.listeners.size

  /** Block until every event posted so far has reached the listeners. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
