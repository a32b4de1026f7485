package org.apache.spark

/** The listener bus is private to Spark; the harness waits on it so a
  * pass's trace is complete before it is read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
