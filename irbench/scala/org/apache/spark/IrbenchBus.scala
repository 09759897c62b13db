package org.apache.spark

/** The listener bus is package-private; waiting for it to drain is what
  * makes the counters complete before they are written.
  */
object IrbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
