package org.apache.spark

/** The driver's listener bus is package-private; specs that count
  * listener events drain it through here before reading their counts. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
