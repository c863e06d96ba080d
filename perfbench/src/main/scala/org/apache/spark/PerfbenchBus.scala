package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private.
  * The traced run waits for the bus after every op so that each op's
  * listener counters are complete before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
