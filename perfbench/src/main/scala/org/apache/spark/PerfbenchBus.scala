package org.apache.spark

/** Package-placement bridge to the `private[spark]` listener bus, so a
  * traced run can wait for its listeners to see every event. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
