package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * per-step listener counts are complete before the next step starts.
  * Lives in this package only because the bus is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
