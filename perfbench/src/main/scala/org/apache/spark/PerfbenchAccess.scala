package org.apache.spark

/** The benchmark's one reach into `private[spark]` API: block until the
  * listener bus has delivered every event posted so far, so a span's
  * counters are complete when it closes.
  */
object PerfbenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
