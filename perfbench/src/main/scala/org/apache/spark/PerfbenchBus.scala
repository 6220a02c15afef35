package org.apache.spark

/** The one hook the traced run needs below Spark's public API: block
  * until the listener bus has delivered every queued event, so the
  * events an op caused are booked to that op. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
