package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so the
  * tracer's job and stage records are complete before they are read.
  */
object PerfbenchBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
