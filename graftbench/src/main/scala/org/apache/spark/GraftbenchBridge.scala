package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's per-op accounting is complete before it is read. */
object GraftbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
