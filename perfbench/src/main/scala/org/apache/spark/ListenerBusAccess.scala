package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * listener counters read after a measured phase include all of it. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
