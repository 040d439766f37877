package org.apache.spark

/** Listener events are delivered asynchronously; tests drain the bus
  * before they read the status tracker, which the listeners feed.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
