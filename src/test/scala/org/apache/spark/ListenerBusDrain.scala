package org.apache.spark

/** Listener events are delivered asynchronously; tests drain the bus
  * before they read the status tracker, which the listeners feed.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Tasks still running in any stage the status store holds, finished
    * stages included: a killed task can outlive its failed stage.
    */
  def activeTasks(sc: SparkContext): Int =
    sc.statusStore.stageList(null).map(_.numActiveTasks).sum
}
