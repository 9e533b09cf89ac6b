package org.apache.spark

/** The scheduler's listener bus is package-private; [[graft.Profile]]
  * drains it so a phase's job/stage/task counts are complete before it
  * reads them (listener events are delivered asynchronously). */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
