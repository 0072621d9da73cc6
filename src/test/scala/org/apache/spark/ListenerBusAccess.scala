package org.apache.spark

/** Test access to the `private[spark]` listener bus: a listener's counts
  * are complete only once the bus has delivered every posted event. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
