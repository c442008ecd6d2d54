package org.apache.spark

/** Test access to the private listener bus: specs that count events
  * wait for it to deliver everything posted so far. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
