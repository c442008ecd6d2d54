package org.apache.spark

/** Reaches the listener bus drain, which Spark keeps package-private:
  * the traced run reads its listener counters only after every posted
  * event has been delivered. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
