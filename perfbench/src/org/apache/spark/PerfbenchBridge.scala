package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark needs it
  * to read listener counters only after every event has arrived.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
