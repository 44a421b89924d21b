package org.apache.spark

/** The listener bus is `private[spark]`; the traced run drains it after
  * each step so every event of that step is counted before the next
  * one starts.
  */
object PerfbenchGlue {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
