package org.apache.spark

/** Reaches the `private[spark]` listener-bus drain: after it returns, every
  * event posted before the call has been delivered to every listener, so
  * counters read afterwards are complete (no fixed sleep). */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
