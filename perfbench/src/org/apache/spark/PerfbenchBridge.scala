package org.apache.spark

/** Access to the `private[spark]` listener bus: the tracer reads its
  * job log only after every posted event has been delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
