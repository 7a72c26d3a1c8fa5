package org.apache.spark

/** Access to the one `private[spark]` hook the tracer needs: draining the
  * asynchronous listener bus, so every task-end event of the traced
  * operations has been delivered before span metrics are computed.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
