package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains after each phase so every event lands on the
  * span that was open when its work ran. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
