package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the traced
  * run waits for every queued event to be delivered before it reads its
  * listeners, so no event of a pass is lost or counted in the next one.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
