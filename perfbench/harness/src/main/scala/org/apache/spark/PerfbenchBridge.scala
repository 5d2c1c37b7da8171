package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * trace reads its events only after every posted event was delivered.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
