package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * counters are read only after every event of an op has been delivered. */
object PerfBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
