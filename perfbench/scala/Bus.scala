package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * span counters are read only after every queued event is delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
