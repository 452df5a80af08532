package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer waits for every queued event before it reads its records. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
