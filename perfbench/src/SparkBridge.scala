package org.apache.spark

/** Access to the one scheduler hook the benchmark needs that Spark keeps
  * package-private: draining the listener bus, so per-request listener
  * counts are complete before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
