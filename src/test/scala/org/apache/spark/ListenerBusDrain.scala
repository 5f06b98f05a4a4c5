package org.apache.spark

/** Test access to the package-private listener bus: block until every
  * event posted so far has reached the listeners, so a counter read
  * afterwards is exact instead of racing the asynchronous bus. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
