package org.apache.spark

/** Listener events are delivered asynchronously; metrics read from a
  * listener are complete only once the bus has drained. The drain call
  * is package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
