package org.apache.spark

/** Test access to `SparkContext.listenerBus` (private[spark]): job
  * counts read off the status tracker are exact only once the bus has
  * delivered every job-start event. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
