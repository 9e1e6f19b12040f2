package org.apache.spark

/** Bridge to the `private[spark]` listener bus. Listeners hear of jobs
  * asynchronously, so what one has counted is complete only once the bus
  * has delivered every event posted before the count is read. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
