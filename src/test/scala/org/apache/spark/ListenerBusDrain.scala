package org.apache.spark

/** Test access to the listener bus: block until every queued event has
  * reached every listener, so counts read afterwards are complete.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
