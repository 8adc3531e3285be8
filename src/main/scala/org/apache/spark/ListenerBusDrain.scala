package org.apache.spark

/** Access to the listener bus (its drain is `private[spark]`): block until
  * every queued event has reached every listener, so counts read
  * afterwards are complete. Used by `graft.tools.SparkWork`.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
