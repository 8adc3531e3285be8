package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every queued event, so the traced run's
  * totals are complete when they are read.
  */
object PerfbenchInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
