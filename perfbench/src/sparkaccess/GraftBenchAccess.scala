package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait for the listener
  * bus to deliver queued events, so traced counters are complete before
  * they are rolled up. Lives in Spark's package because the bus is
  * `private[spark]`. */
object GraftBenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
