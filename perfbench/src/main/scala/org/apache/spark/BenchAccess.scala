package org.apache.spark

/** The one Spark-internal hook the benchmark needs: waiting for the
  * listener bus to drain, so traced totals are complete when read. */
object BenchAccess {
  def flushListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
