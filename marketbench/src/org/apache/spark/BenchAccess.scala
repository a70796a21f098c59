package org.apache.spark

/** The one private[spark] hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so per-op counters are
  * complete before they are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
