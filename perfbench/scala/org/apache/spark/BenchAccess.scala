package org.apache.spark

/** The one `private[spark]` hook the benchmark needs: block until every
  * queued listener event (task ends carry the metrics) is delivered.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
