package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until every
  * posted listener event has been delivered, so counters read after a run
  * are complete without a sleep. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
