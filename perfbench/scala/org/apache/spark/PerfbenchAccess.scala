package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * posted listener event has been delivered, so per-iteration task
  * counters are complete before they are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
