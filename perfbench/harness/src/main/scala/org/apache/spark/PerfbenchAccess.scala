package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until every
  * queued listener event has been delivered, so a traced pass's counters are
  * complete before they are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
