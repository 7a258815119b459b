package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until every
  * posted listener event has been delivered before reading the probes. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
