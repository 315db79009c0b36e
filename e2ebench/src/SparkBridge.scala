package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * posted listener event (stage metrics, streaming progress) has been
  * delivered, so a phase's counters are complete when it is read. */
object E2eBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
