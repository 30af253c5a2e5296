package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until every
  * posted listener event has been delivered, so the per-layer figures
  * read after a pass are complete. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
