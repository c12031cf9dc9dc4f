package org.apache.spark

/** The one private Spark hook the benchmark uses: wait until every
  * posted listener event has been delivered, so the traced counters
  * are complete when a run reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
