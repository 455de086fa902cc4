package org.apache.spark

/** The one private Spark hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so per-span metrics are
  * complete before they are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
