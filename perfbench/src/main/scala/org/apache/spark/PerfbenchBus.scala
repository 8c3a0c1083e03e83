package org.apache.spark

/** The one private Spark hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so counters read at a
  * span boundary belong to the work inside that span.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
