package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so counters read after a pass are complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
