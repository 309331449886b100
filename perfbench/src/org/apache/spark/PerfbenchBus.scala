package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so counters read after an action are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
