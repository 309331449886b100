package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * listener counters read after an action are complete (the bus is
  * private to Spark's own packages). */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
