package org.apache.spark

/** Blocks until every posted listener event has been delivered, so the
  * traced run's listener totals are complete before they are reported. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
