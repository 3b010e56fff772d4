package org.apache.spark

/** Waits until every posted listener event has been delivered, so counts
  * read after an action include that action's events. */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
