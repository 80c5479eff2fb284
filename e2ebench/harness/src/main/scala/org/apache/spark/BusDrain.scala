package org.apache.spark

/** Waits until every posted listener event has been delivered, so counters
  * read at a pass boundary include that pass's last tasks. The listener bus
  * is package-private to Spark, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
