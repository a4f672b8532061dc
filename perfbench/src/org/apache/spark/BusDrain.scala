package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listeners have seen all jobs before it aggregates them.
  * `SparkContext.listenerBus` is private to this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
