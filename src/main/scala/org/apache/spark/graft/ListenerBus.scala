package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which Spark keeps package-private. */
object ListenerBus {

  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
