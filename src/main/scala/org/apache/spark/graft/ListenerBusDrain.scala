package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners, so a
  * listener's view of a finished job is complete. The bus is private to
  * Spark's package, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
