package org.apache.spark.medbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners, so a
  * listener's totals are complete when a traced call returns. The bus is
  * private to Spark's package, hence this file's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
