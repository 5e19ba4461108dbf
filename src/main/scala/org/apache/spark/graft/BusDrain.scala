package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so counts a
  * listener keeps are complete when read. The bus is Spark-internal; this
  * is the one call the query timer needs from it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
