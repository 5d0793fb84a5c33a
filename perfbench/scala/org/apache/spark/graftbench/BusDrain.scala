package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered,
  * so listener-side counters can be read or reset at a known point.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
