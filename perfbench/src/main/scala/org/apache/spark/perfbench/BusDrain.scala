package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark has no public way to wait for its listener bus; this one call
  * needs package access.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
