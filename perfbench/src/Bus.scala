package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so
  * the traced totals of a pass are complete before they are read. The
  * bus is package-private to `org.apache.spark`, hence this one-line
  * bridge in that package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
