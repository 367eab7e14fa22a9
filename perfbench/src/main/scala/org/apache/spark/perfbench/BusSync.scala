package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * snapshot of listener totals taken after an action includes that action.
  * (The bus is private to Spark; this shim lives in Spark's package for
  * that one call.) */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
