package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Drains the listener bus so every event of a finished action has
  * reached the benchmark's listeners before they are read.
  */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
