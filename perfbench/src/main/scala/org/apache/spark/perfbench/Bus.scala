package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * benchmark reads complete job and stage records after each operation
  * (the listener bus is package-private to Spark). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
