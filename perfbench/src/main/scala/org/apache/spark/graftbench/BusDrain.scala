package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events reach a `SparkListener` asynchronously. The traced
  * run reads its roll-up only after the bus has delivered every event
  * of the query it just ran; `waitUntilEmpty` is package-private, hence
  * this one-line bridge in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
