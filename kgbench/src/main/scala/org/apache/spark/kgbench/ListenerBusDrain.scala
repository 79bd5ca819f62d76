package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered. Task
  * metrics reach a `SparkListener` asynchronously, after the action
  * that produced them has returned; reading per-layer totals before
  * the bus drains would under-count. `waitUntilEmpty` is
  * package-private to Spark, hence this one-method bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
