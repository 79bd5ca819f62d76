package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered: task
  * and job events reach a `SparkListener` asynchronously, after the
  * action returns. `waitUntilEmpty` is `private[spark]`, hence the
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
