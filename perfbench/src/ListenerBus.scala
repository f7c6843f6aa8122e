package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * trace holds each job and stage of the run before it is written.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
