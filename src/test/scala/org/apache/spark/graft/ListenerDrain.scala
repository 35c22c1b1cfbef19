package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts are complete. `listenerBus` is private[spark],
  * hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
