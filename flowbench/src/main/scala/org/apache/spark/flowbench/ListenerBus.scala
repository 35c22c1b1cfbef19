package org.apache.spark.flowbench

import org.apache.spark.SparkContext

/** Spark's listener bus is private to the `spark` package. A traced pass
  * is closed only after every event it caused has reached the listeners,
  * so that no job, task or plan of one pass is counted in the next. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
