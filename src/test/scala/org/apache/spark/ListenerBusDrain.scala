package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * a spec's listener totals are complete when read.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
