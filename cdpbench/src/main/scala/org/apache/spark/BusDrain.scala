package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * listener counts read afterwards are complete. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
