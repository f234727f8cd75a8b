package org.apache.spark

/** Lives in Spark's package to reach the listener bus: counts read
  * right after an operation must include every event it posted. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
