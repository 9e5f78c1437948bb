package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * listener only after the bus has delivered everything posted so far. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
