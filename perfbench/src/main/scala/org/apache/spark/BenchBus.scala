package org.apache.spark

/** Listener events are delivered asynchronously; the harness drains
  * the bus before it reads the counters of a measured window. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
