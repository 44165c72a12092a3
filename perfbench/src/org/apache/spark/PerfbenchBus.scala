package org.apache.spark

/** Listener events arrive asynchronously on Spark's listener bus. The
  * benchmark drains the bus at the edges of each measured region so that
  * every event of the region has been counted before the counters are
  * read. `listenerBus` is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
