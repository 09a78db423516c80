package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private.
  * Listener events arrive asynchronously; the benchmark drains the bus
  * before it reads a counter, so a segment's jobs and tasks are never
  * attributed to the next segment.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
