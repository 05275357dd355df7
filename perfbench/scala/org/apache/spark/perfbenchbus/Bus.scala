package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event,
  * so counters read after a span include all of the span's tasks. The
  * bus is private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
