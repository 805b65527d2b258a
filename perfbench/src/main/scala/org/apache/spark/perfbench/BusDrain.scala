package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the one `private[spark]` hook the tracer needs: listener
  * events arrive asynchronously, so a span's job/task counts are only
  * complete once the bus has delivered everything posted before it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
