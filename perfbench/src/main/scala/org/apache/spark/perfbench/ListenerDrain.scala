package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; counters read from a SparkListener are
  * only complete once the bus has delivered every queued event. The drain
  * call is package-private to Spark, hence this one-line bridge. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
