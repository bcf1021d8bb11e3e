package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously, and the call that waits
  * for the queue to drain is package-private to Spark; this object lives
  * in Spark's package only to reach it. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
