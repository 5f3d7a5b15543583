package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * listener's counts are complete before they are read. The bus is
  * package-private to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
