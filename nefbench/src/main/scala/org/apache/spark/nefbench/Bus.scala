package org.apache.spark.nefbench

import org.apache.spark.SparkContext

/** Listener delivery is asynchronous; `LiveListenerBus.waitUntilEmpty()`
  * is the barrier that makes a tally read after an action complete. It is
  * package-private to Spark, hence this object's package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
