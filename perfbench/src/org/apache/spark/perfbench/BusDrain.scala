package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far,
  * so counters read right after a job include all of its tasks.
  * (`listenerBus` is `private[spark]`, hence this package.) */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
