package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued event, so
  * a traced phase's listener totals are complete before they are read.
  * `listenerBus` is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
