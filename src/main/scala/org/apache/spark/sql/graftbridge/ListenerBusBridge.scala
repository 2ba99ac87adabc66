package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every event posted
  * so far, so listener totals read afterwards are complete: an action
  * posts its job, stage, task and SQL-execution events before it
  * returns. `listenerBus` is `private[spark]`, hence this package (see
  * [[ColumnBridge]]); the public entry point is `graft.Profile`.
  */
object ListenerBusBridge {
  // One action's events arrive in milliseconds: a bus still busy after
  // 30 s has a stuck listener, and waitUntilEmpty throws TimeoutException.
  private val DrainTimeoutMs = 30000L
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(DrainTimeoutMs)
}
