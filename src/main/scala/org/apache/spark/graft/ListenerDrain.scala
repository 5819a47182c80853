package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; `graft.TaskTotals`
  * needs to drain it so per-query task-metric counters include every
  * task of the job that just completed (listener events post
  * asynchronously). This one-line bridge is the standard
  * package-placement accessor — no behavior, no state.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
