package org.apache.spark

/** Listener events are delivered asynchronously, so a counter read
  * right after an action can miss its last task-end events. The bus's
  * `waitUntilEmpty` is `private[spark]`; this one-hop re-export lets the
  * harness read complete per-operation counts. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
