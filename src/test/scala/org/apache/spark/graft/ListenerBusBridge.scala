package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test-only bridge to the `private[spark]` listener bus (the
  * [[MemoryBridge]] pattern): lets a spec wait for asynchronous listener
  * work, such as a `CacheScope` release, instead of racing it.
  */
object ListenerBusBridge {

  /** Block until every event posted so far has reached every listener. */
  def awaitEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
