package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test-scope access to the `private[spark]` listener bus: blocks until
  * every event posted so far has reached every listener. Spark posts a
  * job's end event before the action that ran it returns, so a
  * synchronous action followed by this drain has had all of its jobs'
  * events delivered — no timing guess involved. */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
