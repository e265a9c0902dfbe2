package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Deterministic listener drain: blocks until every event posted to the
  * listener bus so far has been delivered to every listener. Spark posts
  * a job's end event before the action that ran it returns, so after a
  * synchronous call plus this drain every job the call started has been
  * seen ending. The bus is `private[spark]`, hence this package. */
object ListenerDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
