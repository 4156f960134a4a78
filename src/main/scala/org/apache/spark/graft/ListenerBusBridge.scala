package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; a listener-based
  * counter reads exact per-phase totals only once every event posted so
  * far has been delivered, and waiting for that this way submits no
  * Spark job (accessor only, no behavior). */
object ListenerBusBridge {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
