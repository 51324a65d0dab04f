package org.apache.spark

/** `SparkContext.listenerBus` is package-private; the tracer needs it to
  * wait until every job event has reached its listener before it reads
  * the per-span counters.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
