package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * probes' counters are complete before a phase is closed. The bus is only
  * reachable from inside Spark's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
