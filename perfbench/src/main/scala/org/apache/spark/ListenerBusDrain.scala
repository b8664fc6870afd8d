package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * measurement window closes only after its job, SQL and streaming events
  * were counted, and a memory checkpoint holds no queued events. (The bus's
  * own wait is package-private.) */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
