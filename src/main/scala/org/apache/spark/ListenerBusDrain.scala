package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a counter read after an action has seen all of its stages and jobs.
  * Lives under org.apache.spark only because the listener bus is
  * package-private; no Spark internals are modified. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
