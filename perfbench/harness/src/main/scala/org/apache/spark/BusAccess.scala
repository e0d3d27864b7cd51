package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the run reads complete counters. The bus is package-private. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
