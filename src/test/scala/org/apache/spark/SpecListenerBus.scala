package org.apache.spark

/** Waits until every event posted so far has reached its listeners, so a
  * spec reads a complete record of the queries it just ran. */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
