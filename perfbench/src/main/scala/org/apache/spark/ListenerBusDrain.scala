package org.apache.spark

/** Waits until every event posted so far has reached its listeners, so the
  * trace is complete before it is summarized. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
