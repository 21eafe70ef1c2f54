package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * spec can count jobs right after the call that launched them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
