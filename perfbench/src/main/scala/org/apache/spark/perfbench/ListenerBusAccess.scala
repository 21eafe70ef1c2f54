package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so a pass's counters are complete when it reads them. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
