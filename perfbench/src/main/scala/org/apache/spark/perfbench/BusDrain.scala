package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener, so a
  * listener's counters are complete when a timed operation has returned.
  * Lives under `org.apache.spark` because the listener bus is
  * package-private there. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
