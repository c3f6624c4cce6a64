package org.apache.spark

/** Lets the harness wait until every listener event posted so far has been
  * delivered, so span counters are complete before they are read.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
