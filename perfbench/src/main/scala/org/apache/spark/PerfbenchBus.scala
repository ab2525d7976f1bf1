package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * `LiveListenerBus.waitUntilEmpty` is package-private to Spark, so this
  * one-line shim sits in Spark's package; it replaces a fixed sleep. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 120000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
