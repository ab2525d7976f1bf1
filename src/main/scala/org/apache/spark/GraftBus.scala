package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * `LiveListenerBus.waitUntilEmpty` is package-private to Spark, so this
  * shim sits in Spark's package. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
