package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is Spark-internal; this bridge lives in Spark's
  * package namespace so graft's tools and specs read complete listener
  * counts without sleeping and guessing. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
