package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is Spark-internal; this one-line bridge lives in
  * Spark's package namespace so the benchmark can read complete
  * listener totals without sleeping and guessing. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
