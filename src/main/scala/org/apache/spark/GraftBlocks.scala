package org.apache.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Drops checkpointed blocks. `Dataset.unpersist()` only uncaches a
  * `cache()`d plan: the blocks of a `localCheckpoint`ed frame stay in
  * the block manager until its RDD is garbage-collected. `RDD.unpersist`
  * does drop them, but logs one "locally checkpointed" WARN per RDD.
  * `SparkContext.unpersistRDD` is the same removal without the warning;
  * it is Spark-internal, so this bridge lives in Spark's package
  * namespace, like [[GraftBus]]. */
object GraftBlocks {

  /** Drops the blocks of `df`, which must be the very frame a
    * `localCheckpoint` returned (its plan one `LogicalRDD`). A frame
    * derived from a checkpoint is refused, so a loop can release the
    * checkpoints it made and never one its caller's input reads. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD =>
      df.sparkSession.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
    case p => throw new IllegalArgumentException(
      s"release takes a checkpointed frame, got a ${p.nodeName} plan")
  }

  /** Drops every persisted RDD's blocks, waiting until they are gone. */
  def releaseAll(sc: SparkContext): Unit =
    sc.getPersistentRDDs.keys.foreach(sc.unpersistRDD(_, blocking = true))
}
