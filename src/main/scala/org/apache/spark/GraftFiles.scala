package org.apache.spark

import org.apache.spark.util.HadoopFSUtils

/** The names a file-source scan skips when it lists a directory: names
  * starting with `_` (other than partition directories and parquet's
  * `_metadata`/`_common_metadata` summaries) or `.`, and in-flight
  * `._COPYING_` files. The rule is Spark-internal, so this bridge lives
  * in Spark's package namespace, like [[GraftBus]]. */
object GraftFiles {
  def hidden(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)
}
