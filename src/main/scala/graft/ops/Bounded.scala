package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** Driver-local execution of bounded iterative state. An iterative
  * operator over a small frame spends its wall time launching one or
  * more Spark jobs per round, not computing; when the frame fits on the
  * driver, collecting it once and iterating locally replaces every
  * round's jobs with none. [[collect]] is the guard: the frame comes
  * back only when it has at most `bound` rows, and the size check is
  * the collect itself — `limit(bound + 1)` — so it costs no extra job
  * and an over-bound frame ships at most `bound + 1` rows before the
  * caller falls back to its distributed path. Callers name their bound
  * as a constant, not a knob: it sizes driver memory, not semantics. */
object Bounded {

  /** `df`'s rows when there are at most `bound` of them, else None. */
  def collect(df: DataFrame, bound: Int): Option[Array[Row]] = {
    val rows = df.limit(bound + 1).collect()
    if (rows.length > bound) None else Some(rows)
  }
}
