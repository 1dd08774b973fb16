package graft.ops

import org.apache.spark.sql.DataFrame

/** Input-skew fix for CPU-heavy stages rooted at under-split scans
  * (optimization guide §2.5, "Input skew: one huge unsplittable file …
  * otherwise repartition immediately after the read").
  *
  * The driver's testdata ships each table as ONE parquet file with ONE
  * row group, so every scan is a single task and everything computed
  * before the first exchange — tokenize/shingle/hash a whole corpus,
  * argmin a vector table against broadcast centroids — serializes onto
  * one core while the other 31 idle (the `scripts/check.py` "task-packing
  * artifact" note, now fixed at the root instead of worked around in the
  * Stress harness). The same shape recurs at any scale wherever a stage
  * root is a single gzip'd file, a one-row-group parquet part, or a
  * materialized single-partition frame.
  *
  * [[Spread.apply]] round-robin-repartitions a frame to the session's
  * parallelism ONLY when it currently has fewer partitions — a
  * cluster-scale scan with hundreds of splits passes through untouched,
  * so this is an adaptation to degenerate inputs, not a local-mode
  * constant (`graft.scan.spreadParts` overrides the target; 0 disables).
  * The exchange it inserts moves the slim pre-compute rows (ids + text /
  * ids + vectors — bytes that were going to cross the next exchange
  * anyway), and round-robin with Spark's default sort-before-repartition
  * is deterministic under task retry. Only row-order-INVARIANT consumers
  * may sit downstream (aggregations, joins, per-row projections — every
  * use in this codebase); order-sensitive folds must keep their explicit
  * sort keys, never partition order. One residual: the Lloyd means
  * downstream are rounded doubles, only approximately order-invariant
  * (see [[graft.operators.Similarity.meanVectors]]).
  *
  * Guard scope (r15 advice, medium): `df.rdd.getNumPartitions` counts
  * BYTE-RANGE splits, not non-empty partitions — a single multi-hundred-
  * MB file with ONE row group splits into many FilePartitions of which
  * only one yields rows, and the guard would skip the repartition. The
  * claim here is therefore narrowed: Spread fixes SMALL single-split
  * scans and single-partition intermediate frames (this repo's shapes);
  * a degenerate huge one-row-group file needs fixing at the source
  * (rewrite with sane row groups), which no in-plan repartition decision
  * can see cheaply. Where callers hold a frame that is ALREADY
  * scan-rooted and known-single-split, the guard is exact.
  *
  * Where NOT to use it (round 16, measured): iterative Lloyd-loop
  * checkpoints (kmeans/semantic) — fanning a ~2k-row frame to 32
  * partitions taxes every per-pass stage; same-session A/B read 1.6x
  * SLOWER with Spread there. It stays on the heavy one-shot compute
  * sites (PQ subvector encode, brute-force cosine, phash decode,
  * Gram accumulation, shingle build), each A/B'd in
  * OPTIMIZATION_r16.md.
  */
object Spread {

  def apply(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val target = GraftConf.SpreadParts(s)
      .getOrElse(s.sparkContext.defaultParallelism)
    if (target <= 1) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
