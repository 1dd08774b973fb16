package graft

import org.apache.spark.sql.functions.col
import graft.ops.GraftConf.{CcLabelsPath, CcOldLabelsPath, FeaturesStorePath,
  LexIndexPath, MinhashOldIndexPath, PairsPath, SimhashOldIndexPath}

/** SERVING-MODE benchmark — the round-over-round regression line for
  * the conf-routed artifact paths (round-11 verdict task #5). `Bench`
  * deliberately times every registered query in its oracle-replayable
  * DEFAULT mode, so the artifact-mode wins (pair graph, CC labels,
  * signature indexes, lexical index, feature store) live only in
  * one-off receipts: an artifact-path regression — say a lost plan pin
  * quietly re-introducing a corpus scan into a from-index serve — was
  * invisible to the bench. This main builds every serving artifact
  * once (build seconds recorded separately), routes the ~18
  * conf-consuming queries through them, and emits ONE JSON line
  * (`bench_serving.json`) with per-query median-of-3 timings under the
  * same hygiene rules as `Bench` (untimed whole-panel warmup,
  * Tool.reset off the clock). It also regenerates the serving-plan
  * census (`docs/PLANS_SERVING.md`): shuffle/broadcast/codegen counts
  * per serving plan plus a checked "reads its artifact" column, so a
  * routing regression is visible structurally, not just as wall time.
  *
  *   sbt "runMain graft.BenchServing [sfDir]"
  */
object BenchServing {

  /** (query, conf route) — every query whose plan changes when the
    * serving confs are set, with the route that serves it. */
  val Served: Seq[(String, String)] = Seq(
    "neardup_degree_dist" -> PairsPath,
    "neardup_pagerank" -> PairsPath,
    "neardup_triangles" -> PairsPath,
    "neardup_kcore" -> PairsPath,
    "neardup_quality_delta" -> PairsPath,
    "dedup_cross_source_rate" -> PairsPath,
    "minhash_tuning_curve" -> PairsPath,
    "curation_funnel" -> PairsPath,
    "dedup_clusters" -> CcLabelsPath,
    "dedup_soft_weights" -> CcLabelsPath,
    "dedup_best_survivor" -> CcLabelsPath,
    "dedup_cluster_size_dist" -> CcLabelsPath,
    "cc_incremental" -> CcOldLabelsPath,
    "dedup_simhash_incremental" -> SimhashOldIndexPath,
    "dedup_minhash_incremental" -> MinhashOldIndexPath,
    "bm25_from_index" -> LexIndexPath,
    "phrase_from_index" -> LexIndexPath,
    "feature_pit_from_index" -> FeaturesStorePath)
    .map { case (q, knob) => q -> knob.key }

  /** Iterative kernels localCheckpoint their edge input before the
    * loop, so their FINAL executed plan roots at checkpoint-RDD scans
    * and structurally cannot show the artifact read (it happened one
    * plan earlier, inside the checkpoint). Their routing is pinned by
    * DedupSpec's mode-equality + plan tests instead; the census marks
    * them n/a rather than reporting a false regression. */
  private val CheckpointedKernels: Set[String] =
    Set("neardup_pagerank", "neardup_kcore")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile =
      sys.env.getOrElse("SPARK_GRAFT_SERVING_OUT", "bench_serving.json")
    val spark = Tool.session(Tool.cpus())

    // ---- build every serving artifact once (recorded, off the query
    // clock). Order matters: the pair graph goes first and its conf is
    // set immediately, so the CC label build itself serves off one
    // pair scan — the nightly one-pair-job composition DEPLOY.md
    // prescribes.
    val builds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val pairs = graft.ops.Scratch.dir("bench-pairs")
    builds("pair_graph") =
      Tool.secs(graft.ops.Materialize.pairGraph(spark, sfDir, pairs))
    spark.conf.set(PairsPath.key, pairs)
    val labels = graft.ops.Scratch.dir("bench-cclabels")
    builds("cc_labels") =
      Tool.secs(graft.ops.Materialize.ccLabels(spark, sfDir, labels))
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val cut = graft.operators.Dedup.idCut(docs)
    val old = docs.filter(col("doc_id") < cut)
    val oldLabels = graft.ops.Scratch.dir("bench-oldlabels")
    builds("old_cc_labels") =
      Tool.secs(graft.ops.Materialize.ccLabelsOf(spark, old, oldLabels,
        sfDir))
    val simOld = graft.ops.Scratch.dir("bench-simhash-old")
    builds("old_simhash_index") =
      Tool.secs(graft.ops.Materialize.simhashIndexOf(spark, old, simOld,
        sfDir))
    val mhOld = graft.ops.Scratch.dir("bench-minhash-old")
    builds("old_minhash_index") =
      Tool.secs(graft.ops.Materialize.minhashIndexOf(spark, old, mhOld,
        sfDir))
    val lex = graft.ops.Scratch.dir("bench-lex")
    builds("lexical_index") =
      Tool.secs(graft.ops.Materialize.lexicalIndex(spark, sfDir, lex))
    val feat = graft.ops.Scratch.dir("bench-featstore")
    builds("feature_store") =
      Tool.secs(graft.ops.Materialize.featureStore(spark, sfDir, feat))
    spark.conf.set(CcLabelsPath.key, labels)
    spark.conf.set(CcOldLabelsPath.key, oldLabels)
    spark.conf.set(SimhashOldIndexPath.key, simOld)
    spark.conf.set(MinhashOldIndexPath.key, mhOld)
    spark.conf.set(LexIndexPath.key, lex)
    spark.conf.set(FeaturesStorePath.key, feat)

    // ---- timing (the Bench methodology: untimed warmup, 3 timed
    // passes, per-query median; state dropped off the clock)
    val (_, stats) = Tool.medianOf3(spark, Served.map { case (name, _) =>
      name -> (() => SparkEntry.queries(name)(spark, sfDir).count())
    })
    val failed = Tool.failed(stats)

    // ---- serving-plan census (PLANS.md style, serving confs live)
    val sb = new StringBuilder
    sb ++= "# Serving-plan census (GENERATED — do not hand-edit)\n\n"
    sb ++= s"Emitted by `sbt \"runMain graft.BenchServing $sfDir\"` " +
      "with every serving conf set\n(pairsPath, cc.labelsPath, " +
      "cc.oldLabelsPath, {simhash,minhash}.oldIndexPath,\n" +
      "lex.indexPath, features.storePath). `artifact scan` checks the " +
      "executed plan\nreads the routed artifact's files; timings are " +
      "median-of-3 (Bench hygiene).\nBuild costs (one-time per " +
      "refresh) are in bench_serving.json `builds`.\n\n"
    sb ++= "| query | conf route | median s | shuffles | broadcasts " +
      "| codegen spans | artifact scan |\n|---|---|---|---|---|---|---|\n"
    val median = stats.toMap
    Served.foreach { case (name, route) =>
      try {
        val full = Tool.finalPlan(SparkEntry.queries(name)(spark, sfDir))
        val (nSh, nBc, nCg) = Tool.census(full)
        // the structural "actually served from the artifact" check: the
        // executed plan scans the routed artifact's scratch dir.
        // cc_incremental and the signature incrementals also read the
        // corpus (their delta half is in-query by design), so the check
        // is contains-artifact, not corpus-free.
        val artifact = spark.conf.get(route).split('/').last
        val reads =
          if (CheckpointedKernels(name))
            "n/a (kernel checkpoints edges; spec-pinned)"
          else if (full.contains(artifact)) "yes"
          else "NO — ROUTING REGRESSION"
        val m = median(name)._1
        sb ++= f"| $name | $route | $m%.2f | $nSh | $nBc | $nCg | " +
          s"$reads |\n"
        Tool.reset(spark)
      } catch {
        case e: Throwable =>
          val msg = String.valueOf(e.getMessage).linesIterator.take(1)
          sb ++= s"| $name | $route | FAILED: ${msg.mkString} | | | | |\n"
      }
    }
    Tool.writeFile("docs/PLANS_SERVING.md", sb.toString)

    val line =
      s"""{"metric":"serving_total","value":${Tool.total(stats, _._1)},""" +
      s""""unit":"sec","estimator":"median_of_3",""" +
      s""""value_min":${Tool.total(stats, _._2)},""" +
      s""""value_max":${Tool.total(stats, _._3)},""" +
      s""""queries":${Tool.column(stats, _._1)},""" +
      s""""builds":${Tool.obj(builds)},""" +
      s""""failed":${Tool.strs(failed)},"sf":"$sfDir"}"""
    Tool.writeFile(outFile, line + "\n")
    println(line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
