package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.ops.{GraftConf, Materialize, Scratch}
import graft.ops.GraftConf.{CcLabelsPath, CcOldLabelsPath, FeaturesStorePath,
  LexIndexPath, MinhashOldIndexPath, PairsPath, SimhashOldIndexPath}

/** SERVING-MODE benchmark — the round-over-round regression line for
  * the conf-routed artifact paths (round-11 verdict task #5). `Bench`
  * deliberately times every registered query in its oracle-replayable
  * DEFAULT mode, so the artifact-mode wins (pair graph, CC labels,
  * signature indexes, lexical index, feature store) live only in
  * one-off receipts: an artifact-path regression was invisible to the
  * bench. This main builds every serving artifact once
  * ([[buildArtifacts]], build seconds recorded separately), routes the
  * ~18 conf-consuming queries through them, and emits ONE JSON line
  * (`bench_serving.json`) with per-query median-of-3 timings under the
  * same hygiene rules as `Bench` (untimed whole-panel warmup,
  * Tool.reset off the clock). It also regenerates the serving-plan
  * census (`docs/PLANS_SERVING.md`): shuffle/broadcast/codegen counts
  * per serving plan. That each route reads its artifact is pinned by
  * ServingRouteSpec over the same [[buildArtifacts]] and [[Served]].
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

  /** Builds every serving artifact of `sfDir` once into this JVM's
    * scratch root and sets each [[Served]] route on `spark` to it;
    * returns the build seconds per artifact, in build order. Order
    * matters: the pair graph goes first and its conf is set
    * immediately, so the CC label build itself serves off one pair
    * scan — the nightly one-pair-job composition DEPLOY.md
    * prescribes. */
  def buildArtifacts(spark: SparkSession, sfDir: String)
      : Seq[(String, Double)] = {
    val builds = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def build(name: String, dir: String, route: GraftConf.Knob[_])(
        write: String => Unit): Unit = {
      val path = Scratch.dir(dir)
      builds += name -> Tool.secs(write(path))
      spark.conf.set(route.key, path)
    }
    build("pair_graph", "bench-pairs", PairsPath)(
      Materialize.pairGraph(spark, sfDir, _))
    build("cc_labels", "bench-cclabels", CcLabelsPath)(
      Materialize.ccLabels(spark, sfDir, _))
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val old = docs.filter(col("doc_id") < graft.operators.Dedup.idCut(docs))
    build("old_cc_labels", "bench-oldlabels", CcOldLabelsPath)(
      Materialize.ccLabelsOf(spark, old, _, sfDir))
    build("old_simhash_index", "bench-simhash-old", SimhashOldIndexPath)(
      Materialize.simhashIndexOf(spark, old, _, sfDir))
    build("old_minhash_index", "bench-minhash-old", MinhashOldIndexPath)(
      Materialize.minhashIndexOf(spark, old, _, sfDir))
    build("lexical_index", "bench-lex", LexIndexPath)(
      Materialize.lexicalIndex(spark, sfDir, _))
    build("feature_store", "bench-featstore", FeaturesStorePath)(
      Materialize.featureStore(spark, sfDir, _))
    builds.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile =
      sys.env.getOrElse("SPARK_GRAFT_SERVING_OUT", "bench_serving.json")
    val spark = Tool.session(Tool.cpus())

    // ---- build every serving artifact once (recorded, off the query
    // clock), then time the routed queries
    val builds = buildArtifacts(spark, sfDir)

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
      "lex.indexPath, features.storePath). Timings are median-of-3 " +
      "(Bench hygiene).\nBuild costs (one-time per refresh) are in " +
      "bench_serving.json `builds`.\n\n"
    sb ++= "| query | conf route | median s | shuffles | broadcasts " +
      "| codegen spans |\n|---|---|---|---|---|---|\n"
    val median = stats.toMap
    Served.foreach { case (name, route) =>
      try {
        val full = Tool.finalPlan(SparkEntry.queries(name)(spark, sfDir))
        val (nSh, nBc, nCg) = Tool.census(full)
        val m = median(name)._1
        sb ++= f"| $name | $route | $m%.2f | $nSh | $nBc | $nCg |\n"
        Tool.reset(spark)
      } catch {
        case e: Throwable =>
          val msg = String.valueOf(e.getMessage).linesIterator.take(1)
          sb ++= s"| $name | $route | FAILED: ${msg.mkString} | | | |\n"
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
