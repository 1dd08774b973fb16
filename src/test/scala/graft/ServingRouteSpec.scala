package graft

/** Every conf-routed serving query reads the artifact its route names.
  * A routing regression — a from-index serve that quietly scans the
  * corpus again — keeps the rows right and only shows in the plan, so
  * this pins the plan over the serving panel [[BenchServing.Served]],
  * with every artifact built by [[BenchServing.buildArtifacts]]. */
class ServingRouteSpec extends SparkSpec {

  /** Their kernels localCheckpoint the edge input before the loop, so
    * the final plan roots at checkpoint scans and cannot show the
    * artifact read; DedupSpec pins their serving mode equal to the
    * in-query mode instead. */
  private val Checkpointed = Set("neardup_pagerank", "neardup_kcore")

  test("every served query's final plan scans its routed artifact") {
    val routes = BenchServing.Served.map(_._2).distinct
    try {
      BenchServing.buildArtifacts(spark, sf0001)
      routes.foreach(r => assert(spark.conf.getOption(r).nonEmpty, r))
      val misrouted = BenchServing.Served
        .filterNot { case (q, _) => Checkpointed(q) }
        .filterNot { case (q, route) =>
          // a scan of the artifact names its directory in the plan's
          // Location line
          val artifact = spark.conf.get(route).split('/').last
          Tool.finalPlan(SparkEntry.queries(q)(spark, sf0001))
            .contains(artifact)
        }
      assert(misrouted.isEmpty,
        s"served queries whose plan does not scan their artifact: $misrouted")
    } finally routes.foreach(spark.conf.unset)
  }
}
