package graft

/** The dev tools' shared scaffolding ([[Tool]]) and [[Profile]]'s core
  * function, on the shared spec session. */
class ToolsSpec extends SparkSpec {

  test("Profile.run counts one rep's jobs, stages and tasks, and the " +
      "per-stage task times sum exactly to the rep's total") {
    val (reps, failed) = Profile.run(spark, Seq("q3_shipping"), sf0001, 1)
    assert(failed.isEmpty)
    val Seq(r) = reps
    val c = r.counts
    assert(r.rows >= 1 && c.jobs >= 1 && c.stages.nonEmpty && c.tasks >= 1)
    assert(c.stages.map(_.taskMs).sum === c.taskMs)
    assert(c.stages.map(_.tasks).sum === c.tasks)
    assert(c.stages.forall(_.wallMs >= 0), "a stage never completed")
  }

  test("Profile.run reports a query that throws as failed") {
    val (reps, failed) = Profile.run(spark, Seq("no_such_query"), sf0001, 1)
    assert(reps.isEmpty && failed === Seq("no_such_query"))
  }

  test("census counts final-plan shuffles and broadcasts and distinct " +
      "codegen ids, not the echoed initial plan") {
    val plan =
      """== Physical Plan ==
        |AdaptiveSparkPlan (14)
        |+- == Final Plan ==
        |   * HashAggregate (8)
        |   +- AQEShuffleRead (7)
        |      +- ShuffleQueryStage (6)
        |         +- Exchange (5)
        |            +- * HashAggregate (4)
        |               +- * BroadcastHashJoin Inner BuildRight (3)
        |                  :- * ColumnarToRow (2)
        |                  :  +- Scan parquet  (1)
        |                  +- BroadcastQueryStage (10)
        |                     +- BroadcastExchange (9)
        |+- == Initial Plan ==
        |   HashAggregate (13)
        |   +- Exchange (12)
        |      +- BroadcastExchange (11)
        |
        |(1) Scan parquet
        |(2) ColumnarToRow [codegen id : 1]
        |(3) BroadcastHashJoin [codegen id : 1]
        |(4) HashAggregate [codegen id : 1]
        |(5) Exchange
        |(8) HashAggregate [codegen id : 2]
        |(9) BroadcastExchange
        |""".stripMargin
    assert(Tool.census(plan) === ((1, 1, 2)))
  }

  test("medianOf3 reads (-1, -1, -1) for a query that failed any pass") {
    var calls = 0
    val (passes, stats) = Tool.medianOf3(spark, Seq(
      "ok" -> (() => 1),
      // call 1 is the warmup, call 3 the second timed pass
      "flaky" -> (() => { calls += 1; if (calls == 3) sys.error("flaky") })))
    assert(stats.map(_._1) === Seq("ok", "flaky"))
    assert(passes.map(_("flaky") < 0) === Seq(false, true, false))
    assert(stats.toMap.apply("flaky") === ((-1.0, -1.0, -1.0)))
    val (m, mn, mx) = stats.toMap.apply("ok")
    assert(0 <= mn && mn <= m && m <= mx)
    assert(Tool.failed(stats) === Seq("flaky"))
    assert(Tool.total(stats, _._1) === m)
  }
}
