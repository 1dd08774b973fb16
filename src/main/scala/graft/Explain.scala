package graft

/** Plan-audit tool: dumps each query's AQE-finalized
  * `.explain("formatted")` to `<outDir>/<name>.txt` so shuffle counts,
  * PushedFilters, ReadSchema pruning, and WholeStageCodegen spans can
  * be reviewed (SURVEY.md §5 contract), and a per-query census to
  * `SUMMARY.txt`.
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> [name,name,...]
  * (the optional third argument restricts the dump to a query subset)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) Tool.usage(
      "runMain graft.Explain <sfDir> <outDir> [name,name,...]",
      "expected 2 or 3 arguments")
    val Array(sfDir, outDir) = args.take(2)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = Tool.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val summary = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val full = Tool.finalPlan(fn(spark, sfDir))
        Tool.writeFile(s"$outDir/$name.txt", full)
        val (nShuffles, nBroadcast, nCodegen) = Tool.census(full)
        summary.append(f"$name%-28s shuffles=$nShuffles%2d " +
          f"broadcasts=$nBroadcast%2d codegenSpans=$nCodegen%2d\n")
      } catch {
        case e: Throwable =>
          summary.append(s"$name FAILED: ${e.getMessage}\n")
      }
    }
    Tool.writeFile(s"$outDir/SUMMARY.txt", summary.toString)
    print(summary)
    spark.stop()
  }
}
