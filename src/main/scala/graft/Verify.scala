package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val Usage = "runMain graft.Verify <sfDir> <outDir> [name,name,...]"

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3)
      Tool.usage(Usage, "expected 2 or 3 arguments")
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query subset (dev loop — the
    // driver always calls with 2 args = full dump)
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(",").toSet.filter(_.nonEmpty))
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      if (names.isEmpty || unknown.nonEmpty) Tool.usage(Usage,
        s"unknown query in '${args(2)}': ${unknown.mkString(",")}")
    }
    // the correctness dump runs the sketch family in md5 (oracle)
    // hash mode: the MinHash/SimHash pipelines then replay
    // end-to-end in DuckDB, so the gate hash-checks them instead of
    // rows-only. xxhash64 stays the scale default everywhere else
    // (Bench, Stress, serving); DedupSpec pins the two modes'
    // verified pair sets equal on the fixture, and ApproxSpec pins
    // the IVF/approx-profile mode equivalences (round 14): ✅SQL for
    // the sketch/IVF/HLL families certifies GATE-MODE hashing, with
    // the scale default covered by those pins — see SURVEY §2's
    // hash-mode note. See GraftConf.Md5Mode.
    //
    // Per-SF soundness: sfDir is arbitrary here, but two oracles
    // carry SF-linked pins — the neardup_kcore oracle is a static
    // KcoreOracleRounds h-index unroll (DedupSpec's convergence pin
    // follows SPARK_GRAFT_GATE_SF; export it when gating at a
    // non-default SF), and the bruteforce baselines carry the
    // graft.bruteforce.maxRows guard. A gate SF change re-runs that
    // pin, not this file.
    val spark =
      Tool.session(Tool.cpus("4"), graft.ops.GraftConf.Md5Mode.key -> "true")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Tool.writeFile(s"$outDir/oracle_sql.json", oracleJson(only))
    spark.stop()
  }

  /** The oracle_sql.json body for a query subset (None = all) — shared
    * with RetrievalOracleSpec, which replays the dump + DuckDB compare
    * at a non-default panel size. JSON string escape covers backslash,
    * quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness. */
  private[graft] def oracleJson(only: Option[Set[String]]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
