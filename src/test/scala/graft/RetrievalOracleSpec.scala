package graft

/** The panel-size knob's oracle contract (round-10 verdict task #3):
  * `graft.mrr.nProbes` interpolates INTO the MRR/recall oracle SQL at
  * dump time, so a non-default panel is oracle-CHECKABLE — round 9 had
  * instead frozen the oracle at LIMIT 50 and declared non-default
  * values a Verify precondition. This spec replays Verify's actual
  * comparison path (parquet dump + oracle_sql.json + scripts/check.py
  * in DuckDB) at nProbes=7 on sf0.001; the DuckDB half cancels (not
  * fails) where python3/duckdb is unavailable, and the in-JVM
  * assertions — knob → SQL text, knob → Spark panel size — always
  * run. */
class RetrievalOracleSpec extends SparkSpec {

  test("graft.mrr.nProbes=7 reaches the oracle text AND the Spark " +
      "plan; Verify's DuckDB comparison passes at the non-default " +
      "size") {
    val panel = Seq("retrieval_eval_mrr", "retrieval_eval_recall")
    withConf("graft.mrr.nProbes" -> "7") {
      // knob → oracle text: the dumped SQL carries the live panel size
      val sqls = SparkEntry.oracleSql
      panel.foreach { n =>
        assert(sqls(n).contains("LIMIT 7"),
          s"$n oracle did not interpolate the panel knob")
        assert(!sqls(n).contains("LIMIT 50"),
          s"$n oracle still carries the frozen default panel")
      }
      // knob → Spark plan: one rank row per probe
      val mrr = SparkEntry.queries("retrieval_eval_mrr")(spark, sf0001)
      assert(mrr.count() === 7L, "Spark panel size ignored the knob")
      // Verify's comparison path, replayed end to end: dump the two
      // panel evals + their oracle subset exactly as graft.Verify
      // does, then run the repo's DuckDB gate on the dump
      val out = java.nio.file.Files
        .createTempDirectory("graft-mrrknob").toString
      panel.foreach { n =>
        SparkEntry.queries(n)(spark, sf0001)
          .coalesce(1).write.parquet(s"$out/$n")
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/oracle_sql.json"),
        Verify.oracleJson(Some(panel.toSet)))
      val duck = try {
        new ProcessBuilder("python3", "-c", "import duckdb")
          .start().waitFor() == 0
      } catch { case _: Throwable => false }
      assume(duck, "python3/duckdb unavailable — DuckDB half skipped")
      // relative path, no directory override: sbt's test cwd IS the
      // repo root (where the dev mains write their docs), and pinning an
      // absolute checkout path would validate a worktree's changes
      // against some OTHER clone's check.py
      val pb = new ProcessBuilder("python3", "scripts/check.py",
        sf0001, out)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val outTxt = new String(proc.getInputStream.readAllBytes, "UTF-8")
      val rc = proc.waitFor()
      assert(rc == 0 && outTxt.contains("== 2 pass, 0 fail =="),
        s"DuckDB gate failed at nProbes=7:\n$outTxt")
    }
    // default restored: the dumped text goes back to LIMIT 50
    assert(SparkEntry.oracleSql("retrieval_eval_mrr")
      .contains("LIMIT 50"), "default panel size did not restore")
  }

  test("graft.pps.targetDocs and graft.mixture.tempBudgetTokens " +
      "interpolate into their oracles; DuckDB passes at non-defaults") {
    val panel = Seq("sample_pps_tokens", "mixture_temperature_plan")
    withConf("graft.pps.targetDocs" -> "20",
        "graft.mixture.tempBudgetTokens" -> "250000") {
      val sqls = SparkEntry.oracleSql
      assert(sqls("sample_pps_tokens").contains("< 20.0"),
        "pps oracle did not interpolate the target knob")
      assert(sqls("mixture_temperature_plan").contains("250000 *"),
        "temperature oracle did not interpolate the budget knob")
      val out = java.nio.file.Files
        .createTempDirectory("graft-ppsknob").toString
      panel.foreach { n =>
        SparkEntry.queries(n)(spark, sf0001)
          .coalesce(1).write.parquet(s"$out/$n")
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/oracle_sql.json"),
        Verify.oracleJson(Some(panel.toSet)))
      val duck = try {
        new ProcessBuilder("python3", "-c", "import duckdb")
          .start().waitFor() == 0
      } catch { case _: Throwable => false }
      assume(duck, "python3/duckdb unavailable — DuckDB half skipped")
      val pb = new ProcessBuilder("python3", "scripts/check.py",
        sf0001, out)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val outTxt = new String(proc.getInputStream.readAllBytes, "UTF-8")
      val rc = proc.waitFor()
      assert(rc == 0 && outTxt.contains("== 2 pass, 0 fail =="),
        s"DuckDB gate failed at non-default sampling knobs:\n$outTxt")
    }
    // defaults restored in the dumped text
    assert(SparkEntry.oracleSql("sample_pps_tokens").contains("< 50.0"),
      "pps default did not restore")
    assert(SparkEntry.oracleSql("mixture_temperature_plan")
      .contains("1000000 * (s_micro"),
      "temperature default did not restore")
  }
}
