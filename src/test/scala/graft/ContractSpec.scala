package graft

import org.scalatest.funsuite.AnyFunSuite

/** The graded contract is SURVEY.md §2: an operator that ships without a
  * §2 row is invisible to the bar, and a §2 row without an
  * implementation is a false claim. Round 4 shipped two queries whose
  * §2 rows lagged a round behind — this spec makes that drift
  * structurally impossible by parsing the §2 tables out of the file and
  * asserting they mirror [[SparkEntry]] exactly:
  *
  *  - §2 key set == `SparkEntry.queries.keySet` (both directions);
  *  - rows marked ✅SQL == `SparkEntry.oracleSql.keySet` (a ✅ row
  *    without an oracle is an unchecked claim; an oracle without a ✅
  *    mark under-sells a checked one);
  *  - README's knob list == [[graft.ops.GraftConf.all]], and no other
  *    source names a `graft.*` key.
  */
class ContractSpec extends AnyFunSuite {

  private val surveyLines: Vector[String] = {
    val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    try src.getLines().toVector
    finally src.close()
  }

  /** §2 spans from its header to the next `## §` header. */
  private val section2: Vector[String] = surveyLines
    .dropWhile(l => !l.startsWith("## §2"))
    .drop(1)
    .takeWhile(l => !l.startsWith("## §"))

  private val Row = """\|\s*`([a-z0-9_]+)`\s*\|.*\|\s*(✅SQL|🔶rows)\s*\|""".r

  private val inventory: Map[String, String] =
    section2.collect { case Row(key, oracle) => key -> oracle }.toMap

  test("SURVEY §2 table parse is non-degenerate") {
    assert(section2.nonEmpty, "SURVEY.md has no §2 section")
    assert(inventory.size >= 80,
      s"parsed only ${inventory.size} §2 rows — table format changed?")
  }

  test("SURVEY §2 key set == SparkEntry.queries key set (no drift)") {
    val listed = inventory.keySet
    val impl = SparkEntry.queries.keySet
    val unlisted = impl -- listed
    val phantom = listed -- impl
    assert(unlisted.isEmpty,
      s"implemented but missing a §2 row: ${unlisted.toSeq.sorted.mkString(", ")}")
    assert(phantom.isEmpty,
      s"listed in §2 but not implemented: ${phantom.toSeq.sorted.mkString(", ")}")
  }

  test("README correctness counts derive from SparkEntry (no drift)") {
    // the round-5/round-6 relapse this pins: README's hand-written
    // "X/Y oracle-checked" and "the Z … rows-only" counts lagged the
    // suite twice. ContractSpec protects SURVEY §2; this protects the
    // README the same way — parse the numbers, assert them derived.
    val readme = {
      val src = scala.io.Source.fromFile("README.md", "UTF-8")
      try src.mkString finally src.close()
    }
    val checked = """(\d+)/(\d+) queries are\s+oracle-checked""".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README no longer states the oracle-checked count"))
    assert(checked.group(1).toInt === SparkEntry.oracleSql.size,
      "README oracle-checked count != SparkEntry.oracleSql.size")
    assert(checked.group(2).toInt === SparkEntry.queries.size,
      "README query count != SparkEntry.queries.size")
    val rowsOnly = """the (\d+) LSH/sketch/stub queries are rows-only""".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README no longer states the rows-only count"))
    assert(rowsOnly.group(1).toInt ===
      SparkEntry.queries.size - SparkEntry.oracleSql.size,
      "README rows-only count != queries − oracles")
    // the bench section must not re-grow a hand-copied total: the
    // number lives in bench_metric.json only
    assert(!"""\d+\s*s total for \d+ queries""".r
      .findFirstIn(readme).isDefined,
      "README re-introduced a hand-copied bench total")
  }

  test("latest §7x round-narrative coverage counts derive from SparkEntry") {
    // the round-7 relapse this pins: §7f's hand-written "Coverage 166 →
    // 210 queries (186 oracle-checked, 24 rows-only" went stale when
    // three queries landed in the final snapshot. Only the LATEST
    // narrative line needs to be current (earlier sections are
    // historical records of past rounds); parse the last one.
    val Cov =
      """Coverage \d+ → (\d+) queries \((\d+) oracle-checked, (\d+) rows-only""".r
    val last = surveyLines.flatMap(Cov.findFirstMatchIn(_)).lastOption
      .getOrElse(fail("SURVEY has no §7x coverage narrative line"))
    assert(last.group(1).toInt === SparkEntry.queries.size,
      "latest §7x narrative query count != SparkEntry.queries.size")
    assert(last.group(2).toInt === SparkEntry.oracleSql.size,
      "latest §7x narrative oracle count != SparkEntry.oracleSql.size")
    assert(last.group(3).toInt ===
      SparkEntry.queries.size - SparkEntry.oracleSql.size,
      "latest §7x narrative rows-only count != queries − oracles")
  }

  test("README knob list == the GraftConf registry, defaults and ranges " +
      "included") {
    val readme = {
      val src = scala.io.Source.fromFile("README.md", "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    val Item = """- `(graft\.[^`]+)` = .*""".r
    val lines = readme.dropWhile(!_.startsWith("Knobs (Spark conf)"))
      .takeWhile(!_.startsWith("## "))
      .collect { case l @ Item(key) => key -> l }
    val keys = lines.map(_._1)
    assert(keys.distinct.size === keys.size, s"README lists a knob twice")
    val registry = graft.ops.GraftConf.all.map(_.key).toSet
    assert(keys.toSet === registry,
      s"README only: ${(keys.toSet -- registry).mkString(", ")}; " +
        s"registry only: ${(registry -- keys.toSet).mkString(", ")}")
    graft.ops.GraftConf.all.foreach { k =>
      val line = lines.toMap.apply(k.key)
      assert(line.startsWith(s"- `${k.key}` = ${k.defaultText} (${k.range})"),
        s"README default or range drifted for ${k.key}: $line")
    }
  }

  test("no source outside the registry names a graft.* conf key") {
    // a string literal that starts with a conf-shaped key; class
    // references (`graft.plans.JobHistoryAttrs…`) are capitalized
    val Key = "\"graft\\.[a-z]+\\.[a-z]".r
    val offenders = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala")
        && p.getFileName.toString != "GraftConf.scala")
      .flatMap { p =>
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        try src.getLines().zipWithIndex.toVector
          .filter { case (l, _) => Key.findFirstIn(l).isDefined }
          .map { case (l, i) => s"$p:${i + 1}: ${l.trim}" }
        finally src.close()
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no source outside ops/Parquet.scala calls read.parquet") {
    // a direct read would bring back Spark's schema-inference job
    val offenders = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala")
        && !p.endsWith(java.nio.file.Paths.get("ops", "Parquet.scala")))
      .flatMap { p =>
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        try src.getLines().zipWithIndex.toVector
          .filter { case (l, _) => l.contains("read.parquet(") }
          .map { case (l, i) => s"$p:${i + 1}: ${l.trim}" }
        finally src.close()
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("§2 ✅SQL markers == SparkEntry.oracleSql key set") {
    val marked = inventory.collect { case (k, "✅SQL") => k }.toSet
    val sql = SparkEntry.oracleSql.keySet
    val unmarked = sql -- marked
    val unchecked = marked -- sql
    assert(unmarked.isEmpty,
      s"oracle exists but §2 says rows-only: ${unmarked.toSeq.sorted.mkString(", ")}")
    assert(unchecked.isEmpty,
      s"§2 claims ✅SQL but no oracle shipped: ${unchecked.toSeq.sorted.mkString(", ")}")
  }
}
