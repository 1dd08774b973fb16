package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measured JVM. One process, one client thread, closed loop: the
  * next operation starts when the previous one returns. It reads the
  * generator's files, runs the workload's set-ups and timed passes,
  * and writes raw per-operation records to `--out` as JSON; the
  * arithmetic over them lives in `run.py`.
  *
  *   perfbench.Main --workload logs|curation|serving --data DIR --work DIR
  *     --out FILE --seconds N --seed N --trace 0|1 --cores N
  *     --batches DIR [--oracle-out DIR]
  *   perfbench.Main --selftest
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val entryNs = System.nanoTime()
    val jvmBootS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (args.contains("--selftest")) {
      val spark = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val errs = Fingerprint.selfTest(spark) ++ selfTestUnion()
      spark.stop()
      errs.foreach(e => println(s"FAIL $e"))
      println(if (errs.isEmpty) "selftest ok" else "selftest FAILED")
      System.exit(if (errs.isEmpty) 0 else 1)
    }
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try { new Harness(opts, jvmBootS, entryNs).run(); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          3
      }
    System.exit(code)
  }

  private def selfTestUnion(): Seq[String] = Seq(
    (Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 100L, 30L),
    (Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8L, 35L, 17L),
    (Seq.empty[(Long, Long)], 0L, 10L, 0L),
    (Seq((50L, 60L)), 0L, 10L, 0L)
  ).collect { case (iv, lo, hi, want) if LayerListener.unionMs(iv, lo, hi) != want =>
    s"unionMs($iv, $lo, $hi) = ${LayerListener.unionMs(iv, lo, hi)}, want $want"
  }
}

/** One timed (or warm-up) operation. */
final case class OpRec(setup: Int, pass: Int, idx: Int, query: String,
    kind: String, gen: Int, traced: Boolean, startMs: Long, endMs: Long,
    wall: Double, construct: Double, plan: Double, exec: Double,
    ok: Boolean, err: String, fp: String, chain: Int,
    extra: Map[String, Double])

final class Harness(opts: Map[String, String], jvmBootS: Double, entryNs: Long) {
  val workload: String = opts("workload")
  val data: String = opts("data")
  val work: String = opts("work")
  val out: String = opts("out")
  val seconds: Double = opts("seconds").toDouble
  val seed: Long = opts("seed").toLong
  val trace: Boolean = opts("trace") == "1"
  val cores: Int = opts("cores").toInt
  val panel: Seq[String] = Workloads.panel(workload)
  // untimed warm-up passes: after one, the timed passes still ran up to
  // 30 % slow while the JIT caught up
  val warmups = 2
  // a traced run needs two untraced and two traced passes (see run())
  val minPasses: Int = if (trace) 4 else Workloads.minPasses(workload)
  val oracleOut: Option[String] = opts.get("oracle-out")

  val spans = new Spans(entryNs)
  private var spark: SparkSession = _
  private var listener: LayerListener = _
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private var setupS = 0.0
  private var buildS = 0.0
  private val materializeRefreshes = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val serving =
    if (workload == "serving")
      Some(new Serving(data, opts("batches"), s"$work/artifacts", spans))
    else None

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (trace) {
      listener = new LayerListener
      s.sparkContext.addSparkListener(listener)
    }
    s
  }

  /** Bench's between-operation hygiene, off the clock. */
  private def resetState(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def gen: Int = serving.map(_.refreshes).getOrElse(0)

  /** construct → plan → execute one query, phase-tagged when traced. */
  private def runQuery(setup: Int, pass: Int, idx: Int, q: String,
      traced: Boolean): OpRec = {
    val sc = spark.sparkContext
    val key = s"s$setup.p$pass.o$idx"
    def phase[A](p: String)(body: => A): (A, Double) = {
      if (traced) sc.setJobGroup(s"$q/$p", s"op:$key")
      val t0 = System.nanoTime()
      val a = spans(p, q)(body)
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val chain = serving.map(_.chain).getOrElse(0)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var c, p, e = 0.0
    var fp = ""
    var err = ""
    spans("op", q) {
      try {
        val (df, tc) = phase("construct") { graft.SparkEntry.queries(q)(spark, data) }
        c = tc
        val (fpDf, tp) = phase("plan") {
          val f = Fingerprint.of(df)
          f.queryExecution.executedPlan
          f
        }
        p = tp
        val (row, te) = phase("execute") { fpDf.collect().head }
        e = te
        fp = Fingerprint.render(row)
      } catch {
        case t: Throwable =>
          err = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    if (traced) sc.clearJobGroup()
    resetState()
    OpRec(setup, pass, idx, q, "read", gen, traced, startMs, endMs, wall, c, p,
      e, err.isEmpty, err, fp, chain, Map.empty)
  }

  private def runRefresh(pass: Int, idx: Int, traced: Boolean): OpRec = {
    val sv = serving.get
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup("refresh/refresh", s"op:s0.p$pass.o$idx")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var err = ""
    var extra = Map.empty[String, Double]
    spans("refresh", "refresh") {
      try extra = sv.refresh(spark)
      catch {
        case t: Throwable =>
          err = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    if (traced) sc.clearJobGroup()
    resetState()
    OpRec(0, pass, idx, "refresh", "refresh", sv.refreshes, traced, startMs,
      endMs, wall, 0, 0, 0, err.isEmpty, err, "", sv.chain, extra)
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(panel)

  def run(): Unit = {
    // ---- set-up: JVM boot, session + extension start, artifact builds
    // (serving), untimed warm-up passes over the panel (serving: reads
    // only)
    spans("setup") {
      spark = spans("session") { newSession() }
      serving.foreach(sv => buildS = spans("builds") { sv.build(spark) })
      spans("warmup") {
        (1 to warmups).foreach { w =>
          order(-w).zipWithIndex.foreach { case (q, i) =>
            ops += runQuery(w, -1, i, q, traced = false)
          }
        }
      }
    }
    setupS = jvmBootS + (System.nanoTime() - entryNs) / 1e9

    // ---- timed passes. A pass is one run of the panel in seeded order
    // (serving: followed by one refresh). Passes run whole until
    // `seconds` have elapsed and at least `minPasses` ran. A traced run
    // traces passes 1 and 2 of every 4 (U T T U), so its untraced passes
    // bracket the traced ones and warm-up drift falls equally on both
    // when it reports its own overhead.
    val timedStart = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    def more: Boolean = serving match {
      case Some(sv) => sv.batchesLeft && (pass < minPasses || elapsed < seconds)
      case None => pass < minPasses || elapsed < seconds
    }
    while (more) {
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      spans("pass") {
        order(pass).zipWithIndex.foreach { case (q, i) =>
          ops += runQuery(0, pass, i, q, traced)
        }
        serving.foreach(_ => ops += runRefresh(pass, panel.size, traced))
      }
      pass += 1
    }
    val rssMb = peakRssMb()

    // ---- traced run: per-operation layer totals, then the
    // microbenchmarks (off the clock)
    val layers = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    val micro = mutable.LinkedHashMap.empty[String, Double]
    val microErrs = mutable.ArrayBuffer.empty[String]
    var storagePeakMb = 0.0
    if (trace) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      ops.filter(_.traced).foreach { o =>
        layers(s"${o.pass}.${o.idx}") = layerTotals(o)
      }
      storagePeakMb = listener.peakBlockBytes / 1048576.0
      val m = new Micro(spark, data, spans)
      spans("micro") {
        micro ++= m.kernels()
        val manifest = readManifest()
        val (pm, errs) = m.parsers(manifest("log4j_malformed"), manifest("jobhistory_malformed"))
        micro ++= pm
        microErrs ++= errs
        micro("sources.scan_s") = m.scans(Workloads.scanTables(workload))
        if (serving.isEmpty) materializeCycle()
      }
    }

    // serving: only the reads of refreshed artifacts are replayed on
    // the grown corpus; the other reads' artifacts are built once per
    // JVM from the set-up corpus, and the fingerprint check covers them
    val oracleSubset = panel.filter(graft.SparkEntry.oracleSql.contains)
      .filter(q => serving.isEmpty || Workloads.Refreshed(q))
    writeResult(rssMb, layers, micro, microErrs.toSeq, storagePeakMb, oracleSubset, pass)

    // ---- oracle replay, off the clock and last: graft.Verify stops
    // the session when it is done
    oracleOut.foreach { dir =>
      if (oracleSubset.nonEmpty)
        graft.Verify.main(Array(data, dir, oracleSubset.mkString(",")))
    }
  }

  /** A workload without a serving loop still reports the Materialize
    * layer: one refresh cycle over a private copy of its corpus — the
    * two full builds, one append, one append + compaction. */
  private def materializeCycle(): Unit = {
    val corpus = s"$work/materialize-corpus"
    Seq("documents", "events").foreach { t =>
      val dir = java.nio.file.Paths.get(s"$corpus/$t.parquet")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$data/$t.parquet"),
        dir.resolve("part-00000.parquet"))
    }
    val sv = new Serving(corpus, opts("batches"), s"$work/materialize-artifacts", spans)
    spans("materialize_cycle") {
      buildS = sv.build(spark)
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        val extra = sv.refresh(spark)
        materializeRefreshes += extra + ("wall_s" -> (System.nanoTime() - t0) / 1e9)
      }
    }
    Seq(sv.LexConf, sv.FeatConf).foreach(spark.conf.unset)
  }

  private def layerTotals(o: OpRec): Map[String, Double] = {
    val key = s"s${o.setup}.p${o.pass}.o${o.idx}"
    val phases = Seq("construct", "plan", "execute", "refresh")
      .flatMap(p => listener.byKey.get((key, p)).map(p -> _)).toMap
    def sum(f: PhaseTotals => Double) = phases.values.map(f).sum
    val busyMs = LayerListener.unionMs(phases.values.flatMap(_.intervals).toSeq,
      o.startMs, o.endMs)
    Map(
      "jobs" -> sum(_.jobs.toDouble),
      "stages" -> sum(_.stages.toDouble),
      "tasks" -> sum(_.tasks.toDouble),
      "construct_jobs" -> phases.get("construct").map(_.jobs.toDouble).getOrElse(0.0),
      "task_dur_s" -> sum(_.taskDurS),
      "run_s" -> sum(_.runS),
      "cpu_s" -> sum(_.cpuS),
      "gc_s" -> sum(_.gcS),
      "input_bytes" -> sum(_.inputBytes.toDouble),
      "spill_bytes" -> sum(_.spillBytes.toDouble),
      "shuffle_write_bytes" -> sum(_.shWriteBytes.toDouble),
      "shuffle_read_bytes" -> sum(_.shReadBytes.toDouble),
      "shuffle_records" -> sum(_.shRecords.toDouble),
      "busy_s" -> busyMs / 1e3)
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def readManifest(): Map[String, Long] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$data/manifest.json")), "UTF-8")
    Seq("log4j_malformed", "jobhistory_malformed").map { k =>
      k -> ("\"" + k + "\":\\s*(\\d+)").r.findFirstMatchIn(txt).get.group(1).toLong
    }.toMap
  }

  private def writeResult(rssMb: Double,
      layers: scala.collection.Map[String, Map[String, Double]],
      micro: scala.collection.Map[String, Double], microErrs: Seq[String],
      storagePeakMb: Double, oracleSubset: Seq[String], passes: Int): Unit = {
    val opsJson = ops.map { o =>
      Json(mutable.LinkedHashMap[String, Any](
        "setup" -> o.setup, "pass" -> o.pass, "idx" -> o.idx, "query" -> o.query,
        "kind" -> o.kind, "gen" -> o.gen, "traced" -> o.traced,
        "wall" -> o.wall, "construct" -> o.construct, "plan" -> o.plan,
        "exec" -> o.exec, "ok" -> o.ok, "err" -> o.err, "fp" -> o.fp,
        "chain" -> o.chain, "extra" -> o.extra,
        "layers" -> layers.get(s"${o.pass}.${o.idx}").filter(_ => o.setup == 0)))
    }
    val sv = serving
    val body = Json(mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "trace" -> trace, "panel" -> panel, "jvm_boot_s" -> jvmBootS,
      "setup_s" -> setupS, "build_s" -> buildS,
      "passes" -> passes, "peak_rss_mb" -> rssMb,
      "storage_peak_mb" -> storagePeakMb, "micro" -> micro,
      "micro_errors" -> microErrs, "oracle_subset" -> oracleSubset,
      "materialize_refreshes" -> materializeRefreshes,
      "refreshes" -> sv.map(_.refreshes), "compactions" -> sv.map(_.compactions),
      "replay_chain" -> sv.map(_.chain),
      "spark_version" -> spark.version))
    val path = java.nio.file.Paths.get(out)
    java.nio.file.Files.writeString(path,
      body.dropRight(1) + ",\"ops\":[" + opsJson.mkString(",\n") + "]}\n")
    if (trace) {
      val sp = spans.all.map { s =>
        Json(mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name,
          "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "query" -> s.query))
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out + ".spans.jsonl"),
        sp.mkString("", "\n", "\n"))
    }
  }
}
