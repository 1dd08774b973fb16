package graft

import scala.collection.mutable
import scala.util.chaining._

import org.apache.spark.{GraftBlocks, GraftBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The dev mains' shared scaffolding, each piece once: the session
  * builder, the between-query reset, the scheduler listener, the plan
  * census, Bench's median-of-3 pass timer and the K×-scaled stress
  * corpus writer. */
private[graft] object Tool {

  /** Prints a main's usage line and why the arguments were refused,
    * and exits 2. */
  def usage(line: String, why: String): Nothing = {
    System.err.println(s"usage: $line\n$why")
    sys.exit(2)
  }

  /** Argument i as an integer ≥ min (None when absent); anything else
    * is refused through [[usage]]. */
  def intArg(args: Array[String], i: Int, name: String, min: Int,
      line: String): Option[Int] = args.lift(i).map { a =>
    a.toIntOption.filter(_ >= min)
      .getOrElse(usage(line, s"$name must be an integer >= $min, got '$a'"))
  }

  /** `SPARK_GRAFT_CPUS`, or the main's own default core count. */
  def cpus(default: String = "32"): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** local[cpus], shuffle partitions = cpus, UTC, no UI; `confs` apply
    * last. getOrCreate: a caller that already holds a session (perfbench
    * runs `Verify.main` in-process) gets it back with `confs` set. */
  def session(cpus: String, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Between-query hygiene, run off the clock: the dedup family
    * localCheckpoints its shingle index per invocation, and in one JVM
    * those blocks (hundreds of MB at 16×, MEMORY_AND_DISK) accumulate
    * until storage memory saturates and LATER queries pay eviction + GC
    * — measured as 3-5× wall inflation with UNCHANGED shuffle bytes
    * (the giveaway that it was the harness, not the operator). Queries
    * are independent jobs in production; drop leftover state between
    * them, without `RDD.unpersist`'s WARN per checkpointed RDD. */
  def reset(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    GraftBlocks.releaseAll(spark.sparkContext)
  }

  /** One stage: summed task time, task count, wall (submission →
    * completion, -1 if it never completed), shuffle bytes, and its RDD
    * scope names (which operator neighborhood it belongs to). */
  final case class Stage(id: Int, taskMs: Long, tasks: Int, wallMs: Long,
      readBytes: Long, writeBytes: Long, scopes: String)

  final case class Counts(jobs: Int, tasks: Int, taskMs: Long,
      stages: Seq[Stage]) {
    def readBytes: Long = stages.map(_.readBytes).sum
    def writeBytes: Long = stages.map(_.writeBytes).sum
  }

  /** Counts jobs, tasks and task time, in total and per stage, plus
    * each completed stage's wall time and shuffle bytes. Events arrive
    * asynchronously, so `reset` and `read` drain the listener bus
    * first: a late event is neither dropped nor charged to the next
    * measurement. */
  final class Listener private[Tool] (sc: SparkContext) extends SparkListener {
    private var jobs = 0
    private var tasks = 0
    private var taskMs = 0L
    private val stages = mutable.Map[Int, Stage]()
    private def stage(id: Int) =
      stages.getOrElse(id, Stage(id, 0L, 0, -1L, 0L, 0L, "?"))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) synchronized {
        val s = stage(e.stageId)
        stages(s.id) = s.copy(taskMs = s.taskMs + e.taskInfo.duration,
          tasks = s.tasks + 1)
        tasks += 1
        taskMs += e.taskInfo.duration
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = Option(si.taskMetrics)
      val wall = (for (s <- si.submissionTime; c <- si.completionTime)
        yield c - s).getOrElse(-1L)
      val scopes = si.rddInfos
        .flatMap(r => r.scope.map(_.name).orElse(Some(r.name)))
        .distinct.mkString(",").take(200)
      synchronized {
        stages(si.stageId) = stage(si.stageId).copy(wallMs = wall,
          readBytes = m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
          writeBytes = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          scopes = scopes)
      }
    }

    def reset(): Unit = {
      GraftBus.drain(sc)
      synchronized { jobs = 0; tasks = 0; taskMs = 0L; stages.clear() }
    }

    def read(): Counts = {
      GraftBus.drain(sc)
      synchronized {
        Counts(jobs, tasks, taskMs, stages.values.toSeq.sortBy(_.id))
      }
    }

    /** Runs `action` on the clock and [[Tool.reset]] off it; returns
      * the seconds, the result and the run's counts. */
    def measure[A](spark: SparkSession)(action: => A): (Double, A, Counts) = {
      reset()
      val t0 = System.nanoTime()
      val a = action
      val sec = (System.nanoTime() - t0) / 1e9
      Tool.reset(spark)
      (sec, a, read())
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  def listener(spark: SparkSession): Listener =
    new Listener(spark.sparkContext).tap(spark.sparkContext.addSparkListener)

  /** The formatted plan after one collect, so AQE has finalized it and
    * the codegen ids are real. */
  def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** (shuffles, broadcasts, codegen spans) of a formatted AQE-final
    * plan. Operators are counted in the final-plan TREE only (the
    * echoed initial plan would double-count); codegen ids come from the
    * shared details section (distinct ids). */
  def census(plan: String): (Int, Int, Int) = {
    val tree = plan.split("== Initial Plan ==")(0)
    ("""(?<!Broadcast)Exchange \(\d+\)""".r.findAllIn(tree).length,
      """BroadcastExchange \(\d+\)""".r.findAllIn(tree).length,
      """\[codegen id : \d+\]""".r.findAllIn(plan).toSeq.distinct.length)
  }

  def secs(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs each query once, with `reset` after every run, off the clock.
    * Query → seconds, or -1 if it threw. */
  def pass(spark: SparkSession, qs: Seq[(String, () => Any)])
      : Map[String, Double] = qs.map { case (name, run) =>
    val el = try secs(run()) catch { case _: Throwable => -1.0 }
    reset(spark)
    name -> el
  }.toMap

  /** Per query: (median, min, max) seconds over the timed passes. */
  type Stats = Seq[(String, (Double, Double, Double))]

  /** Bench's timing rule: one untimed warmup pass, so the timed passes
    * measure steady-state execution (JIT-compiled code, warm page
    * cache), then three timed passes with `reset` after every run, off
    * the clock. The median of three is noise-robust in both directions
    * where min hides sustained contention and mean chases one GC pause.
    * A query that throws in any pass reads (-1, -1, -1) — never its
    * near-zero elapsed time, which would silently deflate a total.
    * Returns the passes (query → seconds, -1 on failure) and the
    * per-query stats in `qs` order. */
  def medianOf3(spark: SparkSession, qs: Seq[(String, () => Any)])
      : (Seq[Map[String, Double]], Stats) = {
    pass(spark, qs)
    val passes = Seq(pass(spark, qs), pass(spark, qs), pass(spark, qs))
    (passes, qs.map { case (name, _) =>
      val ts = passes.map(_(name)).sorted
      name -> (if (ts.exists(_ < 0)) (-1.0, -1.0, -1.0)
               else (ts(1), ts(0), ts(2)))
    })
  }

  def failed(stats: Stats): Seq[String] =
    stats.collect { case (n, (m, _, _)) if m < 0 => n }

  /** Sum of the picked figure over the queries that did not fail. */
  def total(stats: Stats, pick: ((Double, Double, Double)) => Double)
      : Double = stats.map(s => pick(s._2)).filter(_ >= 0).sum

  /** `{"name":figure,…}` of the picked figure, in `stats` order. */
  def column(stats: Stats, pick: ((Double, Double, Double)) => Double)
      : String = obj(stats.map { case (k, v) => k -> pick(v) })

  /** A JSON object; each value is written as-is (a number or JSON). */
  def obj(kvs: Iterable[(String, Any)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  def strs(xs: Seq[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Writes `text` to `path`, creating missing parent dirs: a
    * repo-relative target assumes a repo-root cwd, and a run from
    * elsewhere must still land its measurement instead of dying at the
    * final write. */
  def writeFile(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, text)
  }

  /** Writes `df` as cpus-many parquet files: a 1-file corpus makes
    * every CPU-heavy scan (tokenize, shingle, winnow) run as ONE task,
    * so a curve would measure packing, not the operator. A real cluster
    * reads thousands of splits; cpus-many files model that here. */
  def writeParts(df: DataFrame, path: String): Unit =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)

  /** Doc-id namespace stride between the K scaled copies — ONE named
    * constant shared by the corpus builder and Stress's echo offset and
    * delta-refresh cut so the three can never drift: a stride change
    * in one place would otherwise silently cut the old/new boundary
    * mid-copy and measure a different batch than documented. */
  val CopyStride = 10000000L

  /** Key offset between [[keyCopies]]' copies. */
  val KeyOff = 1000000000L

  /** K copies of `df` unioned, copy i with every `keys` column offset
    * by i × [[KeyOff]]. */
  def keyCopies(df: DataFrame, k: Int, keys: String*): DataFrame =
    (0 until k).map(i => keys.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c) + lit(i.toLong * KeyOff)))).reduce(_ unionAll _)

  /** n vectors whose 64 components derive from xxhash64(vec_id,
    * component) — uniform in [-1, 1), which preserves the "random
    * directions, low pairwise cosine" regime of the original table. */
  def embeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(col("id"), j), lit(2000L)) - 1000L)
          .cast("double") / 1000.0).cast("float")).as("embedding"),
      pmod(col("id"), lit(10L)).as("label"))

  /** Writes the K×-scaled stress corpus of `sfDir` (deterministic, no
    * RNG) to a scratch dir, sets the retrieval query terms to match
    * it, and returns the dir. `graft.Stress K` times this corpus and
    * `graft.Profile … K` profiles it.
    *  - documents: K namespaced copies — every token is prefixed with a
    *    per-copy letter tag (regexp on word boundaries), so copies
    *    share ZERO shingles: the result is K independent corpora in one
    *    table, and the near-dup structure (planted pairs, df
    *    distribution shape) scales exactly linearly. Appending
    *    identical copies instead would make every doc a K-clique of its
    *    clones — a quadratic artifact the real pipeline never sees.
    *  - embeddings: K × 5000 fresh vectors (see [[embeddings]]). */
  def scaledCorpus(spark: SparkSession, sfDir: String, k: Int): String = {
    val dir = graft.ops.Scratch.dir(s"stress-x$k")
    val base = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val copies = (0 until k).map { i =>
      val tag = "q" + ('a' + i).toChar // letters only: a digit would
      // split the token under the [^a-z]+ tokenizer
      base.select(
        (col("doc_id") + lit(i.toLong * CopyStride)).as("doc_id"),
        regexp_replace(col("text"), "([a-z]+)", tag + "$1").as("text"),
        lit(s"src$i").as("source"))
        .withColumn("lang", lit("xx"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    // a K-copy union otherwise lands as K parquet files (1 at K=1),
    // and the driver testdata is a single sub-128MB file either way
    writeParts(copies.reduce(_ unionAll _), s"$dir/documents.parquet")
    embeddings(spark, k * 5000L)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // relational fact scaling: K orderkey-offset copies of orders +
    // lineitem (each copied order keeps its own basket under a fresh
    // orderkey — basket sizes and join fan-outs stay constant, row
    // volume scales exactly K×); dims (customer/supplier/part/nation/
    // region) are fixed, as at a real site where facts grow and
    // reference data doesn't — per-customer/supplier activity thus
    // grows K×, which is the skew direction that stresses the
    // partitioned windows and semi/anti joins
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey").foreach {
      case (t, key) =>
        keyCopies(graft.sources.Tables.table(spark, sfDir, t), k, key)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      graft.sources.Tables.table(spark, sfDir, t)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // events: K user-offset copies (event ids re-keyed too) — user
    // count grows K×, per-user timeline density stays constant: the
    // organic growth direction for sessionization and the stream-
    // stream interval join (whose state is per-user). ts round-trips
    // as the raw ns BIGINT (Tables.events re-derives ts_us).
    keyCopies(graft.sources.Tables.events(spark, sfDir).select("event_id",
        "ts", "user_id", "event_type", "value", "props"), k,
        "event_id", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // the lexical retrieval terms must exist in the tag-prefixed
    // synthetic vocabulary: one query-term set per copy tag, so
    // per-term df stays 1/K of docs and total term-row volume scales
    // exactly K× (query volume per sub-corpus constant)
    spark.conf.set(graft.ops.GraftConf.QTerms.key,
      (0 until k).map(i => "q" + ('a' + i).toChar)
        .flatMap(t => graft.operators.Retrieval.QTerms.map(t + _))
        .mkString(","))
    dir
  }
}
