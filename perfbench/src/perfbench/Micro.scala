package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{LogLineParser, Tables}

/** Off-the-clock microbenchmarks of single layers, run by the traced
  * run after its timed passes. Kernels go through the `graft_*` SQL
  * functions the session extension registers, over cached inputs, so
  * the figure is the kernel's per-row cost plus a cached scan; parsers
  * and table scans go through the public `sources` entry points and
  * read every output column. Each figure is the median of three. */
final class Micro(spark: SparkSession, data: String, spans: Spans) {
  private val reps = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(name: String)(body: => Any): Double =
    median((1 to reps).map { _ =>
      spans(name) {
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
    })

  private def fp(df: DataFrame): String = Fingerprint.render(Fingerprint.of(df).collect().head)

  /** ns per input row (or pair) of each native kernel. */
  def kernels(): Map[String, Double] = {
    val words = spark.read.parquet(s"$data/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    // 20 salted copies of the corpus: enough rows for a stable per-row
    // figure without a bigger input file
    val sh = words.crossJoin(spark.range(20).toDF("r"))
      .select((col("doc_id") * 100 + col("r")).as("id"),
        expr("transform(w, x -> xxhash64(x, r))").as("sh"))
      .cache()
    val nSh = sh.count().toDouble
    val sigs = sh.selectExpr("id % 200 as g", "graft_minhash_sig(sh) as sig").cache()
    sigs.count()
    val vecs = spark.read.parquet(s"$data/embeddings.parquet").select("vec_id", "embedding")
    val pairs = vecs.limit(400).toDF("a", "x").crossJoin(vecs.limit(100).toDF("b", "y")).cache()
    val nPairs = pairs.count().toDouble
    val jh = spark.read.text(s"$data/raw/jobhistory").cache()
    val nJh = jh.count().toDouble
    def ns(t: Double, n: Double) = t / n * 1e9
    val out = Map(
      "plans.minhash_sig_ns_per_row" -> ns(timed("plans.minhash_sig") {
        sh.selectExpr("sum(cast(xxhash64(graft_minhash_sig(sh)) as decimal(38,0)))").collect() }, nSh),
      "plans.simhash_sig_ns_per_row" -> ns(timed("plans.simhash_sig") {
        sh.selectExpr("sum(cast(graft_simhash_sig(sh) as decimal(38,0)))").collect() }, nSh),
      "plans.minhash_union_ns_per_row" -> ns(timed("plans.minhash_union") {
        sigs.groupBy("g").agg(expr("graft_minhash_union(sig)").as("u"))
          .selectExpr("sum(cast(xxhash64(u) as decimal(38,0)))").collect() }, nSh),
      "plans.cosine_ns_per_pair" -> ns(timed("plans.cosine") {
        pairs.selectExpr("sum(graft_cosine(x, y))").collect() }, nPairs),
      "plans.jobhistory_attrs_ns_per_row" -> ns(timed("plans.jobhistory_attrs") {
        jh.selectExpr("sum(size(graft_jobhistory_attrs(value)))").collect() }, nJh))
    Seq(sh, sigs, pairs, jh).foreach(_.unpersist(blocking = true))
    out
  }

  /** Parser throughput and reject ratio, checked against the
    * generator's malformed-line counts. Returns (metrics, failures). */
  def parsers(log4jMalformed: Long, jobhistoryMalformed: Long)
      : (Map[String, Double], Seq[String]) = {
    val logPath = s"$data/raw/log4j"
    val jhPath = s"$data/raw/jobhistory"
    val nLog = spark.read.text(logPath).count().toDouble
    val nJh = spark.read.text(jhPath).count().toDouble
    val tLog = timed("sources.readLog4j") { fp(LogLineParser.readLog4j(spark, logPath)) }
    val tJh = timed("sources.parseJobHistory") {
      fp(LogLineParser.parseJobHistory(spark.read.text(jhPath))) }
    val rejLog = LogLineParser.readLog4j(spark, logPath).filter(col("level").isNull).count()
    val rejJh = LogLineParser.parseJobHistory(spark.read.text(jhPath))
      .filter(col("event").isNull).count()
    val errs = Seq(
      if (rejLog != log4jMalformed)
        Some(s"readLog4j rejected $rejLog lines, generator wrote $log4jMalformed malformed")
      else None,
      if (rejJh != jobhistoryMalformed)
        Some(s"parseJobHistory rejected $rejJh lines, generator wrote $jobhistoryMalformed malformed")
      else None).flatten
    (Map("sources.parse_rows_per_s" -> nLog / tLog,
      "sources.parse_reject_ratio" -> rejLog / nLog,
      "sources.jobhistory_rows_per_s" -> nJh / tJh), errs)
  }

  /** Seconds to scan every column of the workload's input tables. */
  def scans(tables: Seq[String]): Double =
    tables.map { t =>
      timed(s"sources.scan.$t") {
        fp(if (t == "events") Tables.events(spark, data) else Tables.table(spark, data, t))
      }
    }.sum
}
