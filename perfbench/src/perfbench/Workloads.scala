package perfbench

/** The three workloads' operation lists. Each is a panel drawn from a
  * query family (README.md lists the families): the queries that
  * exercise the layers the workload exists to measure, few enough that
  * a run fits the benchmark's run budget. */
object Workloads {

  /** Scans, JSON extraction, sessionizing, percentiles and both
    * raw-line parsers (log4j ingest and JobHistory attrs). */
  val LogsBench: Seq[String] = Seq("log_counts_by_type",
    "log_json_extract", "log_sessionize", "log_percentiles",
    "log_ingest_parse", "log_jobhistory_stats")

  /** The connected-components loop over near-duplicate pairs (eager
    * localCheckpoint construction, most of the workload's jobs), SimHash
    * signatures and candidate pairs, and a per-row text scorer. */
  val CurationBench: Seq[String] = Seq("dedup_clusters", "dedup_simhash",
    "text_quality")

  /** Reads of both refreshed artifacts plus one vector and two
    * signature-index reads. The other from-index reads (IVF, PQ,
    * IVF-PQ, pair graph, CC labels) build their artifacts during
    * set-up, which would double it. */
  val ServingBench: Seq[String] = Seq("bm25_from_index",
    "phrase_from_index", "feature_pit_from_index", "ann_sq_from_index",
    "dedup_simhash_from_index", "dedup_minhash_from_index")

  /** Reads of the two artifacts a refresh rewrites; the serving
    * oracle replay checks these on the grown corpus. */
  val Refreshed: Set[String] = Set("bm25_from_index", "phrase_from_index",
    "feature_pit_from_index")

  def panel(workload: String): Seq[String] = workload match {
    case "logs" => LogsBench
    case "curation" => CurationBench
    case "serving" => ServingBench
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Timed passes an untraced run makes at least. A curation pass is
    * short and its first timed passes still ran up to 30 % slower than
    * the later ones, so six passes keep the median on the settled ones;
    * three serving passes give three refreshes and two compactions. */
  def minPasses(workload: String): Int = workload match {
    case "curation" => 6
    case "serving" => 3
    case _ => 4
  }

  /** Tables whose plain scan `sources.scan_s` times, per workload. */
  def scanTables(workload: String): Seq[String] = workload match {
    case "logs" => Seq("events", "orders")
    case "curation" => Seq("documents", "embeddings")
    case _ => Seq("documents", "events", "embeddings")
  }
}
