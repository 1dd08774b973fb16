package graft.ops

import org.apache.spark.sql.SparkSession

/** Every `graft.*` Spark conf knob, declared once: key, default, range
  * and a one-line doc. README's "Knobs" list mirrors [[all]]
  * (ContractSpec), and no other file under `src/main` names a key.
  *
  * Every read parses and range-checks the value and throws
  * IllegalArgumentException naming the key on a bad one. A knob whose
  * default is `None` selects a derived rule or the in-query mode while
  * unset. */
private[graft] object GraftConf {

  /** The value shapes a knob can take; [[Knob.range]] renders one. */
  sealed trait Kind
  /** An integer in [lo, hi]. */
  final case class Num(lo: Long, hi: Long) extends Kind
  /** `true` or `false`, in any case. */
  case object Flag extends Kind
  /** Free text, checked by the knob's own parse. */
  final case class Text(what: String) extends Kind

  final class Knob[T] private[GraftConf] (val key: String, val default: T,
      val kind: Kind, val doc: String, parse: String => Option[T]) {

    /** The value session `s` sets, else the default. */
    def apply(s: SparkSession): T =
      s.conf.getOption(key).fold(default) { v =>
        parse(v).getOrElse(throw new IllegalArgumentException(
          s"$key must be $range, got '$v'"))
      }

    /** [[apply]] on the active session — for code that builds columns
      * inside a query method without a session parameter, where one is
      * always active. */
    def active: T = SparkSession.getActiveSession.fold(default)(apply)

    /** The dump-time value for a knob an oracle text interpolates. The
      * oracle map is a plain string map with no session, so the value
      * folds the default in per live session, over the active and the
      * default session. Two sessions that disagree are refused: the
      * dumped SQL would carry one value while a Spark plan uses the
      * other. With no session the default applies, so oracle text
      * stays constructible session-free. */
    def oracle: T = {
      val vals = (SparkSession.getActiveSession.toSeq ++
        SparkSession.getDefaultSession).distinct.map(apply).distinct
      require(vals.size <= 1,
        s"$key is ambiguous at oracle-dump time: the live sessions " +
          s"resolve ${vals.map(show).mkString(" vs ")}; dump from a " +
          "single session or align the conf")
      vals.headOption.getOrElse(default)
    }

    def range: String = kind match {
      case Num(lo, hi) if hi >= Int.MaxValue => s"an integer >= $lo"
      case Num(lo, hi) => s"an integer in [$lo, $hi]"
      case Flag => "true or false"
      case Text(what) => what
    }

    def defaultText: String = show(default)
  }

  private def show(v: Any): String = v match {
    case None => "unset"
    case Some(x) => show(x)
    case s: Seq[_] => s.mkString(",")
    case x => x.toString
  }

  private def num[T](key: String, default: T, lo: Long, hi: Long,
      doc: String)(to: Long => T): Knob[T] =
    new Knob(key, default, Num(lo, hi), doc,
      _.toLongOption.filter(v => v >= lo && v <= hi).map(to))
  private def int(key: String, default: Int, lo: Int, doc: String,
      hi: Int = Int.MaxValue): Knob[Int] =
    num(key, default, lo, hi, doc)(_.toInt)
  private def long(key: String, default: Long, doc: String): Knob[Long] =
    num(key, default, 1L, Long.MaxValue, doc)(identity)
  private def optInt(key: String, lo: Int, hi: Int,
      doc: String): Knob[Option[Int]] =
    num[Option[Int]](key, None, lo, hi, doc)(v => Some(v.toInt))
  private def flag(key: String, doc: String): Knob[Boolean] =
    new Knob(key, false, Flag, doc, _.toBooleanOption)
  private def path(key: String, doc: String): Knob[Option[String]] =
    new Knob[Option[String]](key, None, Text("a path"), doc,
      v => Option.when(v.nonEmpty)(Some(v)))

  // ——— corpus-wide modes
  val TextUnicode = flag("graft.text.unicode",
    "every text and dedup operator tokenizes Unicode words (default: ASCII, " +
      "the oracle's split)")
  /** The ORACLE-REPLAYABLE hash mode for the sketch family
    * (MinHash/SimHash signatures, their band keys, and the shingle-set
    * hashes they verify over). Default OFF = `xxhash64` leaf hashes +
    * the splitmix64 permutation core — the scale default: one
    * engine-native 64-bit hash per gram/token, nothing to parse. ON =
    * md5-derived integer hashes ([[Fns.md5Hash52]] / [[Fns.md5Hash64]])
    * + a universal-family permutation core ([[graft.plans.UniHash]])
    * that DuckDB replays digit-for-digit, making the WHOLE LSH
    * pipeline — signatures → band keys → candidate join → exact
    * verification — hash-gateable end to end. [[graft.Verify]] turns
    * this on for the correctness dump; every other entry point (Bench,
    * Stress, serving) keeps the scale default, and DedupSpec pins the
    * two modes' verified pair sets equal on the fixture corpus. Read
    * at plan-construction time from the active session. */
  val Md5Mode = flag("graft.hash.md5Mode",
    "the sketch family hashes with md5-derived integers DuckDB replays; " +
      "graft.Verify turns it on")
  val SpreadParts = optInt("graft.scan.spreadParts", 0, Int.MaxValue,
    "partitions Spread fans a single-split scan out to; unset = default " +
      "parallelism, 0 or 1 = off")
  val QTerms = new Knob[Seq[String]]("graft.retrieval.qterms",
    graft.operators.Retrieval.QTerms,
    Text("comma-separated terms, at least one"),
    "lexical retrieval query terms; the stress corpora set their own, the " +
      "oracles replay the default",
    v => Some(v.split(",").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty))

  // ——— near-dup candidates and graphs
  val MaxShingleDf = int("graft.dedup.maxShingleDf", 100, 1,
    "hot-shingle cap of dedup_containment and dedup_incremental")
  val LshPlanes = optInt("graft.lsh.planes", 1, 24,
    "dedup_embedding_lsh hyperplanes per band; unset = scales with the corpus")
  val DbscanLshPlanes = optInt("graft.dbscan.lshPlanes", 1, 24,
    "cluster_dbscan pair stage: hyperplane-LSH candidates with this many " +
      "planes; unset = guarded all-pairs")
  val SemanticCellSize = num[Option[Long]]("graft.semantic.cellSize",
    None, 1L, Long.MaxValue,
    "dedup_semantic cell occupancy, cells = ceil(n / size); unset = the " +
      "256-capped oracle recipe")(Some(_))
  val BruteforceMaxRows = long("graft.bruteforce.maxRows", 100000L,
    "the all-pairs oracle baselines throw above this many rows")
  val CcMaxIters = int("graft.cc.maxIters", 50, 1,
    "connected-components round cap on the distributed path (pair graphs " +
      "above 2^20 edges); throws on non-convergence")
  val PagerankIters = int("graft.pagerank.iters", 3, 1,
    "power-iteration rounds; raise for converged values on deep chains (> 3 " +
      "truncates lineage per round)")
  val PhashMaxBandDf = int("graft.phash.maxBandDf", 100, 1,
    "perceptual-hash hot-band cap")

  // ——— retrieval, similarity and curation
  val KnngraphNprobe = int("graft.knngraph.nprobe", 2, 1,
    "IVF cells each knn_graph_ivf probe scans", hi = 256)
  val MrrNProbes = int("graft.mrr.nProbes", 50, 1,
    "retrieval-eval probe panel size, a fixed count, never a corpus share")
  val BloomBits = long("graft.bloom.bits", 1L << 20,
    "bloom_decontaminate filter size in bits")
  val PpsTargetDocs = long("graft.pps.targetDocs", 50L,
    "sample_pps_tokens expected sample size in documents")
  val TempBudgetTokens = long("graft.mixture.tempBudgetTokens", 1000000L,
    "mixture_temperature_plan token budget")

  // ——— serving artifacts and their guards
  val PairsPath = path("graft.dedup.pairsPath",
    "Materialize.pairGraph artifact the pair-consuming queries read; unset = " +
      "pairs in-query")
  val VerifyPairsContent = flag("graft.dedup.verifyPairsContent",
    "replay the corpus checksum before serving from graft.dedup.pairsPath")
  val CcLabelsPath = path("graft.cc.labelsPath",
    "Materialize.ccLabels artifact the cluster family reads; unset = the CC " +
      "loop in-query")
  val CcOldLabelsPath = path("graft.cc.oldLabelsPath",
    "previous cycle's Materialize.ccLabelsOf artifact cc_incremental " +
      "contracts against; unset = midpoint replay")
  val MinhashOldIndexPath = path("graft.minhash.oldIndexPath",
    "previous cycle's minhash index; dedup_minhash_incremental takes its cut " +
      "from it")
  val SimhashOldIndexPath = path("graft.simhash.oldIndexPath",
    "previous cycle's simhash index; dedup_simhash_incremental takes its cut " +
      "from it")
  val LexIndexPath = path("graft.lex.indexPath",
    "lexical index bm25_from_index and phrase_from_index read; unset = built " +
      "once into scratch")
  val FeaturesStorePath = path("graft.features.storePath",
    "feature store feature_pit_from_index reads; unset = built once into " +
      "scratch")
  /** A deployment on an IMMUTABLE store may skip the below-cut content
    * hash (the one corpus-proportional md5 in a refresh) and keep only
    * the count guard — catches backfill and dropped rows, NOT 1:1
    * substitution or in-place edits, which an immutable store rules out
    * by construction. Default off: the checksum replay is the guard
    * that makes a refreshed artifact trustworthy on a mutable store. */
  val TrustOldContent = flag("graft.artifact.trustOldContent",
    "immutable stores: refresh writers and cc_incremental check the " +
      "below-cut slice by count only, not by checksum")

  val all: Seq[Knob[_]] = Seq(TextUnicode, Md5Mode, SpreadParts, QTerms,
    MaxShingleDf, LshPlanes, DbscanLshPlanes, SemanticCellSize,
    BruteforceMaxRows, CcMaxIters, PagerankIters, PhashMaxBandDf,
    KnngraphNprobe, MrrNProbes, BloomBits, PpsTargetDocs, TempBudgetTokens,
    PairsPath, VerifyPairsContent, CcLabelsPath, CcOldLabelsPath,
    MinhashOldIndexPath, SimhashOldIndexPath, LexIndexPath,
    FeaturesStorePath, TrustOldContent)
}
