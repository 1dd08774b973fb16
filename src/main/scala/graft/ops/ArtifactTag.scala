package graft.ops

import org.apache.spark.sql.SparkSession

/** Corpus-tag sidecar for persisted artifacts (`_graft_corpus` inside
  * the artifact directory): the writer records WHICH corpus the
  * artifact was built from, and every reader verifies the tag against
  * the corpus it is about to serve — so the binding travels WITH the
  * artifact (durable across JVMs and sessions), not in first-reader-
  * wins process state. A session that leaves `graft.cc.labelsPath`
  * pointing at corpus A's labels and then queries corpus B fails
  * loudly instead of silently scoring B's documents with A's labels.
  *
  * Written through the Hadoop FileSystem API, so the sidecar lands
  * next to the parquet files on whatever storage the artifact uses
  * (local dir, HDFS, object store).
  *
  * Refresh discipline: artifacts are IMMUTABLE per cycle — a refresh
  * writes to a NEW path and flips the conf/pointer, never overwrites
  * in place (an in-place `mode("overwrite")` deletes the directory —
  * sidecar included — before rewriting, so a concurrent reader would
  * see a missing tag or half-written parquet; no sidecar can make
  * overwrite-in-place reader-safe). */
object ArtifactTag {

  private val Name = "_graft_corpus"

  /** Record `tag` (the source-corpus directory) inside the artifact
    * at `path`. Overwrites any previous tag — an artifact rebuilt
    * from a different corpus re-binds. */
  def write(s: SparkSession, path: String, tag: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, Name)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(tag.getBytes("UTF-8")) finally out.close()
  }

  /** Whether the artifact at `path` carries a tag at all — its
    * writer's commit point: the Materialize writers write the tag
    * LAST, after every part and the props sidecar, so an untagged
    * directory is a torn or failed write. */
  def committed(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, Name)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Require that the artifact at `path` was written for corpus
    * `tag`. Throws on a missing sidecar (an artifact not written
    * through the tagged writer is not admissible) or a mismatch. */
  def require(s: SparkSession, path: String, tag: String): Unit = {
    val got = readTag(s, path)
    Predef.require(got == tag,
      s"artifact at $path was built for corpus $got, " +
        s"requested for $tag")
  }

  /** The recorded corpus tag itself — for chain walkers that must
    * verify every generation against the HEAD's binding
    * ([[Materialize.genChain]]). Owns the missing-sidecar refusal
    * [[require]] delegates to (one definition — the two messages had
    * already drifted). */
  def readTag(s: SparkSession, path: String): String = {
    val got = read(s, path, Name)
    Predef.require(got.isDefined,
      s"artifact at $path carries no $Name tag — rebuild it with the " +
        "Materialize writer (the tag is what prevents serving one " +
        "corpus with another corpus's artifact)")
    got.get
  }

  private val PropsName = "_graft_props"

  /** Version of the provenance FORMAT — specifically the content-
    * checksum formula (the per-row hash [[Materialize.ccSliceChecksum]]
    * and every refresh admission XOR) a
    * reader replays against `content_xor`. Bumped when the formula
    * changes (round 11 moved from a string concat to separate
    * xxhash64 args + a null sentinel — v2); without this key a
    * formula change made every older artifact fail the content guard
    * with a message that misdiagnosed the cause as id reuse or
    * in-place edits (round-11 advisor finding). Writers stamp it as
    * `prov_ver`; every reader that replays the checksum calls
    * [[requireProvVersion]] FIRST, so a format change reads as
    * "rebuild: provenance format changed", not as corpus corruption. */
  val ProvVersion = "2"

  /** Refuse an artifact whose provenance format differs from what
    * this engine writes and replays — BEFORE any checksum comparison,
    * so the error names the real cause. One-time rebuild after an
    * engine upgrade; see DEPLOY.md. */
  def requireProvVersion(props: Map[String, String], path: String): Unit =
    Predef.require(props.get("prov_ver").contains(ProvVersion),
      s"artifact at $path carries provenance format " +
        s"v${props.getOrElse("prov_ver", "1 (pre-version)")} but this " +
        s"engine writes and replays v$ProvVersion — the content-" +
        "checksum formula changed, so the content guard cannot be " +
        "replayed against it; rebuild the artifact with the current " +
        "Materialize writer (one-time after an engine upgrade, see " +
        "DEPLOY.md)")

  /** Record provenance key=value properties inside the artifact at
    * `path` (one `k=v` line each) — the writer-side half of the
    * round-9 advisor fix for cc_incremental's artifact contract: the
    * old-labels artifact carries the pair-stage configuration it was
    * built under AND a content checksum of the slice it labeled, so a
    * reader can refuse configuration drift and silent substitution
    * rather than trusting a row count. */
  def writeProps(s: SparkSession, path: String,
      props: Map[String, String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, PropsName)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    val body = props.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("\n")
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Read the provenance properties written by [[writeProps]]; empty
    * map when the artifact predates the props sidecar (readers decide
    * whether that is admissible). */
  def readProps(s: SparkSession, path: String): Map[String, String] =
    read(s, path, PropsName).fold(Map.empty[String, String]) { body =>
      body.split("\n").iterator.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap
    }

  private def read(s: SparkSession, path: String,
      name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, "UTF-8"))
    }
  }
}
