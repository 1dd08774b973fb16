package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The materialized-output surface. A training-data pipeline's product
  * is not a DataFrame — it is a LAID-OUT dataset on storage: the deduped
  * corpus partitioned by split, the ANN index partitioned by cell, the
  * co-location layout future joins reuse. These writers encode the three
  * layouts that matter at 100 TB:
  *
  *  - '''partitioned''' (+ sorted): directory-level partition pruning
  *    (a reader of `split=valid` or `cid IN (…)` never lists the other
  *    directories) and tight parquet row-group min/max stats for
  *    range/point reads within a file;
  *  - '''bucketed''': hash-bucket + sort by join key at write time, so
  *    every future join/agg on that key plans with NO exchange
  *    (BucketedJoinSpec shows the shuffle-free SortMergeJoin);
  *  - '''survivorCorpus / ivfIndex''': the two concrete products the
  *    dedup and similarity suites promise — written through the
  *    writers above so their scale story is real, not a doc comment.
  */
object Materialize {

  /** WRITE-ONCE guard for serving artifacts (round-9 advisor fix): an
    * in-place `mode("overwrite")` to a caller-supplied path DELETES
    * the directory — `_graft_corpus` sidecar included — before
    * rewriting, so a concurrent reader of a shared path can observe a
    * missing tag or half-written parquet. [[ArtifactTag]]'s
    * immutable-per-cycle discipline (refresh = NEW path + pointer
    * flip) was previously enforced only by scaladoc; this makes the
    * writer refuse an existing non-empty target, so path reuse fails
    * loudly at write time instead of racing readers. Scratch-rooted
    * artifacts are unaffected (fresh per-JVM temp root + BuildOnce's
    * once-per-path guard). */
  private def requireFresh(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // ANY existing path fails — even an empty directory: the writers
    // split between path-direct (ccLabels, sqIndex — Spark's own
    // ErrorIfExists would refuse an empty pre-created dir with its
    // raw message) and subpath ($path/bands — which would silently
    // ACCEPT one), so without a uniform rule here the same
    // pre-created target is refused by one artifact kind and written
    // by another; and an existing-but-empty root is indistinguishable
    // from a half-deleted artifact, which write-once semantics must
    // treat as already-used
    require(!fs.exists(p),
      s"artifact target $path already exists — serving artifacts are " +
        "write-once per cycle (a refresh writes to a NEW path and " +
        "flips the conf pointer; overwriting in place races readers " +
        "of the old artifact). Pick a fresh path.")
  }

  /** Write `df` as partitioned + sorted parquet.
    *
    * `repartitionByRange` over (partitionCols ++ sortCols) gives every
    * writer task a contiguous slice of ONE partition value: write
    * parallelism stays at shuffle-partition width (a naive
    * `repartition(partitionCol)` funnels each partition value through a
    * single task — with 3 split values that is a 3-task write at any
    * corpus size), each output file lands in exactly one partition
    * directory (no small-file explosion from every task writing every
    * partition), and `sortWithinPartitions` makes the files disjoint
    * sorted ranges so parquet row-group min/max stats prune point and
    * range reads inside a partition. */
  def partitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    val keys = (partitionCols ++ sortCols).map(col)
    df.repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
  }

  /** Write `df` as a bucketed + sorted external table: rows hash to
    * `nBuckets` files by `bucketCol`, sorted within each bucket, so a
    * later join or aggregation on that key reads co-located sorted
    * buckets and plans without an exchange. Bucketing metadata lives in
    * the catalog (`saveAsTable` is required); `path` keeps the data
    * external so it outlives the catalog entry. */
  def bucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, nBuckets: Int, sortCols: Seq[String] = Nil): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol, sortCols.filterNot(_ == bucketCol): _*)
      .option("path", path)
      .saveAsTable(table)

  /** The deduped corpus + split assignment `survivorCorpus` writes,
    * exposed for the oracle-checked roundtrip query and the spec: every
    * exact-dedup survivor row (keep-min-doc_id per md5(text), the same
    * semantics as `dedup_exact_survivors`) with its reproducible
    * train/valid/test split. */
  def survivorFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val surv = docs
      .groupBy(md5(col("text")).as("m"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    docs.join(surv, "doc_id")
      .withColumn("split", Fns.splitOf(Fns.md5Bucket(col("text"))))
  }

  /** Materialize the training corpus: exact-dedup survivors written
    * `partitionBy(split)`, doc_id-sorted. A trainer reading
    * `split=train` prunes the valid/test directories at file-listing
    * time; doc_id range reads prune row groups. */
  def survivorCorpus(s: SparkSession, dir: String, path: String): Unit =
    partitioned(survivorFrame(s, dir), path, Seq("split"), Seq("doc_id"))

  /** The QUALITY-AWARE survivor corpus — [[survivorFrame]]'s sibling
    * for the near-dup/best-survivor policy: every document that
    * `dedup_best_survivor` elects (each near-dup cluster keeps its
    * highest-logit member; singleton clusters keep themselves), with
    * the same reproducible split. This is the corpus a real curation
    * run persists — exact-dedup survivors still carry the worst-OCR'd
    * copy of every near-dup template cluster. */
  def bestSurvivorFrame(s: SparkSession, dir: String): DataFrame = {
    val surv = graft.operators.Dedup.bestSurvivor(s, dir)
      .select(col("survivor_id").as("doc_id"))
    Tables.documents(s, dir).join(surv, "doc_id")
      .withColumn("split", Fns.splitOf(Fns.md5Bucket(col("text"))))
  }

  /** Materialize the best-survivor corpus `partitionBy(split)`,
    * doc_id-sorted — the nightly product the NEXT incremental run
    * dedups its batch against (DedupSpec pins the disk→
    * `Dedup.incrementalFrames` cycle ≡ the in-memory frame). */
  def bestSurvivorCorpus(s: SparkSession, dir: String, path: String): Unit =
    partitioned(bestSurvivorFrame(s, dir), path, Seq("split"), Seq("doc_id"))

  /** Write `df` range-partitioned on `range` and sorted within
    * partitions on `sort` — the layout rule every index part follows
    * ([[partitioned]]'s argument without the directory split): files
    * are disjoint sorted key ranges, so a key filter prunes row
    * groups. */
  private def sortedWrite(df: DataFrame, path: String, range: Seq[String],
      sort: Seq[String]): Unit =
    df.repartitionByRange(range.map(col): _*)
      .sortWithinPartitions(sort.map(col): _*)
      .write.parquet(path)

  /** Run a writer's independent steps concurrently — its part writes,
    * each with its own old-side reads, and its admission aggregate
    * beside its batch preparation ([[admit]]); return once every step
    * has finished, then rethrow the first failure (in completion order
    * — any later ones ride along as suppressed). A refresh is short
    * work: each step is a few small Spark jobs whose cost is mostly
    * driver and scheduler latency, so one step's jobs fill the cores
    * another's leave idle. The threads are created per call, so they
    * inherit the caller's Spark local properties (job group and
    * description — what every listener attributes jobs by) and its
    * active session; pooled threads would carry whatever properties
    * they were created under. Every step runs even when another
    * fails, so no write is still in flight when the writer throws —
    * and callers [[seal]] only after this returns. */
  private[graft] def concurrently(parts: (() => Unit)*): Unit = {
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = parts.map { p =>
      new Thread(() => {
        try p() catch { case t: Throwable => failures.add(t) }
        ()
      }, "graft-part")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failures.poll()).foreach { first =>
      failures.forEach(t => first.addSuppressed(t))
      throw first
    }
  }

  /** Write an artifact's sidecars once every part has landed: the
    * `_graft_props` provenance first, the `_graft_corpus` tag LAST.
    * The tag is the commit point — every reader and admission requires
    * it first — so a writer that fails, or a crash anywhere before the
    * tag lands, leaves an untagged directory whose reader refuses with
    * "carries no _graft_corpus tag — rebuild it", never a tagged
    * artifact with missing provenance. */
  private def seal(s: SparkSession, path: String, tag: String,
      props: Map[String, String]): Unit = {
    ArtifactTag.writeProps(s, path, props)
    ArtifactTag.write(s, path, tag)
  }

  /** Materialize the IVF ANN index the way `ann_ivf_topk`'s scale story
    * promises: the (vec_id, embedding, cid) assignment written
    * `partitionBy(cid)` under `path`/index — a query that probes
    * `nprobe` cells lists and reads nprobe/C of the data — plus the
    * (cid, cvec) coarse-quantizer centroids (C ≤ 256 rows, the tiny
    * driver-side metadata) under `path`/centroids. */
  def ivfIndex(s: SparkSession, dir: String, path: String): Unit =
    ivfIndexOf(s, Tables.embeddings(s, dir)
      .select("vec_id", "embedding"), path, dir)

  /** [[ivfIndex]] over an explicit (vec_id, embedding) slice — the
    * base build of the IVF generational append cycle
    * ([[ivfIndexAppend]]), write-once + vector-slice provenance. */
  def ivfIndexOf(s: SparkSession, vecs: DataFrame, path: String,
      tag: String): Unit = {
    requireFresh(s, path)
    val (index, cents) = graft.operators.Similarity.ivfBuildOf(s, vecs)
    concurrently(ivfParts(path, index, cents): _*)
    seal(s, path, tag, sliceProps(Vecs, vecs))
  }

  /** The IVF parts — cell-partitioned assignments + the centroid
    * copy; ONE layout for the full, append and compaction writers. */
  private def ivfParts(path: String, index: => DataFrame,
      cents: => DataFrame): Seq[() => Unit] = Seq(
    () => partitioned(index, s"$path/index", Seq("cid"), Seq("vec_id")),
    () => cents.coalesce(1).write.parquet(s"$path/centroids"))

  /** Materialize the MINHASH band-bucket index — the near-dup serving
    * artifact completing the from-index matrix on the DEDUP side the
    * way [[lexicalIndex]] completes retrieval and [[ivfIndex]]/
    * [[pqIndex]] complete ANN. `dedup_minhash_lsh` recomputes
    * tokenize→shingle→128-min signatures for the WHOLE corpus per
    * call; a nightly pipeline pays that once here, and every
    * subsequent candidate generation (full re-dedup, or a new-batch
    * scope à la `dedup_incremental`) is a pure equi-join over these
    * files:
    *
    *  - `path`/bands: (doc_id, band, band_sig) — the 64 LSH band keys
    *    per doc, band_sig-range-sorted so a bucket probe prunes to
    *    matching row groups;
    *  - `path`/sigs: (doc_id, hs, n) — the shingle-hash arrays the
    *    verification join reads, doc_id-range-sorted for the id-keyed
    *    point reads.
    */
  def minhashIndex(s: SparkSession, dir: String, path: String): Unit =
    minhashIndexOf(s,
      Tables.documents(s, dir).select("doc_id", "text"), path, dir)

  /** [[minhashIndex]] over an explicit (doc_id, text) corpus slice —
    * the OLD-corpus-only state `dedup_minhash_incremental` probes.
    * `tag` is the corpus directory the slice came from (the
    * [[ccLabelsOf]] tagging discipline); write-once + slice
    * provenance (n_docs, content_xor, max_doc_id): max_doc_id + 1 IS
    * the old/new cut an artifact-boundary reader or the next append
    * refreshes from (deriving it from the current table's midpoint
    * double-emits or drops docs the moment the artifact slice and
    * the midpoint disagree), and the checksum lets it refuse id
    * reuse, backfill, or in-place edits of already-indexed docs. */
  def minhashIndexOf(s: SparkSession, docs: DataFrame, path: String,
      tag: String): Unit = {
    requireFresh(s, path)
    val (bands, sigs) = graft.operators.Dedup.minhashIndexFramesOf(s, docs)
    concurrently(minhashParts(path, bands, sigs): _*)
    seal(s, path, tag, sliceProps(Docs, docs))
  }

  private def minhashParts(path: String, bands: DataFrame,
      sigs: DataFrame): Seq[() => Unit] = Seq(
    () => sortedWrite(bands, s"$path/bands", Seq("band", "band_sig"),
      Seq("band", "band_sig", "doc_id")),
    () => sortedWrite(sigs, s"$path/sigs", Seq("doc_id"), Seq("doc_id")))

  /** Materialize the SIMHASH banded-signature index — the
    * [[minhashIndex]] treatment for the simhash candidate family:
    * `path`/bands holds (doc_id, sig, k, bh) — each doc's 64-bit
    * signature with its four 16-bit band keys — (k, bh)-range-sorted
    * so a band-bucket probe prunes to matching row groups. The frame
    * is [[graft.operators.Dedup.simhashBanded]], the very one the
    * in-query `dedup_simhash` joins, so `dedup_simhash_from_index`
    * is row-identical by construction (DedupSpec pins it). */
  def simhashIndex(s: SparkSession, dir: String, path: String): Unit =
    simhashIndexOf(s,
      Tables.documents(s, dir).select("doc_id", "text"), path, dir)

  /** [[simhashIndex]] over an explicit (doc_id, text) slice — the
    * old-corpus-only index `dedup_simhash_incremental` point-probes
    * (the [[minhashIndexOf]] discipline, provenance included). */
  def simhashIndexOf(s: SparkSession, docs: DataFrame, path: String,
      tag: String): Unit = {
    requireFresh(s, path)
    simhashPart(path, graft.operators.Dedup.simhashBandedOf(s, docs))
    seal(s, path, tag, sliceProps(Docs, docs))
  }

  private def simhashPart(path: String, banded: DataFrame): Unit =
    sortedWrite(banded, s"$path/bands", Seq("k", "bh"),
      Seq("k", "bh", "doc_id"))

  /** GENERATIONAL (append-mode) refresh of the MINHASH band index —
    * the [[lexicalIndexAppend]] shape on the signature side, and the
    * most natural of all: bands and verification sigs are pure PER-DOC
    * facts, so a generation holds ONLY the batch's rows (band_sig- /
    * doc_id-range-sorted within the generation) plus a `parent`
    * pointer — there is no cumulative part at all. Write cost strictly
    * ∝ batch: no old doc is re-tokenized, re-signed, read, or
    * rewritten, and the provenance sidecar merges additively
    * ([[admit]]). Readers resolve the [[genChain]] and union
    * per-generation sorted scans — a band probe prunes row groups
    * inside every generation exactly as in a merged index. COMPACTION
    * = [[sigIndexCompact]]: a pure columnar chain-collapse re-sort, no
    * signature recompute. */
  def minhashIndexAppend(s: SparkSession, dir: String, oldPath: String,
      newPath: String): Unit = {
    requireFresh(s, newPath)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val (a, (bands, sigs)) = admit(s, dir, oldPath, Docs, docs,
        "minhash index",
        "re-sign the corpus with the full minhash writer instead") { cut =>
      graft.operators.Dedup.minhashIndexFramesOf(s,
        docs.filter(col("doc_id") >= cut))
    }
    concurrently(minhashParts(newPath, bands, sigs): _*)
    seal(s, newPath, dir, a.next + ("parent" -> oldPath))
  }

  /** [[minhashIndexAppend]] for the SIMHASH banded-signature index —
    * one (doc_id, sig, k, bh) part, same per-doc append shape. */
  def simhashIndexAppend(s: SparkSession, dir: String, oldPath: String,
      newPath: String): Unit = {
    requireFresh(s, newPath)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val (a, banded) = admit(s, dir, oldPath, Docs, docs,
        "simhash index",
        "re-sign the corpus with the full simhash writer instead") { cut =>
      graft.operators.Dedup.simhashBandedOf(s,
        docs.filter(col("doc_id") >= cut))
    }
    simhashPart(newPath, banded)
    seal(s, newPath, dir, a.next + ("parent" -> oldPath))
  }

  /** The shared COMPACTION shape of the signature and vector indexes:
    * the head's generation chain collapses into one merged write-once
    * artifact carrying the head's (cumulative, admission-verified)
    * provenance without a parent pointer. Pure columnar I/O —
    * `parts` read the chain ([[chainRead]]); nothing in these
    * artifacts is derived across docs, so nothing recomputes (the
    * lexical and feature compactions route through their merge
    * writers instead). */
  private def compact(s: SparkSession, dir: String, headPath: String,
      newPath: String)(parts: Seq[() => Unit]): Unit = {
    requireFresh(s, newPath)
    ArtifactTag.require(s, headPath, dir)
    val props = ArtifactTag.readProps(s, headPath)
    ArtifactTag.requireProvVersion(props, headPath)
    concurrently(parts: _*)
    seal(s, newPath, dir, props - "parent")
  }

  /** COMPACTION of a signature-index generation chain: the per-doc
    * parts chain-union → one range-re-sort each. `parts` maps part
    * name → (projection columns, range-sort key). */
  def sigIndexCompact(s: SparkSession, dir: String, headPath: String,
      newPath: String,
      parts: Map[String, (Seq[String], Seq[String])]): Unit =
    compact(s, dir, headPath, newPath)(parts.toSeq.map {
      case (part, (cols, sortCols)) => () =>
        sortedWrite(chainRead(s, headPath, dir, part, cols),
          s"$newPath/$part", sortCols, sortCols)
    })

  /** The minhash-index parts' (projection, range-sort key) layout —
    * shared by the compactor's callers and the spec (one
    * definition). */
  val MinhashParts: Map[String, (Seq[String], Seq[String])] = Map(
    "bands" -> (Seq("doc_id", "band", "band_sig"),
      Seq("band", "band_sig", "doc_id")),
    "sigs" -> (Seq("doc_id", "hs", "n"), Seq("doc_id")))

  /** The simhash-index part's layout. */
  val SimhashParts: Map[String, (Seq[String], Seq[String])] = Map(
    "bands" -> (Seq("doc_id", "sig", "k", "bh"),
      Seq("k", "bh", "doc_id")))

  /** Materialize the VERIFIED near-dup PAIR-GRAPH artifact — the
    * (a_id, b_id, inter, na, nb) frame [[graft.operators.Dedup
    * .ngramJaccard]] emits (exact Jaccard ≥ 0.5, a_id < b_id), written
    * (a_id, b_id)-range-sorted. This is the [[ccLabels]] discipline
    * applied one stage EARLIER: the cluster family serves off one
    * persisted label source, but the six pair-CONSUMING graph metrics
    * (degree_dist, pagerank, triangles, kcore, quality_delta,
    * cross_source_rate) each re-derived the same shingle scan +
    * candidate join in-query — a nightly audit running all six paid
    * the pair graph six times. Persist it once per refresh, set
    * `graft.dedup.pairsPath`, and every consumer starts from a pure
    * parquet scan of 5-long rows.
    *
    * Provenance (`_graft_props`): the [[PairStage]] stamp (readers
    * refuse any other) plus the [[sliceProps]] of the source corpus —
    * its max_doc_id is the cut [[pairGraphDelta]] refreshes from. */
  def pairGraph(s: SparkSession, dir: String, path: String): Unit =
    pairGraphOf(s, Tables.documents(s, dir).select("doc_id", "text"),
      path, dir)

  /** [[pairGraph]] over an explicit (doc_id, text) corpus slice —
    * `tag` is the corpus directory the slice came from (the
    * [[ccLabelsOf]] tagging discipline). Always computes fresh pairs
    * via the prefix-filter stage — never reads
    * `graft.dedup.pairsPath` back (the [[graft.operators.Dedup
    * .loopLabels]] self-reference rule). */
  def pairGraphOf(s: SparkSession, docs: DataFrame, path: String,
      tag: String): Unit = {
    requireFresh(s, path)
    pairsPart(path, graft.operators.Dedup.ngramJaccardOf(s, docs))
    seal(s, path, tag, sliceProps(Docs, docs) ++ PairStage)
  }

  private def pairsPart(path: String, pairs: DataFrame): Unit =
    sortedWrite(pairs, path, Seq("a_id", "b_id"), Seq("a_id", "b_id"))

  /** The pair-stage stamp a pair-derived artifact records — ONE
    * definition for the full writer, the delta writer, and the label
    * writer, so a reader's refusal always compares against the same
    * key. */
  private val PairStage: Map[String, String] = Map("pair_stage" -> "prefix")

  /** The reader side of [[PairStage]]: refuses a pair-derived artifact
    * (`what`) with any other stamp, or none — pairs from another
    * candidate stage (an older build's df-capped index) can miss the
    * hot-only pairs the prefix stage keeps. */
  private[graft] def requirePairStage(props: Map[String, String],
      what: String): Unit =
    require(props.get("pair_stage") == PairStage.get("pair_stage"),
      s"$what was built under pair stage " +
        s"'${props.getOrElse("pair_stage", "<none>")}' but graft builds " +
        "pairs only with the 'prefix' stage — rebuild the artifact")

  /** INCREMENTAL refresh of the pair-graph artifact — the last
    * rebuild-whole cost in the dedup serving story (round-11 verdict
    * task #1): instead of re-running the candidate join over the
    * whole corpus, the stored artifact's own `max_doc_id` provenance
    * DEFINES the old/new cut (its recorded max id + 1 — the
    * [[graft.operators.Dedup]] `oldIndexPath` discipline), old pairs
    * are a pure parquet scan of `oldPath`, and only the NEW-TOUCHING
    * pairs (b_id ≥ cut) are computed, via the delta-scoped candidate
    * stage ([[graft.operators.Dedup.deltaPairGraph]]: the self-join's
    * b side is new docs only, so candidate cost is Σ df·df_new over
    * prefix postings — linear in the batch where the full build's
    * Σ df² is linear in the corpus). The merged output is written
    * WRITE-ONCE to `newPath` with current-corpus provenance (parent ⊕
    * batch, see [[admit]]), so the next refresh deltas from it in
    * turn.
    *
    * Content contract: the output is row-identical to a full
    * [[pairGraph]] rebuild at every corpus (the prefix lemma is exact;
    * old pairs ARE the true old×old set, delta pairs ARE the true
    * new-touching set — DedupSpec pins the equality on a fixture whose
    * delta touches old pairs).
    *
    * Guards, in order: `_graft_corpus` tag must name THIS corpus;
    * an old artifact without the [[PairStage]] stamp is refused; then
    * the rest of [[admit]]'s matrix (a stale pair graph silently
    * corrupts every downstream graph metric). */
  def pairGraphDelta(s: SparkSession, dir: String, oldPath: String,
      newPath: String): Unit = {
    requireFresh(s, newPath)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val (a, deltaPairs) = admit(s, dir, oldPath, Docs, docs,
        "pair-graph artifact", "run the full pairGraph build instead",
        requirePairStage(_, s"pair-graph artifact at $oldPath"))(
      graft.operators.Dedup.deltaPairGraph(s, dir, _))
    pairsPart(newPath, Parquet.read(s, oldPath)
      .select("a_id", "b_id", "inter", "na", "nb").unionAll(deltaPairs))
    seal(s, newPath, dir, a.next ++ PairStage)
  }

  /** Materialize the connected-component LABEL artifact — the
    * (doc_id, cluster_id) frame `dedup_clusters`' pointer-jumping
    * loop produces, written doc_id-range-sorted. DEPLOY.md prescribes
    * persisting this once per refresh: four queries (clusters,
    * soft_weights, best_survivor, cluster_size_dist) all start from
    * the same CC labeling, and a serving/audit pass
    * (`dedup_clusters_from_index`) should read the label files — a
    * pure parquet scan with doc_id row-group pruning — never re-run
    * the O(log diameter) loop. The incremental path
    * (`cc_incremental`) then contracts THIS artifact's components
    * instead of recomputing the old half. */
  def ccLabels(s: SparkSession, dir: String, path: String): Unit =
    writeCcLabels(s, graft.operators.Dedup.loopLabels(s, dir),
      Tables.documents(s, dir).select("doc_id", "text"), path, dir,
      guardPairs = true)

  /** [[ccLabels]] over an explicit (doc_id, text) corpus slice — the
    * OLD-corpus-only state `cc_incremental` contracts against when
    * `graft.cc.oldLabelsPath` points here (the [[minhashIndexOf]]
    * pattern on the CC side): each nightly cycle persists its labels
    * with this writer, and the next cycle's incremental run reads
    * them instead of re-deriving the old components in-query. `tag`
    * is the corpus directory the slice came from — written into the
    * artifact's `_graft_corpus` sidecar so readers can refuse a
    * wrong-corpus serve ([[ArtifactTag]]). */
  def ccLabelsOf(s: SparkSession, docs: DataFrame, path: String,
      tag: String): Unit =
    // guardPairs = false: [[graft.operators.Dedup.loopLabelsOf]]
    // derives the slice's pairs in-query (never reads
    // graft.dedup.pairsPath), so there is no pair artifact to be
    // stale against — and the slice's checksum would legitimately
    // differ from any full-corpus pair artifact's
    writeCcLabels(s, graft.operators.Dedup.loopLabelsOf(s, docs), docs,
      path, tag, guardPairs = false)

  /** One slice family's provenance vocabulary: the id column whose
    * recorded max + 1 is the old/new cut, the per-row content hash the
    * checksum XORs, the three sidecar keys, and the noun refusals use.
    * XOR of per-row hashes is order-invariant and associative, so it
    * map-side combines and merges over disjoint unions; any id
    * substitution or content edit flips it w.h.p. */
  private final case class Slice(id: String, hash: String, n: String,
      xor: String, max: String, noun: String)

  /** Documents: (doc_id, md5(text)) hashed as SEPARATE xxhash64 args
    * with the null text coalesced to a sentinel (round-10 advisor fix:
    * a string concat with a NULL text is NULL, so every null-text doc
    * hashed to the constant seed and doc_id was never mixed in); the
    * sentinel keeps null ≠ ''. This formula is what
    * [[ArtifactTag.ProvVersion]] versions. */
  private val Docs = Slice("doc_id",
    "xxhash64(doc_id, coalesce(md5(text), '<null>'))",
    "n_docs", "content_xor", "max_doc_id", "docs")

  /** Vectors: xxhash64 hashes the float array natively (Spark-side
    * admission only, never oracle-replayed). */
  private val Vecs = Slice("vec_id", "xxhash64(vec_id, embedding)",
    "n_vecs", "content_xor", "max_vec_id", "vectors")

  /** Events: the five columns the feature-store snapshots derive from;
    * the cut runs on `day` (a store holds whole days). */
  private val Events = Slice("day", "xxhash64(event_id, user_id, day, " +
    "v_centi, coalesce(event_type, '<null>'))",
    "n_events", "events_xor", "max_day", "events")

  private def xorAt(r: org.apache.spark.sql.Row, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.getLong(i)

  /** Full-slice provenance — (n, content xor, max id) in ONE aggregate
    * pass — for the full builds; max id is absent for an empty
    * slice. */
  private def sliceProps(k: Slice, df: DataFrame): Map[String, String] = {
    val r = df.agg(count(lit(1L)), expr(s"bit_xor(${k.hash})"),
      max(k.id)).head()
    Map("prov_ver" -> ArtifactTag.ProvVersion,
      k.n -> r.getLong(0).toString, k.xor -> xorAt(r, 1).toString) ++
      (if (r.isNullAt(2)) Nil else Seq(k.max -> r.getLong(2).toString))
  }

  /** The (n_docs, content_xor) facts of a (doc_id, text) slice —
    * [[sliceProps]]' one aggregate read back as numbers, the actual
    * side of the [[requireSameSlice]] audit. */
  private[graft] def ccSliceChecksum(docs: DataFrame): (Long, Long) =
    docFacts(sliceProps(Docs, docs))

  private def docFacts(props: Map[String, String]): (Long, Long) =
    (props(Docs.n).toLong, props(Docs.xor).toLong)

  /** THE full-slice comparison — the one check that is not a
    * below-cut admission: the (n, xor) facts `props` recorded at
    * `path` must equal `actual`, the facts of the whole corpus the
    * artifact is about to serve or feed. The provenance version is
    * checked first, so a formula change reads as "rebuild", not as
    * corpus drift. `what` names the check, `why` the consequence and
    * the remedy. */
  private[graft] def requireSameSlice(props: Map[String, String],
      path: String, actual: (Long, Long), what: String,
      why: String): Unit = {
    ArtifactTag.requireProvVersion(props, path)
    val (n, xor) = actual
    require(props.get(Docs.n).contains(n.toString)
        && props.get(Docs.xor).contains(xor.toString),
      s"$what: full-slice checksum mismatch at $path (artifact " +
        s"n=${props.getOrElse(Docs.n, "<none>")} " +
        s"xor=${props.getOrElse(Docs.xor, "<none>")}, corpus n=$n " +
        s"xor=$xor) — $why")
  }

  /** An admitted refresh: the parent's props and the new generation's
    * provenance (parent ⊕ batch). */
  private final case class Admitted(parent: Map[String, String],
      next: Map[String, String])

  /** THE below-cut admission — of every refresh writer (lexical,
    * feature store, minhash/simhash, ivf/pq, pair graph — append and
    * delta alike) and, through [[admitDocs]], of every artifact reader
    * that takes its cut from an old artifact. Guards, in order:
    * `_graft_corpus` tag must name `dir`; the caller's `guard` over
    * the parent props (pair-stage drift);
    * provenance version ([[ArtifactTag.requireProvVersion]] — a
    * formula change reads as "rebuild", not as corpus corruption); the
    * boundary key's presence (empty or pre-provenance artifacts have
    * no refresh mode); and the below-cut slice guard.
    *
    * `prepare(cut)` — the writer's batch preparation (its one batch
    * checkpoint) — runs [[concurrently]] with the aggregate: it writes
    * nothing, so a refused admission still leaves no file behind.
    * ONE conditional aggregate over `frame` serves both the guard and
    * the new sidecar: the below-cut count and xor (count only under
    * [[GraftConf.TrustOldContent]]) must equal the parent's recorded facts, and
    * the batch's (≥ cut) count, xor and max id merge with them
    * additively — n adds, xor XORs, max maxes — into the next
    * generation's provenance. Sound because the corpus is the disjoint
    * union of the below-cut slice and the batch and the guard has just
    * verified below-cut = parent, so parent ⊕ batch is BIT-EQUAL to a
    * full-slice aggregate (the "delta props ≡ rebuild props" pins).
    * Under trust mode the sidecar keeps the parent's STORED xor, so a
    * same-count in-place edit the count guard lets through is never
    * laundered into fresh provenance: the next checked admission
    * still refuses it. */
  private def admit[A](s: SparkSession, dir: String, oldPath: String,
      k: Slice, frame: DataFrame, what: String, remedy: String,
      guard: Map[String, String] => Unit = _ => ())(
      prepare: Long => A): (Admitted, A) = {
    ArtifactTag.require(s, oldPath, dir)
    val props = ArtifactTag.readProps(s, oldPath)
    guard(props)
    ArtifactTag.requireProvVersion(props, oldPath)
    require(props.contains(k.max),
      s"$what at $oldPath carries no ${k.max} provenance — an empty or " +
        s"pre-provenance artifact has no refresh mode; $remedy")
    val cut = props(k.max).toLong + 1L
    val trust = GraftConf.TrustOldContent(s)
    val (id, h) = (col(k.id), expr(k.hash))
    val (below, batch) = (id < cut, id >= cut)
    var r: org.apache.spark.sql.Row = null
    var prepared: Option[A] = None
    concurrently(
      () => r = frame.select(Seq(count(when(batch, 1)),
        bit_xor(when(batch, h)), max(when(batch, id)),
        count(when(below, 1))) ++
        (if (trust) Nil else Seq(bit_xor(when(below, h)))): _*).head(),
      () => prepared = Some(prepare(cut)))
    val n = r.getLong(3)
    val bound = s"the ${k.noun} below the boundary (${k.id} < $cut)"
    if (trust)
      require(props.get(k.n).contains(n.toString),
        s"old-slice count mismatch at $oldPath (artifact " +
          s"n=${props.getOrElse(k.n, "<none>")}, corpus n=$n) — $bound " +
          "gained or lost rows since the previous cycle recorded them " +
          s"(backfill, late arrivals, or drops); $remedy")
    else
      require(props.get(k.n).contains(n.toString)
          && props.get(k.xor).contains(xorAt(r, 4).toString),
        s"old-slice checksum mismatch at $oldPath (artifact " +
          s"n=${props.getOrElse(k.n, "<none>")} " +
          s"xor=${props.getOrElse(k.xor, "<none>")}, corpus n=$n " +
          s"xor=${xorAt(r, 4)}) — $bound are not the slice the " +
          "previous cycle recorded (id reuse, backfill, late " +
          s"arrivals, or in-place edits); $remedy")
    (Admitted(props, Map("prov_ver" -> ArtifactTag.ProvVersion,
      k.n -> (props(k.n).toLong + r.getLong(0)).toString,
      k.xor -> (props(k.xor).toLong ^ xorAt(r, 1)).toString,
      k.max -> (if (r.isNullAt(2)) props(k.max)
                else r.getLong(2).toString))), prepared.get)
  }

  /** [[admit]] for an artifact READER over a (doc_id, text) corpus —
    * `dedup_{minhash,simhash}_incremental` and `cc_incremental` in
    * artifact mode: the same guards, the same aggregate beside the
    * same kind of `prepare` (the batch's checkpointed frames), and the
    * same refusals; a reader writes nothing, so only `prepare`'s
    * result comes back (it receives the cut). */
  private[graft] def admitDocs[A](s: SparkSession, dir: String,
      oldPath: String, docs: DataFrame, what: String, remedy: String,
      guard: Map[String, String] => Unit = _ => ())(
      prepare: Long => A): A =
    admit(s, dir, oldPath, Docs, docs, what, remedy, guard)(prepare)._2

  private def writeCcLabels(s: SparkSession,
      labels: => DataFrame, // by-name: the CC loop runs jobs eagerly,
      // so evaluate only after the guards pass
      docs: DataFrame, path: String, tag: String,
      guardPairs: Boolean): Unit = {
    requireFresh(s, path)
    // the provenance of the slice being labeled — computed BEFORE any
    // file is written, because it double-duties as the stale-pair
    // guard below and a guard failure must leave no half-artifact
    val props = sliceProps(Docs, docs.select("doc_id", "text"))
    // stale-pair guard (round-11 advisor finding): when the edge
    // source is the persisted pair artifact (graft.dedup.pairsPath,
    // see [[graft.operators.Dedup.loopLabels]]), the labels INHERIT
    // its content — but this writer stamps them with a FRESH corpus
    // checksum, so labels built from a stale pair artifact (corpus
    // regenerated in place under the same dir) would pass every
    // downstream checksum guard. Refuse at write time against the
    // facts the sidecar records anyway — no extra aggregate.
    if (guardPairs)
      GraftConf.PairsPath(s).foreach { pp =>
        requireSameSlice(ArtifactTag.readProps(s, pp), pp, docFacts(props),
          "refusing to persist CC labels from the pair artifact",
          "the labels would derive from STALE pairs yet carry a fresh " +
            "checksum (provenance laundering); rebuild the pair " +
            "artifact first")
      }
    sortedWrite(labels, path, Seq("doc_id"), Seq("doc_id"))
    // the pair-stage stamp and the labeled slice's provenance, max id
    // included — cc_incremental's reader [[admit]]s the artifact and
    // takes its cut from it, like every other docs artifact
    seal(s, path, tag, props ++ PairStage)
  }

  /** Materialize the LEXICAL inverted index — the serving artifact the
    * retrieval suite's scale story promises, completing the from-index
    * matrix on the text side the way [[ivfIndex]]/[[pqIndex]] complete
    * it on the vector side. `bm25_topk` recomputes df/tf/avgdl from
    * the corpus per call and `phrase_search` rebuilds the positional
    * gram stream in-query; a deployment pays that scan once here
    * and point-reads per query:
    *
    *  - `path`/postings: (tok, doc_id, dl, tf) — the document-keyed
    *    inverted index, one row per distinct (token, doc). Files are
    *    tok-range-sorted (`repartitionByRange` + sort, the [[pqIndex]]
    *    layout rule) so a query-term read prunes to the row groups
    *    whose tok min/max cover it — a point-lookup, not a scan.
    *  - `path`/grams: (gram, doc_id, pos) positional trigram postings,
    *    gram-range-sorted the same way — phrase lookups read only the
    *    matching gram's row groups.
    *  - `path`/gramstats: (gram, n) occurrence totals — vocabulary-
    *    sized planner metadata (the phrase twin derives its standing
    *    query from the top row; a production call passes a constant).
    *  - `path`/stats: ONE row (n, avgdl) — the BM25 globals, computed
    *    over dl > 0 docs exactly as the in-query path does, so scores
    *    from the index are bit-identical to scores from the corpus.
    */
  def lexicalIndex(s: SparkSession, dir: String, path: String): Unit =
    lexicalIndexOf(s,
      Tables.documents(s, dir).select("doc_id", "text"), path, dir)

  /** [[lexicalIndex]] over an explicit (doc_id, text) corpus slice —
    * the [[minhashIndexOf]] discipline on the lexical side: write-once
    * target, `_graft_corpus` tag, and versioned slice provenance
    * (n_docs/content_xor/max_doc_id) PLUS the two additive BM25-global
    * merge facts (`n_dl` = docs with dl > 0, `sum_dl` = Σ dl over
    * them), which is what makes [[lexicalIndexDelta]] possible: the
    * stats row is (n, avgdl) and avgdl is NOT mergeable, but (n, Σdl)
    * is — and because dl are integers whose running double sum stays
    * exact below 2⁵³ (Σ tokens at 100 TB ≈ 10¹³ ≪ 9·10¹⁵), writing
    * `Σdl/n` reproduces Spark's own `avg(dl)` BIT-EXACTLY, so
    * from-index BM25 scores never drift between a full build and a
    * merged one. */
  def lexicalIndexOf(s: SparkSession, docs: DataFrame, path: String,
      tag: String): Unit = {
    requireFresh(s, path)
    val (postings, grams, nDl, sumDl) = lexBatchParts(s, docs)
    writeLexParts(s, path, postings, grams, gramCounts(grams), nDl, sumDl)
    seal(s, path, tag, sliceProps(Docs, docs) ++ lexStats(nDl, sumDl))
  }

  private def lexStats(nDl: Long, sumDl: Long): Map[String, String] =
    Map("n_dl" -> nDl.toString, "sum_dl" -> sumDl.toString)

  /** INCREMENTAL refresh of the lexical index — the [[pairGraphDelta]]
    * shape for postings (round-11 verdict task #2): the stored
    * artifact's `max_doc_id` + 1 defines the cut; ONLY the new batch
    * is tokenized (postings and positional grams are per-doc facts, so
    * batch rows are exactly the rebuild's rows for those docs); old
    * postings/grams are pure parquet scans merged in by a
    * tok/gram-range re-sort; the 1-row (n, avgdl) BM25 globals merge
    * ADDITIVELY from the recorded (n_dl, sum_dl) facts — bit-equal to
    * a rebuild's `avg(dl)` (see [[lexicalIndexOf]]); and `gramstats`
    * occurrence totals merge by summation. Guards: [[admit]]'s matrix
    * (stale postings silently mis-rank every query). RetrievalOracleSpec
    * pins {old + delta} ≡ full rebuild part-for-part and
    * `bm25_from_index` / `phrase_from_index` row-identical when served
    * off the delta artifact via `graft.lex.indexPath`. */
  def lexicalIndexDelta(s: SparkSession, dir: String, oldPath: String,
      newPath: String): Unit = {
    requireFresh(s, newPath)
    val (a, (newPost, newGrams, nNew, sumNew)) = lexAdmit(s, dir, oldPath)
    val nTot = a.parent("n_dl").toLong + nNew
    val sumTot = a.parent("sum_dl").toLong + sumNew
    // the old side is read inside each part's thread (by-name frames)
    writeLexParts(s, newPath, lexMerged(s, oldPath, "postings", newPost),
      lexMerged(s, oldPath, "grams", newGrams),
      gramstatsMerged(s, oldPath, newGrams), nTot, sumTot)
    seal(s, newPath, dir, a.next ++ lexStats(nTot, sumTot))
  }

  /** GENERATIONAL (append-mode) refresh of the lexical index — the
    * LSM shape next to [[lexicalIndexDelta]]'s merge: the new artifact
    * holds ONLY the batch's postings and grams (tok/gram-range-sorted
    * within the generation) plus the two vocabulary-sized merged
    * parts — summed `gramstats` and the additive 1-row BM25 stats —
    * and a `parent` pointer to the previous generation. Write cost is
    * therefore ∝ batch STRICTLY: no old posting is read, decoded,
    * re-sorted, or rewritten (the merge writer's one
    * corpus-proportional term). Readers resolve the [[genChain]] and
    * union the per-generation sorted scans — the query-term filter
    * prunes row groups inside every generation exactly as in a merged
    * artifact, at the cost of one scan node per generation (bounded:
    * 64 generations, then compact). COMPACTION is not new machinery:
    * [[lexicalIndexDelta]] over a chain head reads the full chain on
    * its old side, so `lexicalIndexDelta(dir, chainHead, newPath)`
    * collapses any chain into one merged artifact (spec-pinned).
    * Admission and provenance are [[admit]]'s: the sidecar records
    * the FULL current corpus, so the next refresh (append or merge)
    * cuts from this generation's boundary. */
  def lexicalIndexAppend(s: SparkSession, dir: String, oldPath: String,
      newPath: String): Unit = {
    requireFresh(s, newPath)
    val (a, (newPost, newGrams, nNew, sumNew)) = lexAdmit(s, dir, oldPath)
    val nTot = a.parent("n_dl").toLong + nNew
    val sumTot = a.parent("sum_dl").toLong + sumNew
    // vocabulary-sized merges only — the whole point of append mode
    // is that per-DOC state (postings, grams) is never rewritten
    writeLexParts(s, newPath, newPost, newGrams,
      gramstatsMerged(s, oldPath, newGrams), nTot, sumTot)
    seal(s, newPath, dir,
      a.next ++ lexStats(nTot, sumTot) + ("parent" -> oldPath))
  }

  /** The lexical refresh prefix shared by the merge and append
    * writers: [[admit]] over the corpus, beside the batch's one
    * tokenization ([[lexBatchParts]] over the `doc_id ≥ cut` slice). */
  private def lexAdmit(s: SparkSession, dir: String, oldPath: String)
      : (Admitted, (DataFrame, DataFrame, Long, Long)) = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    admit(s, dir, oldPath, Docs, docs, "lexical index",
        "re-index the corpus with the full lexicalIndex writer instead") {
      cut => lexBatchParts(s, docs.filter(col("doc_id") >= cut))
    }
  }

  /** Resolve an artifact's generation chain, head first — a merged
    * artifact is its own 1-element chain (no `parent` prop), an
    * append generation points at its predecessor. Every generation's
    * corpus tag is re-verified (a chain must not silently cross
    * corpora), depth is bounded, and a cycle refuses. Shared by the
    * lexical and feature-store generational modes (one walker — two
    * copies could drift on the guard rules). */
  private[graft] def genChain(s: SparkSession, path: String,
      tag: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var p = path
    while (p != null) {
      require(!out.contains(p),
        s"artifact chain at $path cycles through $p — the parent " +
          "pointers are corrupt; rebuild the artifact")
      require(out.size < 64,
        s"artifact chain at $path exceeds 64 generations — compact it " +
          "into one artifact: sigIndexCompact, ivfIndexCompact or " +
          "pqIndexCompact over the chain head for the minhash, simhash, " +
          "IVF and PQ indexes; the family's merge writer over the chain " +
          "head (lexicalIndexDelta, featureStoreDelta) for the others")
      ArtifactTag.require(s, p, tag)
      out += p
      p = ArtifactTag.readProps(s, p).getOrElse("parent", null)
    }
    out.toSeq
  }

  /** One index part unioned across a chain — per-generation sorted
    * scans, so pushed filters prune row groups inside every
    * generation. */
  private[graft] def chainRead(s: SparkSession, path: String,
      tag: String, part: String, cols: Seq[String]): DataFrame =
    genChain(s, path, tag)
      .map(p => Parquet.read(s, s"$p/$part")
        .select(cols.map(col): _*))
      .reduce(_ unionAll _)

  /** The merged frames a delta refresh writes, composed from the very
    * functions [[lexicalIndexDelta]] calls ([[lexBatchParts]],
    * [[lexMerged]], [[gramstatsMerged]]) — the spec's plan pin (the
    * [[graft.operators.Dedup.ccIncrementalStage]] discipline): the old
    * side of every merged frame is a parquet scan of the INDEX files —
    * the merged plans contain no `documents` scan at all; the new side
    * tokenizes only the `doc_id ≥ cut` batch, the filter applied
    * before tokenization by construction ([[lexBatchParts]] over the
    * filtered slice, whose eager checkpoint is where the one batch
    * read happens). */
  private[graft] def lexDeltaParts(s: SparkSession, docs: DataFrame,
      oldPath: String, cut: Long): (DataFrame, DataFrame, DataFrame) = {
    val (newPost, newGrams, _, _) =
      lexBatchParts(s, docs.filter(col("doc_id") >= cut))
    (lexMerged(s, oldPath, "postings", newPost),
      lexMerged(s, oldPath, "grams", newGrams),
      gramstatsMerged(s, oldPath, newGrams))
  }

  /** One per-doc lexical part merged: the old side resolves the
    * GENERATION CHAIN (one scan for a merged artifact; per-generation
    * scans for an append chain) — which is what makes the merge writer
    * the chain's COMPACTION: a merge refresh over a chain head
    * collapses every generation into one artifact. The tag is taken
    * from the head's own sidecar: callers already admitted the head
    * against the corpus dir, and the chain walk re-verifies each
    * generation against the same tag. */
  private def lexMerged(s: SparkSession, oldPath: String, part: String,
      batch: DataFrame): DataFrame = {
    val cols = LexCols(part)
    chainRead(s, oldPath, ArtifactTag.readTag(s, oldPath), part, cols)
      .unionAll(batch.select(cols.map(col): _*))
  }

  private val LexCols = Map(
    "postings" -> Seq("tok", "doc_id", "dl", "tf"),
    "grams" -> Seq("doc_id", "pos", "gram"))

  private def gramCounts(grams: DataFrame): DataFrame =
    grams.groupBy("gram").agg(count(lit(1)).as("n"))

  /** Occurrence totals merged additively from the HEAD's cumulative
    * gramstats ∪ the batch's counts — never a re-count of old grams,
    * and never a chain union (every generation stores cumulative
    * totals, so a union would double-count). */
  private def gramstatsMerged(s: SparkSession, oldPath: String,
      newGrams: DataFrame): DataFrame =
    Parquet.read(s, s"$oldPath/gramstats").select("gram", "n")
      .unionAll(gramCounts(newGrams))
      .groupBy("gram").agg(sum("n").as("n"))

  /** Tokenize ONE (doc_id, text) batch into its index contribution:
    * (postings, positional grams, n_dl, sum_dl). Shared by the full
    * writer and the refresh writers, so batch rows can never drift from
    * rebuild rows. The batch is read and tokenized ONCE, into one
    * checkpoint the stats, the postings and the grams all derive from
    * (a doc with no token has no gram either, so the dl > 0 filter
    * drops no gram). */
  private def lexBatchParts(s: SparkSession,
      docs: DataFrame): (DataFrame, DataFrame, Long, Long) = {
    val c = docs
      .select(col("doc_id"), Fns.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("dl"))
      .filter(col("dl") > 0)
      .localCheckpoint()
    val postings = c
      .select(col("doc_id"), col("dl"), explode(col("w")).as("tok"))
      .groupBy("tok", "doc_id", "dl").agg(count(lit(1)).as("tf"))
    val grams = c
      .select(col("doc_id"), posexplode_outer(Fns.shingles3(col("w"))))
      .toDF("doc_id", "pos", "gram")
      .filter(col("gram").isNotNull)
    val st = c.agg(count(lit(1)), sum("dl")).head()
    (postings, grams, st.getLong(0),
      if (st.isNullAt(1)) 0L else st.getLong(1))
  }

  /** Lay out the four lexical-index parts concurrently (see
    * [[lexicalIndex]] for the per-part sort rationale). The stats row
    * is written from the additive (n_dl, Σdl) facts — bit-equal to
    * `avg(dl)` (integer dl, exact double sums below 2⁵³), and the ONLY
    * form a delta refresh can reproduce without rescanning old
    * documents. */
  private def writeLexParts(s: SparkSession, path: String,
      postings: => DataFrame, grams: => DataFrame,
      gramstats: => DataFrame, nDl: Long, sumDl: Long): Unit =
    concurrently(
    () => sortedWrite(postings, s"$path/postings", Seq("tok"),
      Seq("tok", "doc_id")),
    () => s.range(1).select(lit(nDl.toDouble).as("n"),
        (if (nDl == 0L) lit(null).cast("double")
         else lit(sumDl.toDouble / nDl)).as("avgdl"))
      .coalesce(1).write.parquet(s"$path/stats"),
    () => sortedWrite(grams, s"$path/grams", Seq("gram"),
      Seq("gram", "doc_id")),
    () => gramstats.write.parquet(s"$path/gramstats"))

  /** Materialize the PQ index `ann_pq_topk`'s scale story promises:
    * the (vec_id, sub, code) byte-codes under `path`/codes — the ONLY
    * per-vector state a probe ever reads, 8 bytes of payload per
    * vector vs 256 for the float32 embedding — plus the (sub, cid,
    * cvec) codebooks (≤ 8×256 rows of broadcast metadata) under
    * `path`/codebooks. Codes pack vec_id-sorted so a filtered re-rank
    * (IVF-PQ composition: cell candidates → ADC scores) prunes row
    * groups by vec_id range. */
  def pqIndex(s: SparkSession, dir: String, path: String): Unit =
    pqIndexOf(s, Tables.embeddings(s, dir)
      .select("vec_id", "embedding"), path, dir)

  /** [[pqIndex]] over an explicit (vec_id, embedding) slice — the
    * base build of the PQ generational append cycle, with the same
    * write-once + provenance discipline as the signature indexes. */
  def pqIndexOf(s: SparkSession, vecs: DataFrame, path: String,
      tag: String): Unit = {
    requireFresh(s, path)
    val (codes, cb) = graft.operators.Similarity.pqBuildOf(s, vecs)
    concurrently(pqParts(path, codes, cb): _*)
    seal(s, path, tag, sliceProps(Vecs, vecs))
  }

  /** The PQ parts — vec_id-sorted codes + the codebook copy; ONE
    * layout for the full, append and compaction writers. */
  private def pqParts(path: String, codes: => DataFrame,
      cb: => DataFrame): Seq[() => Unit] = Seq(
    () => sortedWrite(codes, s"$path/codes", Seq("vec_id"),
      Seq("vec_id", "sub")),
    () => cb.coalesce(1).write.parquet(s"$path/codebooks"))

  // ——— Vector-index generational append (round 14: the one index
  // family still rebuilding from scratch — minhash/simhash/lexical/
  // gram/feature-store all had the LSM rung already) ———

  /** GENERATIONAL (append-mode) refresh of the IVF index — the
    * nightly-embedding-ingest rung the vector family was missing:
    * the new batch assigns to the head's FROZEN coarse quantizer
    * ([[graft.operators.Similarity.ivfAssignFrozen]] — the
    * `ann_index_upsert` no-retrain recipe, now writing the artifact),
    * and the generation holds ONLY the batch's cell-partitioned rows
    * plus a `parent` pointer and additive provenance — write cost
    * strictly ∝ batch, no old vector re-read or re-assigned. The
    * ≤ 256-row centroid metadata travels WITH every generation (a
    * duplicated tiny file beats a second chain walk on every probe).
    * Readers resolve [[genChain]] and union per-generation
    * cell-pruned scans; COMPACTION = [[ivfIndexCompact]], a pure
    * columnar chain-collapse (assignments against a frozen quantizer
    * never recompute). Growth skew across cells remains the rebuild
    * trigger `ann_index_upsert` measures. */
  def ivfIndexAppend(s: SparkSession, dir: String, oldPath: String,
      newPath: String): Unit = {
    requireFresh(s, newPath)
    val vecs = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val (a, (assigned, cents)) = admit(s, dir, oldPath, Vecs, vecs,
        "ivf index", "re-index with the full ivf writer instead") { cut =>
      val cents = Parquet.read(s, s"$oldPath/centroids")
      (graft.operators.Similarity
        .ivfAssignFrozen(vecs.filter(col("vec_id") >= cut), cents), cents)
    }
    concurrently(ivfParts(newPath, assigned, cents): _*)
    seal(s, newPath, dir, a.next + ("parent" -> oldPath))
  }

  /** [[ivfIndexAppend]] for the PQ byte-code index: the batch encodes
    * against the head's FROZEN codebooks
    * ([[graft.operators.Similarity.pqEncodeFrozen]]), the generation
    * holds the batch's vec_id-sorted code rows + the codebook copy +
    * parent pointer. Quantization drift under a frozen codebook is
    * the rebuild trigger (the same story as IVF cell skew). */
  def pqIndexAppend(s: SparkSession, dir: String, oldPath: String,
      newPath: String): Unit = {
    requireFresh(s, newPath)
    val vecs = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val (a, (codes, cb)) = admit(s, dir, oldPath, Vecs, vecs,
        "pq index", "re-index with the full pq writer instead") { cut =>
      val cb = Parquet.read(s, s"$oldPath/codebooks")
      (graft.operators.Similarity
        .pqEncodeFrozen(vecs.filter(col("vec_id") >= cut), cb), cb)
    }
    concurrently(pqParts(newPath, codes, cb): _*)
    seal(s, newPath, dir, a.next + ("parent" -> oldPath))
  }

  /** COMPACTION of an IVF generation chain: chain-union of the
    * per-generation cell rows → ONE re-partitioned cell-partitioned
    * write + the head's centroids + the head's (cumulative) props
    * without a parent pointer. MaterializeSpec pins compacted ≡
    * chain row sets. */
  def ivfIndexCompact(s: SparkSession, dir: String, headPath: String,
      newPath: String): Unit =
    compact(s, dir, headPath, newPath)(ivfParts(newPath,
      chainRead(s, headPath, dir, "index",
        Seq("vec_id", "embedding", "cid")),
      Parquet.read(s, s"$headPath/centroids")))

  /** [[ivfIndexCompact]] for the PQ chain: codes re-sort to one
    * vec_id-range artifact, head codebooks + props carry over. */
  def pqIndexCompact(s: SparkSession, dir: String, headPath: String,
      newPath: String): Unit =
    compact(s, dir, headPath, newPath)(pqParts(newPath,
      chainRead(s, headPath, dir, "codes", Seq("vec_id", "sub", "code")),
      Parquet.read(s, s"$headPath/codebooks")))

  /** Materialize the SQ serving index — the (vec_id, qs) symmetric
    * unit-norm int8 code table behind `ann_sq_from_index`: 64 longs
    * per vector (codes only, no floats), vec_id-range-sorted so the
    * serve-time shortlist scans slim code files and the re-rank's
    * point reads prune row groups. The code rule is
    * [[graft.operators.Similarity.sqNormCodes]] — the one definition
    * the in-query twin computes. */
  def sqIndex(s: SparkSession, dir: String, path: String): Unit = {
    requireFresh(s, path)
    sortedWrite(graft.operators.Similarity.sqNormCodes(
        graft.sources.Tables.embeddings(s, dir)).select("vec_id", "qs"),
      path, Seq("vec_id"), Seq("vec_id"))
  }

  /** Materialize the point-in-time FEATURE STORE — the (user_id, day)
    * → prior-day snapshot table behind `feature_pit_join`, written
    * once per refresh under `path`/snapshots, (user_id, day)-range-
    * sorted so a training-set build's equi-join point-reads prune row
    * groups by user range, and no consumer ever re-runs the cumulative
    * windows. Since round 12 the artifact also carries
    * `path`/totals — per-user running totals INCLUDING every stored
    * day — because the snapshot rows alone cannot seed a delta
    * refresh: a snapshot's priors EXCLUDE its own day, so the next
    * day's priors would need that day's daily aggregates, which live
    * only in the events table ([[featureStoreDelta]] reads the
    * O(users) totals instead of rescanning events). Write-once + tag
    * + versioned provenance (n_events / events_xor / max_day over the
    * events slice), the signature-index discipline on the feature
    * side. */
  def featureStore(s: SparkSession, dir: String, path: String): Unit =
    featureStoreOf(s, graft.operators.Training.pitEvents(s, dir), path,
      dir)

  /** [[featureStore]] over an explicit (event_id, user_id, event_type,
    * day, v_centi) event slice — the old-cycle state
    * [[featureStoreDelta]] refreshes from (a previous cycle persisted
    * its store over events with day ≤ its max_day). */
  def featureStoreOf(s: SparkSession, ev: DataFrame, path: String,
      tag: String): Unit = {
    requireFresh(s, path)
    val daily = graft.operators.Training.pitDaily(ev).localCheckpoint()
    writeFeatureParts(path,
      graft.operators.Training.pitFeatureFromDaily(daily),
      totalsOf(daily))
    seal(s, path, tag, sliceProps(Events, ev))
  }

  /** INCREMENTAL refresh of the feature store — the artifact a
    * production pipeline refreshes most often (daily), and
    * append-only by construction: a snapshot for day D uses only
    * events BEFORE D, so rows for days ≤ the stored max_day never
    * change when later events arrive. The stored `max_day` defines
    * the cut; only events with day > max_day aggregate (work ∝
    * batch); each new day's priors seed from the stored per-user
    * totals plus a window over the BATCH's own earlier days; old
    * snapshot rows merge in as a pure parquet scan; totals merge
    * additively. All sums are longs, so {stored + delta} is
    * row-identical to a full rebuild (TrainingSpec pins it).
    *
    * Guards: [[admit]]'s matrix over the ≤ max_day event slice —
    * LATE-ARRIVING events (day ≤ max_day) refuse loudly, because their
    * day's snapshot and every later prior would silently understate;
    * so do edits or backfill of already-stored events. */
  def featureStoreDelta(s: SparkSession, dir: String, oldPath: String,
      newPath: String): Unit = {
    requireFresh(s, newPath)
    val (a, newDaily) = featAdmit(s, dir, oldPath)
    // old snapshots resolve the GENERATION CHAIN (one scan for a
    // merged store; per-generation scans for an append chain) — which
    // makes this writer the chain's COMPACTION, the lexMerged rule
    val snapshots = chainRead(s, oldPath, ArtifactTag.readTag(s, oldPath),
        "snapshots", Seq("user_id", "day", "n_events_prior",
          "n_purchases_prior", "value_centi_prior", "days_active_prior"))
      .unionAll(featSeeded(s, oldPath, newDaily))
    writeFeatureParts(newPath, snapshots,
      featTotalsMerged(s, oldPath, newDaily))
    seal(s, newPath, dir, a.next)
  }

  /** GENERATIONAL (append-mode) refresh of the feature store — the
    * [[lexicalIndexAppend]] shape on the feature side, and the natural
    * one: snapshots are append-only BY DAY, so a generation holds ONLY
    * the batch days' seeded snapshot rows plus the O(users) merged
    * totals (the next cycle's seed — cumulative at every head, the
    * gramstats rule) and a `parent` pointer. Write cost carries no
    * old-snapshot rewrite — the merge writer's one history-
    * proportional term; the PIT readers resolve the chain and union
    * per-generation (user, day)-sorted scans. Compaction =
    * [[featureStoreDelta]] over the chain head. */
  def featureStoreAppend(s: SparkSession, dir: String, oldPath: String,
      newPath: String): Unit = {
    requireFresh(s, newPath)
    val (a, newDaily) = featAdmit(s, dir, oldPath)
    writeFeatureParts(newPath, featSeeded(s, oldPath, newDaily),
      featTotalsMerged(s, oldPath, newDaily))
    seal(s, newPath, dir, a.next + ("parent" -> oldPath))
  }

  /** The feature-store refresh prefix shared by the merge and append
    * writers: [[admit]] over the store's events, beside the batch
    * days' daily aggregates checkpointed (consumed by the snapshots
    * AND the totals — the batch's one events read). */
  private def featAdmit(s: SparkSession, dir: String,
      oldPath: String): (Admitted, DataFrame) = {
    val ev = graft.operators.Training.pitEvents(s, dir)
    admit(s, dir, oldPath, Events, ev, "feature store",
        "rebuild the store with the full featureStore writer instead") {
      cut => graft.operators.Training.pitDaily(ev.filter(col("day") >= cut))
        .localCheckpoint()
    }
  }

  /** The batch days' snapshot rows, priors seeded from the stored
    * per-user totals — within-batch priors from a window over the new
    * days only, plus the HEAD's cumulative totals (0 for users first
    * seen in the batch): exactly the rebuild's unbounded window split
    * at the cut, term by term, in long arithmetic. ONE definition for
    * the merge and append writers. */
  private def featSeeded(s: SparkSession, oldPath: String,
      newDaily: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val prior = w.partitionBy("user_id").orderBy("day")
      .rowsBetween(w.unboundedPreceding, -1)
    val oldTotals = Parquet.read(s, s"$oldPath/totals")
      .select(col("user_id"), col("n_total").as("t_n"),
        col("n_purch_total").as("t_purch"), col("v_total").as("t_v"),
        col("days_total").as("t_days"))
    newDaily
      .withColumn("b_n", coalesce(sum("n").over(prior), lit(0L)))
      .withColumn("b_purch", coalesce(sum("n_purch").over(prior), lit(0L)))
      .withColumn("b_v", coalesce(sum("v_sum").over(prior), lit(0L)))
      .withColumn("b_days", coalesce(count(lit(1)).over(prior), lit(0L)))
      .join(oldTotals, Seq("user_id"), "left")
      .select(col("user_id"), col("day"),
        (col("b_n") + coalesce(col("t_n"), lit(0L)))
          .as("n_events_prior"),
        (col("b_purch") + coalesce(col("t_purch"), lit(0L)))
          .as("n_purchases_prior"),
        (col("b_v") + coalesce(col("t_v"), lit(0L)))
          .as("value_centi_prior"),
        (col("b_days") + coalesce(col("t_days"), lit(0L)))
          .as("days_active_prior"))
  }

  /** Totals merged additively from the HEAD's cumulative totals ∪ the
    * batch's (full outer via union+groupBy: batch-only users appear,
    * old-only users carry over) — never chain-unioned, the gramstats
    * rule. ONE definition for the merge and append writers. */
  private def featTotalsMerged(s: SparkSession, oldPath: String,
      newDaily: DataFrame): DataFrame =
    Parquet.read(s, s"$oldPath/totals")
      .select("user_id", "n_total", "n_purch_total", "v_total",
        "days_total")
      .unionAll(totalsOf(newDaily))
      .groupBy("user_id")
      .agg(sum("n_total").as("n_total"),
        sum("n_purch_total").as("n_purch_total"),
        sum("v_total").as("v_total"),
        sum("days_total").as("days_total"))

  /** Per-user running totals over a daily frame — the delta seed.
    * `v_total` coalesces a sum that is null only when every summand
    * is (matching the rebuild's coalesce-to-0 of the prior window). */
  private def totalsOf(daily: DataFrame): DataFrame =
    daily.groupBy("user_id")
      .agg(sum("n").as("n_total"),
        sum("n_purch").as("n_purch_total"),
        coalesce(sum("v_sum"), lit(0L)).as("v_total"),
        count(lit(1)).as("days_total"))

  /** The two feature-store parts, written concurrently. */
  private def writeFeatureParts(path: String, snapshots: => DataFrame,
      totals: => DataFrame): Unit = concurrently(
    () => sortedWrite(snapshots, s"$path/snapshots",
      Seq("user_id", "day"), Seq("user_id", "day")),
    () => sortedWrite(totals, s"$path/totals", Seq("user_id"),
      Seq("user_id")))
}
