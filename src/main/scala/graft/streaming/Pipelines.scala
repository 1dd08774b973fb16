package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ops.GraftConf

/** Structured Streaming pipelines (the streaming side of §2G).
  *
  * These take any streaming DataFrame with the `events` schema
  * (`ts: timestamp, user_id: long, event_type: string, value: double`)
  * — file source, Kafka, or MemoryStream in tests — and apply the same
  * logical transforms as the batch operators, plus streaming-only
  * machinery: event-time watermarks and custom session state via
  * `flatMapGroupsWithState`.
  *
  * Scale: state is keyed by user_id (bounded per-key), watermark bounds
  * total state retention; both are the standard shuffle-by-key stateful
  * operator shapes that scale horizontally with executors.
  */
object Pipelines {

  /** Tumbling 1h per-type counts with a 2h watermark (late data beyond
    * the watermark is dropped, windows finalize → append mode works). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding (hopping) 1h window every 15 min with a 2h watermark — the
    * streaming twin of `stream_sliding_agg`: identical window/agg
    * expression behind `readStream`, each event expanded into its 4
    * overlapping windows executor-side (StreamingSpec pins stream ≡
    * batch on the same rows). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window distinct users, streaming form — the twin of the
    * batch `stream_sliding_distinct`: identical 1h/15min hopping
    * windows, but the EXACT `count_distinct` swaps for
    * `approx_count_distinct` (rsd 0.01), because exact distinct over
    * open windows keeps every user id as state while the HLL++ sketch
    * is fixed-size per window — the state bound a 100 TB/day stream
    * needs. The sketch is merge-order-INSENSITIVE (registers take
    * max), so the streamed result is deterministic and equals the
    * batch `approx_count_distinct` over the same rows exactly —
    * StreamingSpec pins that equality plus sketch-vs-exact closeness. */
  def slidingDistinctCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("n_users_approx"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"),
        col("n_users_approx"), col("n_events"))

  /** Streaming exact dedup — the ingest-time half of the dedup suite:
    * drops records whose content key (user, type, value) was already
    * seen, keeping state only within the watermark
    * (`dropDuplicatesWithinWatermark`), so the dedup state is bounded
    * by the lateness horizon instead of growing with the stream. This
    * is the shape a 100 TB/day document feed needs: state ∝ events per
    * watermark window, sharded by the dedup key across executors. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value")

  case class DocBand(band: Int, band_sig: Long, doc_id: Long,
      ts: java.sql.Timestamp)
  case class NearDupCandidate(a_id: Long, b_id: Long, band: Int)

  private val NearDupStateMs = 2L * 3600L * 1000L // = the 2h watermark

  /** Streaming NEAR-dup — the ingest-time half of MinHash-LSH: each
    * document's 128-perm MinHash signature is computed per-row (tokens →
    * 3-gram shingle hashes → native `graft_minhash_sig`, no shuffle),
    * exploded into the same 64×2 LSH band keys as the batch
    * `dedup_minhash_lsh`, and candidate pairs are emitted by keyed state
    * over (band, band_sig) buckets: the first doc seen in a bucket
    * becomes its anchor; later arrivals — same batch or later batches —
    * emit (anchor, doc) candidate pairs in-stream. State is one long per
    * non-empty bucket and is EVICTED by event-time timeout once the
    * watermark passes its horizon, so retained state ∝ documents per
    * watermark window — the bound a 100 TB/day feed needs. Exact
    * verification of candidates is the downstream
    * [[graft.operators.Dedup.verifyCandidates]] join against the doc
    * store (StreamingSpec pins candidates → verify ≡ the batch
    * `dedup_minhash_lsh` result); candidate emission is the part that
    * must happen at ingest.
    *
    * Input schema: (ts timestamp, doc_id long, text string). The
    * signature math is staged through separate projections so the
    * optimizer cannot re-inline the tokenizer into the per-shingle
    * lambdas (see LogLineParser for the same pattern). */
  /** Streaming ingest quality gate — [[graft.operators.TextAnalysis
    * .logitScoreStage]] applied to a document stream. Stateless per-row
    * projection: no watermark, no state store, append mode; the scored
    * stream either feeds the keep-filter inline or lands scored for
    * audit. The batch query `quality_logit_score` is the SAME stage
    * (StreamingSpec pins stream ≡ batch), so gate thresholds tuned
    * offline apply verbatim at ingest.
    *
    * Input schema: (doc_id long, text string). */
  def qualityGateStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.logitScoreStage(docs)

  /** Streaming decontamination monitor — the LITERAL batch stage
    * ([[graft.operators.StreamingBatch.contaminationHitsStage]]) over a
    * document stream: per-row 5-grams, stream-static left join against
    * the broadcast benchmark gram set, one per-source aggregation.
    * Complete output mode; state is |sources| rows, no watermark
    * needed (StreamingSpec pins stream ≡ batch).
    *
    * Input schema: (doc_id long, source string, text string); `bench`
    * must be a STATIC frame of benchmark gram hashes (column `h`). */
  def contaminationMonitorStream(docs: DataFrame, bench: DataFrame): DataFrame =
    graft.operators.StreamingBatch.contaminationHitsStage(docs, bench)

  def nearDupStream(docs: DataFrame): Dataset[NearDupCandidate] = {
    val spark = docs.sparkSession
    graft.plans.SignatureFunctions.register(spark)
    import spark.implicits._
    import graft.ops.Fns
    val toks = docs
      .withWatermark("ts", "2 hours")
      .select(col("ts"), col("doc_id"), Fns.tokens(col("text")).as("toks"))
    val hs = toks.select(col("ts"), col("doc_id"),
      array_distinct(
        transform(Fns.shingles3(col("toks")), sh => xxhash64(sh))).as("hs"))
      .filter(size(col("hs")) > 0)
    val sigs = hs.select(col("ts"), col("doc_id"),
      call_function(graft.plans.SignatureFunctions.MinHashName, col("hs"))
        .as("sig"))
    // identical band construction to the batch minhashLsh: 64 bands of
    // 2 signature rows, bucket key = xxhash64 of the pair
    val bandStructs = array((0 until 64).map(k =>
      struct(lit(k).as("band"),
        xxhash64(element_at(col("sig"), 2 * k + 1),
          element_at(col("sig"), 2 * k + 2)).as("band_sig"))): _*)
    val bands = sigs
      .select(col("ts"), col("doc_id"), explode(bandStructs).as("kb"))
      .select(col("kb.band").as("band"), col("kb.band_sig").as("band_sig"),
        col("doc_id"), col("ts"))
      .as[DocBand]
    bands
      .groupByKey(b => (b.band, b.band_sig))
      .flatMapGroupsWithState[Long, NearDupCandidate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), rows: Iterator[DocBand],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed: bucket anchor evicted
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(b => (b.ts.getTime, b.doc_id))
            var anchor = state.getOption.getOrElse(-1L)
            val out = Seq.newBuilder[NearDupCandidate]
            sorted.foreach { b =>
              if (anchor < 0) anchor = b.doc_id
              else if (b.doc_id != anchor)
                out += NearDupCandidate(math.min(anchor, b.doc_id),
                  math.max(anchor, b.doc_id), b.band)
            }
            state.update(anchor)
            state.setTimeoutTimestamp(
              sorted.map(_.ts.getTime).max + NearDupStateMs)
            out.result().iterator
          }
      }
  }

  // ——— Continuous-ingest artifact refresh (the tick) ———

  /** Driver-side chain-head registry for one continuous-ingest run.
    * `foreachBatch` bodies execute on the driver, so plain
    * driver-local state is the correct home for the current heads;
    * the serving-conf pointer flips happen on the SESSION the caller
    * registered at init (the micro-batch frame's own session can be a
    * streaming clone whose conf writes would never reach serving
    * readers). `dir` is the corpus/events table of record the
    * admission guards replay; `root` is where generations land. */
  final class RefreshState private[Pipelines] (
      private[Pipelines] val s: SparkSession,
      val dir: String, val root: String) {
    private val heads =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    /** Current chain head for `family` ("lex" / "minhash" /
      * "simhash" / "features"). */
    def head(family: String): String = {
      val h = heads.get(family)
      require(h != null, s"no $family chain initialized in this run")
      h
    }
    private[Pipelines] def flip(family: String, path: String,
        confKey: Option[String]): Unit = {
      heads.put(family, path)
      confKey.foreach(s.conf.set(_, path))
    }
  }

  /** Test hook: a bare RefreshState for unit-testing the landing
    * primitive without a full artifact init (no g0 builds, no conf
    * flips — [[landIdempotent]] touches only dir/root/session). */
  private[graft] def refreshStateForTest(s: SparkSession, dir: String,
      root: String): RefreshState = new RefreshState(s, dir, root)

  /** Families the doc-side [[docRefreshTick]] maintains: name →
    * (append writer, the serving conf its head pointer flips). The
    * conf mapping is the existing serving surface: `graft.lex
    * .indexPath` routes `bm25_from_index`/`phrase_from_index` at the
    * head; `graft.{minhash,simhash}.oldIndexPath` is exactly the
    * "previous cycle" pointer the incremental dedup queries probe —
    * a tick IS the previous cycle, continuously. */
  private val DocFamilies: Seq[(String,
      (SparkSession, String, String, String) => Unit, String)] = Seq(
    ("lex", graft.ops.Materialize.lexicalIndexAppend,
      GraftConf.LexIndexPath.key),
    ("minhash", graft.ops.Materialize.minhashIndexAppend,
      GraftConf.MinhashOldIndexPath.key),
    ("simhash", graft.ops.Materialize.simhashIndexAppend,
      GraftConf.SimhashOldIndexPath.key))

  /** Initialize the doc-side refresh run: one FULL generation (g0)
    * per family over the corpus as it stands, serving confs pointed
    * at the heads. Call once, then hand [[docRefreshTick]] to
    * `writeStream.foreachBatch`. */
  def initDocRefresh(s: SparkSession, dir: String,
      root: String): RefreshState = {
    val st = new RefreshState(s, dir, root)
    val docs = graft.sources.Tables.documents(s, dir)
      .select("doc_id", "text")
    graft.ops.Materialize.lexicalIndexOf(s, docs, s"$root/lex-g0", dir)
    graft.ops.Materialize.minhashIndexOf(s, docs,
      s"$root/minhash-g0", dir)
    graft.ops.Materialize.simhashIndexOf(s, docs,
      s"$root/simhash-g0", dir)
    DocFamilies.foreach { case (f, _, conf) =>
      st.flip(f, s"$root/$f-g0", Some(conf))
    }
    st
  }

  /** ONE continuous-ingest tick — the `foreachBatch` body that keeps
    * the serving artifacts fresh as documents stream in. Per
    * micro-batch: (1) the batch lands in the corpus table of record
    * (`dir`/documents.parquet, append — the admission guards replay
    * against this table, so the landing IS the ingest commit);
    * (2) each artifact family gains ONE append generation off its
    * current head — work strictly ∝ batch by the append writers'
    * contract (per-doc parts only + additive provenance);
    * (3) the head pointers and serving confs flip, so the NEXT query
    * against `bm25_from_index` / `dedup_*_incremental` reads the
    * refreshed chain. Batch doc_ids must be monotone above the
    * corpus's (id reuse/backfill refuses loudly in admission — the
    * writers' guard, not new machinery). An empty tick is a no-op.
    * StreamingSpec pins stream-refreshed chain ≡ batch rebuild for
    * every family; the registered `stream_refresh_tick` query puts
    * the composed path under the driver's hash gate.
    *
    * IDEMPOTENT under foreachBatch's AT-LEAST-ONCE replay (round-14
    * advisor fix — the previous body landed a replayed batch twice):
    *  - the LANDING is guarded by a batchId-keyed marker
    *    (`root`/landed-b⟨id⟩) plus a frontier filter dropping ids ≤
    *    the head's committed max_doc_id, AND — since round 15 — the
    *    landing itself is [[landIdempotent]]: one staged part,
    *    atomically renamed to a batchId-deterministic file, so even
    *    a crash exactly between the landing and the marker write (the
    *    round-14 disclosed residual window) cannot double-land — the
    *    replay finds the target file and skips. The atomicity unit is
    *    one file per ingest batch; a transactional table format lifts
    *    that to multi-file commits in production (StreamingSpec pins
    *    the marker/frontier/relanding paths).
    *  - each GENERATION is batchId-keyed: a `next` path already
    *    carrying its corpus tag is a COMMITTED previous
    *    attempt of this very tick — adopt it (flip) instead of
    *    failing requireFresh; an untagged leftover directory is a
    *    torn write of this batchId's previous attempt (the tag writes
    *    LAST, after every part and the props) — swept and
    *    re-appended. */
  def docRefreshTick(st: RefreshState)(
      batch: DataFrame, batchId: Long): Unit = {
    val rows = batch.select(col("doc_id"), col("text"))
    if (!rows.isEmpty) {
      if (!markerExists(st, s"landed-b$batchId")) {
        val frontier = DocFamilies.map { case (f, _, _) =>
          graft.ops.ArtifactTag.readProps(st.s, st.head(f))
            .get("max_doc_id").fold(Long.MinValue)(_.toLong)
        }.max
        val fresh = rows.filter(col("doc_id") > frontier)
        if (!fresh.isEmpty) {
          landIdempotent(st, fresh, "documents.parquet",
            s"ingest-b$batchId.parquet")
        }
        writeMarker(st, s"landed-b$batchId")
      }
      DocFamilies.foreach { case (family, append, conf) =>
        appendIdempotent(st, family, append, Some(conf), batchId)
      }
    }
  }

  /** The per-family committed/torn/fresh decision of a replayed tick
    * (shared by the doc- and event-side ticks): committed generation
    * (corpus tag present — [[graft.ops.ArtifactTag.committed]]) →
    * adopt; torn leftover → sweep + append; fresh → append. */
  private def appendIdempotent(st: RefreshState, family: String,
      append: (SparkSession, String, String, String) => Unit,
      conf: Option[String], batchId: Long): Unit = {
    val next = s"${st.root}/$family-g${batchId + 1}"
    if (!graft.ops.ArtifactTag.committed(st.s, next)) {
      val p = new org.apache.hadoop.fs.Path(next)
      val fs = p.getFileSystem(st.s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true) // torn previous attempt
      append(st.s, st.dir, st.head(family), next)
    }
    st.flip(family, next, conf)
  }

  /** Land one ingest batch in the table of record IDEMPOTENTLY
    * (round 15 — closes the round-14 disclosed append↔marker crash
    * window): the batch stages as ONE parquet part under the chain
    * root, then a single ATOMIC rename moves it into the table
    * directory under a batchId-DETERMINISTIC name — so a replay of
    * any crash point either re-stages and renames (nothing landed
    * yet) or finds the target present and skips (landed). No crash
    * point can double-land: the rename is the commit. One file per
    * ingest batch is the atomicity unit this buys (the
    * `writeFeedFile` coalesce rationale — an ingest micro-batch is
    * one file); a transactional table format lifts that to
    * multi-file commits in production. */
  private[graft] def landIdempotent(st: RefreshState, rows: DataFrame,
      table: String, name: String): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(s"${st.dir}/$table", name)
    val fs = target.getFileSystem(st.s.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) {
      val tmp = new Path(st.root, s"_land-$name")
      if (fs.exists(tmp)) fs.delete(tmp, true) // torn previous staging
      rows.coalesce(1).write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .filter(p => p.getName.startsWith("part-")
          && p.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected one part file in $tmp")
      require(fs.rename(part.head, target), s"rename to $target failed")
      fs.delete(tmp, true)
    }
  }

  private def markerExists(st: RefreshState, name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(st.root, name)
    p.getFileSystem(st.s.sparkContext.hadoopConfiguration).exists(p)
  }

  private def writeMarker(st: RefreshState, name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(st.root, name)
    p.getFileSystem(st.s.sparkContext.hadoopConfiguration)
      .create(p, true).close()
  }

  /** Event-side init: one full feature store over the events table as
    * it stands; `graft.features.storePath` points at it. */
  def initEventRefresh(s: SparkSession, dir: String,
      root: String): RefreshState = {
    val st = new RefreshState(s, dir, root)
    graft.ops.Materialize.featureStore(s, dir, s"$root/features-g0")
    st.flip("features", s"$root/features-g0",
      Some(GraftConf.FeaturesStorePath.key))
    st
  }

  /** The event-side tick: the raw-schema micro-batch lands in
    * `dir`/events.parquet, the feature store gains one
    * [[graft.ops.Materialize.featureStoreAppend]] generation (batch
    * days only + merged O(users) totals), and `graft.features
    * .storePath` flips to the new head — `feature_pit_from_index`
    * then serves point-in-time features that include the batch.
    * Late events (day ≤ the stored max_day) refuse loudly in
    * admission: their day's snapshots would silently understate.
    *
    * Idempotent under replay like [[docRefreshTick]]: the landing is
    * [[landIdempotent]] (atomic rename to a batchId-deterministic
    * file — load-bearing here, since events carry no monotone id for
    * a frontier filter; the marker is the cheap fast path), and the
    * batchId-keyed generation adopts a committed previous attempt /
    * sweeps a torn one. */
  def eventRefreshTick(st: RefreshState)(
      batch: DataFrame, batchId: Long): Unit = {
    if (!batch.isEmpty) {
      if (!markerExists(st, s"landed-ev-b$batchId")) {
        landIdempotent(st, batch, "events.parquet",
          s"ingest-ev-b$batchId.parquet")
        writeMarker(st, s"landed-ev-b$batchId")
      }
      appendIdempotent(st, "features",
        graft.ops.Materialize.featureStoreAppend,
        Some(GraftConf.FeaturesStorePath.key), batchId)
    }
  }

  /** Families the embedding-side [[vecRefreshTick]] maintains — the
    * two generational vector indexes. Unlike [[DocFamilies]] there is
    * no serving conf to flip: the vector serving queries read explicit
    * chain heads ([[graft.ops.Materialize.chainRead]]), so the tick's
    * head registry IS the serving pointer (callers probe
    * `head("ivf")` / `head("pq")` after the stream drains). */
  private val VecFamilies: Seq[(String,
      (SparkSession, String, String, String) => Unit)] = Seq(
    ("ivf", graft.ops.Materialize.ivfIndexAppend),
    ("pq", graft.ops.Materialize.pqIndexAppend))

  /** Embedding-side init: one FULL IVF index + one FULL PQ index over
    * the embeddings table as it stands (the quantizer/codebook fit the
    * whole chain stays frozen to — the `ann_index_upsert` no-retrain
    * recipe). Call once, then hand [[vecRefreshTick]] to
    * `writeStream.foreachBatch`. */
  def initVecRefresh(s: SparkSession, dir: String,
      root: String): RefreshState = {
    val st = new RefreshState(s, dir, root)
    val vecs = graft.sources.Tables.embeddings(s, dir)
      .select("vec_id", "embedding")
    graft.ops.Materialize.ivfIndexOf(s, vecs, s"$root/ivf-g0", dir)
    graft.ops.Materialize.pqIndexOf(s, vecs, s"$root/pq-g0", dir)
    VecFamilies.foreach { case (f, _) =>
      st.flip(f, s"$root/$f-g0", None)
    }
    st
  }

  /** The embedding-side tick — [[docRefreshTick]] for a vector feed:
    * per micro-batch the (vec_id, embedding) rows land in
    * `dir`/embeddings.parquet (the table of record the vector
    * admission guards replay), then each index family gains ONE
    * generation assigning/encoding the batch against the FROZEN
    * g0 quantizer/codebooks ([[graft.ops.Materialize.ivfIndexAppend]]
    * / [[pqIndexAppend]] — write ∝ batch, cell-partitioned batch rows
    * + parent pointer + additive provenance), and the head registry
    * flips so the next probe reads the refreshed chain. Batch vec_ids
    * must be monotone above the corpus's (id reuse refuses loudly in
    * the writers' admission). An empty tick is a no-op.
    *
    * Idempotent under foreachBatch's at-least-once replay exactly as
    * [[docRefreshTick]]: [[landIdempotent]] atomic-rename landing +
    * marker + max_vec_id frontier filter; batchId-keyed generations
    * adopt a committed previous attempt and sweep a torn one. */
  def vecRefreshTick(st: RefreshState)(
      batch: DataFrame, batchId: Long): Unit = {
    val rows = batch.select(col("vec_id"), col("embedding"))
    if (!rows.isEmpty) {
      if (!markerExists(st, s"landed-vec-b$batchId")) {
        val frontier = VecFamilies.map { case (f, _) =>
          graft.ops.ArtifactTag.readProps(st.s, st.head(f))
            .get("max_vec_id").fold(Long.MinValue)(_.toLong)
        }.max
        val fresh = rows.filter(col("vec_id") > frontier)
        if (!fresh.isEmpty) {
          landIdempotent(st, fresh, "embeddings.parquet",
            s"ingest-vec-b$batchId.parquet")
        }
        writeMarker(st, s"landed-vec-b$batchId")
      }
      VecFamilies.foreach { case (family, append) =>
        appendIdempotent(st, family, append, None, batchId)
      }
    }
  }

  /** Native session_window aggregation (30 min gap). */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("start"),
        col("session_window.end").as("end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stream-stream interval join — purchases enriched with the same
    * user's views from the preceding hour, both sides live streams (the
    * attribution/enrichment shape): inner join on user_id with the
    * event-time range `v_ts ∈ [p_ts − 1h, p_ts)`. Both inputs carry a
    * 2h watermark and the range condition bounds BOTH directions, so
    * Spark evicts buffered rows once the watermark clears their
    * match window — state ∝ events per lateness horizon per side, the
    * same bound every stateful operator here runs under. Emits matched
    * (purchase, view) pairs; the per-purchase count runs downstream of
    * the join (over the sink or in `foreachBatch`), exactly as the
    * batch twin `stream_interval_join` composes it. */
  def intervalJoinStream(events: DataFrame): DataFrame = {
    val views = events.withWatermark("ts", "2 hours")
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val purchases = events.withWatermark("ts", "2 hours")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("value"))
    purchases.join(views,
      col("user_id") === col("v_user")
        && col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
        && col("v_ts") < col("p_ts"))
      .select(col("user_id"), col("p_ts"), col("v_ts"), col("value"))
  }

  case class Event(ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class PitEvent(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)
  case class PitState(cumN: Long, cumPurch: Long, cumValCenti: Long,
      cumDays: Long, curDay: Long, dayN: Long, dayPurch: Long,
      dayValCenti: Long)
  case class PurchaseFeatures(event_id: Long, user_id: Long, day: Long,
      n_events_prior: Long, n_purchases_prior: Long,
      value_centi_prior: Long, days_active_prior: Long)
  case class LatestState(tsUs: Long, eventId: Long, eventType: String,
      valueCenti: Long)
  case class UserLatest(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String, value_centi: Long)
  case class SessionState(startUs: Long, lastUs: Long, n: Long, sum: Double)
  case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, sum_value: Double)
  case class TouchEvent(event_id: Long, ts_us: Long, user_id: Long,
    event_type: String, v_centi: Long)
  /** Empty string = "no touch yet" (Tungsten-friendly: no Option
    * boxing in state rows). */
  case class TouchState(first: String, last: String)
  case class AttributionRow(event_id: Long, user_id: Long,
    first_touch: String, last_touch: String, v_centi: Long)

  /** Streaming conversion attribution — the ingest-time twin of the
    * batch `log_attribution` window
    * ([[graft.operators.LogAnalytics.attributionTouches]]): per-user
    * state is TWO strings (first touch ever, latest touch) — O(1) per
    * user, no event retention — and every purchase emits its
    * attribution from the state as it stood BEFORE the purchase
    * (within a micro-batch, rows replay in (ts_us, event_id) order —
    * the same total order the batch window sorts by — so micro-batch
    * boundaries cannot change any purchase's attribution;
    * StreamingSpec pins stream ≡ batch per purchase AND the rolled-up
    * stream ≡ the `log_attribution` report). Rows are row-identical
    * to the batch window when events arrive in event-time order
    * across batches (the [[pitFeatureStream]] disclosure): a touch
    * arriving AFTER a purchase it precedes in event time would need
    * watermark-delayed emission — the oracle-checked batch twin is
    * the recovery path. */
  def attributionStream(events: Dataset[TouchEvent])
      : Dataset[AttributionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttributionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[TouchEvent],
         state: GroupState[TouchState]) =>
          var st = state.getOption.getOrElse(TouchState("", ""))
          val out = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
            .flatMap { e =>
              val emit =
                if (e.event_type == "purchase")
                  Some(AttributionRow(e.event_id, userId,
                    if (st.first.isEmpty) "none" else st.first,
                    if (st.last.isEmpty) "none" else st.last,
                    e.v_centi))
                else None
              if (e.event_type == "view" || e.event_type == "click")
                st = TouchState(
                  if (st.first.isEmpty) e.event_type else st.first,
                  e.event_type)
              emit
            }
          state.update(st)
          out.iterator
      }
  }

  case class ArrEvent(event_id: Long, arr: Long,
      ts: java.sql.Timestamp, user_id: Long)
  case class MaxTsState(maxUs: Long)
  case class LateRow(event_id: Long, user_id: Long, late_us: Long)

  /** Out-of-order lateness gauge, streaming form — the twin of the
    * batch `log_out_of_order_stats` census
    * ([[graft.operators.LogAnalytics.latenessFrame]]): per user the
    * state is ONE long — the max event-time seen — and every arriving
    * event emits how far behind that high-water mark it landed; the
    * downstream census is a plain windowed aggregate over the emitted
    * lateness stream. This is exactly the gauge a deployment watches
    * to SET its watermark delay, running inside the stream it gauges.
    * Rows within a micro-batch fold in (arr, event_id) order — the
    * documented arrival sequence — so micro-batch boundaries cannot
    * change any event's measured lateness (StreamingSpec pins stream
    * ≡ batch window per event). */
  def latenessStream(events: Dataset[ArrEvent]): Dataset[LateRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[MaxTsState, LateRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[ArrEvent],
         state: GroupState[MaxTsState]) =>
          var mx = state.getOption.fold(Long.MinValue)(_.maxUs)
          val out = rows.toSeq.sortBy(e => (e.arr, e.event_id)).map { e =>
            val us = e.ts.getTime / 1000L * 1000000L +
              e.ts.getNanos / 1000L
            val late = if (mx == Long.MinValue || us >= mx) 0L
              else mx - us
            if (us > mx) mx = us
            LateRow(e.event_id, userId, late)
          }
          state.update(MaxTsState(mx))
          out.iterator
      }
  }

  private val GapUs = 30L * 60L * 1000000L

  /** Custom sessionization with explicit state: emits a session once the
    * 30-min gap elapses (processing-time timeout). Demonstrates
    * `flatMapGroupsWithState` for semantics `session_window` can't
    * express (e.g. emitting partial sessions, custom close conditions).
    */
  /** Streaming point-in-time feature serving — the ingest-time twin of
    * the batch `feature_pit_join` (graft.operators.Training): per-user
    * state carries (cumulative-through-prior-days, current-day
    * partials); a day rollover folds the partial into the cumulative,
    * and every purchase emits its features FROM THE CUMULATIVE ONLY —
    * the same end-of-prior-day leakage barrier as the batch windows,
    * enforced by the state layout itself (a same-day event physically
    * cannot be in the emitted snapshot). Emitted rows are
    * row-identical to the batch join when events arrive in event-time
    * order (StreamingSpec pins it); out-of-order arrivals across day
    * boundaries would need a watermark-delayed day-close — the batch
    * twin remains the oracle-checked recovery path. State is O(1) per
    * user: eight longs, no event retention. */
  def pitFeatureStream(events: Dataset[PitEvent])
      : Dataset[PurchaseFeatures] = {
    val spark = events.sparkSession
    import spark.implicits._
    val dayUs = 86400L * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PitState, PurchaseFeatures](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[PitEvent],
         state: GroupState[PitState]) =>
          // only day-granularity order matters: features exclude the
          // current day entirely, so intra-day order cannot leak
          val sorted = rows.toSeq.sortBy(e =>
            (e.ts.getTime * 1000L / dayUs, e.event_id))
          var st = state.getOption.getOrElse(
            PitState(0L, 0L, 0L, 0L, Long.MinValue, 0L, 0L, 0L))
          val out = Seq.newBuilder[PurchaseFeatures]
          sorted.foreach { e =>
            val day = e.ts.getTime * 1000L / dayUs
            if (st.curDay == Long.MinValue) st = st.copy(curDay = day)
            else if (day > st.curDay) // fold the finished day(s)
              st = PitState(st.cumN + st.dayN, st.cumPurch + st.dayPurch,
                st.cumValCenti + st.dayValCenti, st.cumDays + 1L,
                day, 0L, 0L, 0L)
            if (e.event_type == "purchase")
              out += PurchaseFeatures(e.event_id, userId, day,
                st.cumN, st.cumPurch, st.cumValCenti, st.cumDays)
            st = st.copy(dayN = st.dayN + 1L,
              dayPurch = st.dayPurch +
                (if (e.event_type == "purchase") 1L else 0L),
              dayValCenti = st.dayValCenti + math.round(e.value * 100))
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** CDC latest-wins upsert view, streaming form — the twin of the
    * batch `stream_upsert_latest` (graft.operators.StreamingBatch):
    * per-user state holds exactly the current winning row — (ts_us,
    * event_id, event_type, value_centi), four fields, O(1) per key, no
    * event retention — and every micro-batch emits the key's refreshed
    * row (update-mode semantics: downstream upsert sinks overwrite by
    * user_id). The winner rule is the same total order as the batch
    * row_number pick: larger ts wins, event_id breaks timestamp ties —
    * so arrival ORDER cannot change the final state (each comparison
    * is against the max-so-far, a commutative fold), which is what
    * StreamingSpec pins: final emission per user ≡ the batch pick,
    * regardless of micro-batch boundaries. */
  def upsertLatestStream(events: Dataset[PitEvent]): Dataset[UserLatest] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[LatestState, UserLatest](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[PitEvent],
         state: GroupState[LatestState]) =>
          var st = state.getOption.getOrElse(
            LatestState(Long.MinValue, Long.MinValue, "", 0L))
          rows.foreach { e =>
            // µs-exact: getTime alone floors to ms; the sub-ms part of
            // the event time rides in the Timestamp's nanos field
            val us = e.ts.getTime / 1000L * 1000000L + e.ts.getNanos / 1000L
            if (us > st.tsUs || (us == st.tsUs && e.event_id > st.eventId))
              st = LatestState(us, e.event_id, e.event_type,
                math.round(e.value * 100))
          }
          state.update(st)
          UserLatest(userId, st.tsUs, st.eventId, st.eventType,
            st.valueCenti)
      }
  }

  def sessionizeWithState(events: Dataset[Event])
      : Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(st =>
              ClosedSession(userId, st.startUs, st.lastUs + GapUs,
                st.n, st.sum)).toIterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var st = state.getOption.orNull
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000L
              if (st == null) {
                st = SessionState(us, us, 1L, e.value)
              } else if (us - st.lastUs >= GapUs) {
                closed += ClosedSession(userId, st.startUs,
                  st.lastUs + GapUs, st.n, st.sum)
                st = SessionState(us, us, 1L, e.value)
              } else {
                st = SessionState(st.startUs, math.max(st.lastUs, us),
                  st.n + 1, st.sum + e.value)
              }
            }
            state.update(st)
            state.setTimeoutDuration("30 minutes")
            closed.result().iterator
          }
      }
  }
}
