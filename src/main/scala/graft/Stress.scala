package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{GraftConf, Materialize, Parquet}

/** Scale-stress harness for the dedup/ANN suite: synthesizes a K×-scaled
  * corpus from the sf0.1 testdata and measures the operators on it, so
  * the "would this hold at 100× the rows" claim is a measured CURVE,
  * not an asserted plan shape. Usage:
  *
  *   sbt "runMain graft.Stress [K] [sfDir]"     # default K=4, sf0.1
  *
  * Run at K = 1, 4, 16 and read docs/STRESS.md for the recorded curve.
  *
  * Measured per query: wall seconds, result rows, and SHUFFLE BYTES
  * (read+written, via a stage-metrics listener) — shuffle volume is the
  * quantity that blows up first when an operator hides quadratic work,
  * and it is hardware-independent, so its growth ratio across K is the
  * portable receipt. For the two LSH operators the raw CANDIDATE-PAIR
  * counts are also recorded: candidates ∝ n·bands (not n²) is the exact
  * claim the band-bucket design makes.
  *
  * Scaling construction: [[Tool.scaledCorpus]].
  *
  * Emits one JSON line with per-query seconds/rows/shuffle bytes.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val usage = "runMain graft.Stress [K] [sfDir]"
    if (args.length > 2) Tool.usage(usage, "expected at most 2 arguments")
    val k = Tool.intArg(args, 0, "K", 1, usage).getOrElse(4)
    val sfDir =
      if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Tool.session(Tool.cpus())
    // the receipts below call package-private stages directly (e.g.
    // hyperplaneCandidates → the cosine expression) — register the
    // custom functions up front so a delta-sweep subset that skips
    // every self-registering query still resolves them
    graft.plans.GraftFunctions.register(spark)

    val nBase = graft.sources.Tables.documents(spark, sfDir).count()
    val nVecs = k * 5000
    // the JSON line's receipts, in measurement order
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "stress_scale" -> k, "n_docs" -> nBase * k, "n_vecs" -> nVecs)
    // shuffle accounting (read + written) per measurement; Tool.reset
    // runs after every measured action AND after un-measured setup work
    // (artifact builds). A `key` also records the measurement as the
    // receipts <key>_sec and <key>_shuffle.
    val listener = Tool.listener(spark)
    def measure(tag: String, key: String = "")(action: => Long)
        : (Double, Long, Long) = {
      val (sec, rows, c) = listener.measure(spark)(action)
      val sb = c.readBytes + c.writeBytes
      System.err.println(
        f"[stress] $tag%-24s $sec%7.2f s  ${sb / 1048576.0}%8.1f MiB shuffle  ($rows rows)")
      if (key.nonEmpty) { out(key + "_sec") = sec; out(key + "_shuffle") = sb }
      (sec, rows, sb)
    }
    // a writer receipt: times `write`, then counts the rows it wrote
    def measureWrite(tag: String, key: String, rows: String)(
        write: => Unit): Unit =
      measure(tag, key) { write; Parquet.read(spark, rows).count() }
    val dir = Tool.scaledCorpus(spark, sfDir, k)

    // optional 3rd arg: comma-separated subset (delta sweeps for newly
    // added operators without re-running the recorded full curve)
    val queries = if (args.length > 2) args(2).split(",").toSeq
    else Seq(
      "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
      "dedup_simhash", "dedup_clusters", "dedup_source_minhash",
      "dedup_embedding_lsh", "dedup_incremental", "ann_ivf_topk",
      "ann_lsh_topk", "text_tfidf_top_terms", "text_normalize",
      "text_decontaminate", "text_repetition", "text_pack_sequences",
      "materialize_survivors", "dedup_span_flags", "text_bigram_lm_score",
      "text_token_entropy", "cluster_kmeans",
      "dedup_containment", "dedup_cross_source_rate",
      "neardup_degree_dist", "dedup_best_survivor", "dedup_token_savings",
      "quality_logit_score", "mixture_resample", "mixture_upsample",
      "dedup_semantic", "dedup_semantic_incremental",
      "basket_part_pairs", "window_decile_spend", "q9_product_profit",
      "q21_waiting_supplier",
      "merge_upsert", "neardup_pagerank", "neardup_triangles",
      "skew_key_stats",
      "stream_interval_join", "ann_pq_topk",
      "bm25_topk", "bm25_from_index", "phrase_from_index",
      "rrf_fusion", "knn_classify", "text_chunk",
      "ann_ivfpq_topk",
      "logreg_quality_train", "logreg_quality_apply", "bpe_merges",
      "quality_threshold_sweep", "stream_contamination_hits",
      "embedding_int8_quantize", "sample_fixed_per_source",
      "text_winnow_fingerprint", "phrase_search", "snippet_extract",
      "mmr_diversify", "ann_range_search", "feature_hash_bow",
      "cluster_source_mixture", "agg_incremental_refresh",
      "stream_stateful_sessions", "quality_score_calibration",
      "knn_eval_confusion", "bpe_apply", "ann_index_upsert",
      "curation_overlap", "vocab_drift", "corpus_build_manifest",
      "erasure_cascade_audit", "basket_lift", "neardup_quality_delta",
      "mm_resize_grid", "mm_phash_dedup", "cluster_silhouette",
      "ann_ivfpq_from_index",
      // round-7 additions (embedding_threshold_sweep excluded: it is
      // the guarded all-pairs oracle baseline, quadratic by contract)
      "compaction_plan", "event_paths_topk", "skyline_pareto",
      "seasonality_profile", "user_engagement_decay",
      "feature_pit_join", "feature_pit_from_index",
      "stream_feature_snapshot", "neardup_kcore", "cc_incremental",
      "active_learning_pick", "mixture_token_budget_plan",
      // round-7b additions (cluster_dbscan excluded: its pair stage is
      // the guarded all-pairs oracle baseline, quadratic by contract —
      // the scale path swaps in dedup_embedding_lsh candidates)
      "dedup_substring_runs", "minhash_tuning_curve", "log_ab_uplift",
      "stream_upsert_latest", "orders_forecast_ewma",
      // round-9 additions
      "dedup_jaccard_prefix", "nb_lang_apply", "mm_byte_entropy",
      "orders_dup_payment_audit", "log_attribution",
      "supplier_lead_trend", "retrieval_eval_recall", "ann_sq_topk",
      "join_view_delta_refresh",
      // round-15 additions
      "stream_vec_refresh_tick", "ann_ivf_tuning_curve",
      "ann_pq_tuning_curve", "index_compaction_plan")
    val results = queries.map { name =>
      val (sec, rows, sb) =
        measure(name)(SparkEntry.queries(name)(spark, dir).count())
      name -> Tool.obj(Seq("sec" -> sec, "rows" -> rows, "shuffle_bytes" -> sb))
    }
    // candidate-count receipts: the LSH designs' core claim is that the
    // pre-verification candidate volume grows ∝ n, never n²
    out("lsh_candidates") = measure("minhash_lsh_candidates")(
      graft.operators.Dedup.minhashCandidateStage(spark, dir)._1.count())._2
    out("ngram_candidates") = measure("ngram_candidates")(
      graft.operators.Dedup.ngramCandidateStage(spark, dir)._1.count())._2
    // prefix-filter receipt: candidates from the rarest-⌊n/2⌋+1 prefix
    // index must grow ∝ n like the df-capped index's — but with ZERO
    // false negatives at any corpus (the completeness the cap trades
    // away); same stage the query itself verifies
    out("jaccard_prefix_candidates") = measure("jaccard_prefix_candidates")(
      graft.operators.Dedup.jaccardPrefixStage(spark,
        graft.sources.Tables.documents(spark, dir)
          .select("doc_id", "text"))._2.count())._2
    // triangle-wedge receipt on a HUB-PLANTED graph (one mega-hub of
    // degree ~2000·K + a degree-≤3 chain — the boilerplate-template
    // shape the near-dup graph takes at corpus scale): the
    // degree-oriented enumeration must stay ~linear in K where the
    // middle-vertex join a naive pairs⋈pairs would run grows ~K²
    // (both counts recorded; the mid-vertex one is computed as
    // Σ_m deg_<(m)·deg_>(m) — no need to materialize the blow-up)
    // semantic-dedup receipt: intra-cell candidate pairs under the
    // PRODUCTION cell-size knob (cells ∝ n, target occupancy 256) must
    // grow ~K — the oracle-mode 256-cell cap would grow them ~K²/C
    spark.conf.set(GraftConf.SemanticCellSize.key, "256")
    out("semantic_candidates_prod") = measure("semantic_candidates_prod")(
      graft.operators.Dedup.semanticStage(spark, dir)._2.count())._2
    spark.conf.unset(GraftConf.SemanticCellSize.key)
    // dbscan production receipt: under the occupancy-scaled plane
    // count (buckets ∝ n, the embeddingLsh rule) the hyperplane
    // candidate volume and the full production DBSCAN must grow ~K —
    // the guarded all-pairs oracle baseline would grow ~K²
    val dbPlanes = GraftConf.DbscanLshPlanes(spark)
      .getOrElse(graft.ops.Fns.lshPlanes(nVecs))
    spark.conf.set(GraftConf.DbscanLshPlanes.key, dbPlanes.toString)
    out("dbscan_lsh_planes") = dbPlanes
    out("dbscan_candidates_prod") = measure("dbscan_candidates_prod")(
      graft.operators.Dedup.hyperplaneCandidates(
        graft.sources.Tables.embeddings(spark, dir)
          .select("vec_id", "embedding"), nBands = 8, nPlanes = dbPlanes)
        .count())._2
    measure("cluster_dbscan_prod")(
      SparkEntry.queries("cluster_dbscan")(spark, dir).count())
    spark.conf.unset(GraftConf.DbscanLshPlanes.key)
    // phash hot-band receipt on a DEGENERATE corpus (every payload
    // identical — the blank-frame pile-up): all rows land in 4 band
    // buckets; the df-cap must report them and bound the candidate
    // join to ZERO surviving band rows, while the potential pair
    // volume (Σ df·(df−1)/2, computed from the dfs, never
    // materialized) records the quadratic blow-up that was avoided
    val nDeg = k * 5000L
    Tool.writeParts(spark.range(0, nDeg).select(col("id").as("doc_id"),
        lit("the same blank frame payload every single time").as("text")),
      s"$dir-deg/documents.parquet")
    // both numbers read inside ONE measured action: measure()'s
    // reset unpersists localCheckpoint blocks afterwards, so a
    // second read of the stage frames would hit
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the hubPairs note)
    out("phash_capped_band_rows") = measure("phash_capped_band_rows") {
      val (bandedDeg, hotDeg) =
        graft.operators.Multimodal.phashBandStage(spark, s"$dir-deg")
      out("phash_avoided_pairs") = hotDeg
        .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)))
        .head().getLong(0)
      bandedDeg.count()
    }._2
    // cc_incremental working-set receipt: the contracted loop input
    // (touched super-nodes + contracted delta edges) must stay a small
    // fraction of the full graph at every K — the "untouched
    // components never enter the loop" claim, measured. The namespaced
    // K-copy corpus is DEGENERATE for this receipt (copies share zero
    // shingles, so the new half touches nothing — round-8's receipt
    // measured only the contracted-edge count), so the receipt runs on
    // an ECHO corpus: the K-copy base plus one exact-duplicate echo of
    // every 64th document, re-keyed ABOVE the split cut (offset 3·K·10⁷
    // keeps cut = (min+max)/2 strictly between base ids and echo ids).
    // Every echo is a genuine cross-cut near-dup, so the touched set is
    // the echoed components — a measured, nonzero working set to hold
    // against the TOTAL old-component population (untouched components
    // must dominate at every K).
    val echoOff = 3L * k * Tool.CopyStride
    Tool.writeParts(graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
      .unionAll(graft.sources.Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(64)) === 0)
        .select((col("doc_id") + lit(echoOff)).as("doc_id"), col("text"))),
      s"$dir-cc/documents.parquet")
    out("cc_inc_touched_supernodes") = measure("cc_inc_working_set") {
      val (touched, contracted, oldLabels) =
        graft.operators.Dedup.ccIncrementalStage(spark, s"$dir-cc")
      out("cc_inc_contracted_edges") = contracted.count()
      out("cc_inc_old_components") =
        oldLabels.select("label").distinct().count()
      touched.count()
    }._2
    // artifact-mode receipt: with the previous cycle's labels
    // persisted (Materialize.ccLabelsOf over the old half — built
    // OUTSIDE the measurement: that cost belongs to the previous
    // cycle), the incremental run must skip both the old-half loop
    // and the old×old pair graph — wall AND shuffle must sit well
    // under the in-query derivation on the same echo corpus
    val ccDocs = graft.sources.Tables.documents(spark, s"$dir-cc")
    // the SAME split rule the query's in-query mode replays
    // (Dedup.idCut) — an inline copy here could silently drift and
    // publish a curve for a misaligned configuration
    val ccCut = graft.operators.Dedup.idCut(ccDocs)
    val ccOldPath = s"$dir-cc-oldlabels"
    Materialize.ccLabelsOf(spark,
      ccDocs.filter(col("doc_id") < ccCut).select("doc_id", "text"),
      ccOldPath, s"$dir-cc")
    // the build is NOT part of either measurement (it is the previous
    // cycle's cost) — reset so its checkpoint blocks cannot load the
    // default-mode measurement below.
    // The measured action is a VALUE-LEVEL checksum, not a bare
    // count: cc_incremental emits one row per doc in both modes, so
    // counts are equal even if every cluster label diverged — the
    // checksum (order-insensitive sum of per-row hashes, mod-reduced
    // so the sum stays ANSI-safe up to ~10¹⁴ rows) is what actually
    // checks the published "output row-identical across modes" claim
    // where the modes could diverge (slice-vs-full df caps)
    Tool.reset(spark)
    // coalesce: sum over an empty output is NULL (the phashAvoided
    // rule) — an empty frame must checksum as 0, not NPE hours in
    def checksum(df: DataFrame, cols: Seq[String]): Long =
      df.agg(coalesce(sum(pmod(xxhash64(cols.map(col): _*),
        lit(1000000007L))), lit(0L))).head().getLong(0)
    def ccChecksum(): Long = checksum(
      SparkEntry.queries("cc_incremental")(spark, s"$dir-cc"),
      Seq("doc_id", "cluster_id", "is_survivor"))
    val ccDefChk =
      measure("cc_incremental_default", "cc_inc_default")(ccChecksum())._2
    spark.conf.set(GraftConf.CcOldLabelsPath.key, ccOldPath)
    val ccArtChk =
      try measure("cc_incremental_artifact", "cc_inc_artifact")(
        ccChecksum())._2
      finally spark.conf.unset(GraftConf.CcOldLabelsPath.key)
    require(ccDefChk == ccArtChk,
      s"artifact-mode cc_incremental output checksum $ccArtChk != " +
        s"default $ccDefChk — the modes diverged")
    // pair-graph artifact receipt (round 11): the six pair-consuming
    // graph metrics re-derive the verified pair frame per query in
    // default mode; with Materialize.pairGraph persisted once (built
    // OUTSIDE the measurement — the refresh cycle's cost, recorded
    // separately) and graft.dedup.pairsPath set, the six-query audit
    // must drop both wall and shuffle: the shingle scan + candidate
    // join runs ONCE per cycle, not once per consumer. The measured
    // action is a value-level checksum over all six outputs (the
    // cc_incremental receipt rule) so mode divergence fails loudly
    // instead of publishing a speedup for different answers.
    val pairPath = s"$dir-pairs-artifact"
    // measured (not just timed): the build's shuffle is the yardstick
    // the delta receipt below compares against
    measureWrite("pair_graph_build", "pair_graph_build", pairPath)(
      Materialize.pairGraph(spark, dir, pairPath))
    val pairConsumers = Seq("neardup_degree_dist", "neardup_pagerank",
      "neardup_triangles", "neardup_kcore", "neardup_quality_delta",
      "dedup_cross_source_rate")
    def graphChecksum(): Long = pairConsumers.map { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      checksum(df, df.columns.toSeq)
    }.sum
    val pairDefChk = measure("graph_family_default",
      "graph_family_default")(graphChecksum())._2
    spark.conf.set(GraftConf.PairsPath.key, pairPath)
    val pairArtChk =
      try measure("graph_family_pairs_artifact",
        "graph_family_artifact")(graphChecksum())._2
      finally spark.conf.unset(GraftConf.PairsPath.key)
    require(pairDefChk == pairArtChk,
      s"pairs-artifact graph-family checksum $pairArtChk != default " +
        s"$pairDefChk — the modes diverged")
    // delta-refresh receipts (round 12): the artifact-boundary delta
    // writers' claim is compute ∝ batch, not corpus. Old artifact =
    // the first K-1 namespaced copies (built OUTSIDE the measurement —
    // the previous cycle's cost); batch = the LAST copy (nBase docs,
    // FIXED across K), so the measured delta-refresh wall must stay
    // ~flat across K while the full rebuild's grows ∝ K
    // (pair_graph_build_sec above IS the pair rebuild curve; the
    // lexical full build is measured here for its own curve). The one
    // corpus-proportional delta term is the merged artifact's
    // REWRITE of old rows — pure columnar I/O with no shingle/token
    // recompute, the price of a self-contained write-once output.
    // At K=1 there is no "previous copy": fall back to the midpoint
    // rule (the batch is then half the corpus — the K≥4 points carry
    // the flatness claim).
    val docsAll = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val deltaCut = if (k > 1) (k - 1).toLong * Tool.CopyStride
      else graft.operators.Dedup.idCut(docsAll)
    val oldSlice = docsAll.filter(col("doc_id") < deltaCut)
    Materialize.pairGraphOf(spark, oldSlice, s"$dir-pairdelta-old", dir)
    Tool.reset(spark)
    measureWrite("pair_graph_delta", "pair_delta", s"$dir-pairdelta-new")(
      Materialize.pairGraphDelta(spark, dir, s"$dir-pairdelta-old",
        s"$dir-pairdelta-new"))
    // the quantity that IS ∝ batch: the delta-scoped candidate join's
    // volume (Σ df_prefix·df_prefix_new). With the batch pinned to one
    // copy, this must stay ~FLAT across K while the full join's
    // jaccard_prefix_candidates grows ∝ K — the separation between
    // "the join the delta avoids re-running" and the two disclosed
    // corpus-proportional floors (the df-order shingle scan, which
    // prefix completeness forces, and the merged-artifact rewrite,
    // pure columnar I/O)
    out("pair_delta_candidates") = measure("pair_delta_candidates")(
      graft.operators.Dedup.jaccardPrefixStage(spark, docsAll,
        _.filter(col("doc_id") >= deltaCut))._2.count())._2
    Materialize.lexicalIndexOf(spark, oldSlice, s"$dir-lexdelta-old", dir)
    Tool.reset(spark)
    measureWrite("lexical_index_full", "lexical_full",
      s"$dir-lexfull/postings")(
      Materialize.lexicalIndexOf(spark, docsAll, s"$dir-lexfull", dir))
    measureWrite("lexical_index_delta", "lexical_delta",
      s"$dir-lexdelta-new/postings")(Materialize.lexicalIndexDelta(spark,
        dir, s"$dir-lexdelta-old", s"$dir-lexdelta-new"))
    // append mode: ONLY the batch is written (plus vocabulary-sized
    // merged stats) — the one refresh whose wall must stay ~flat
    // across K (the merge writer's corpus-proportional rewrite is the
    // term it deletes); the count reads the batch generation alone
    measureWrite("lexical_index_append", "lexical_append",
      s"$dir-lexappend-new/postings")(Materialize.lexicalIndexAppend(spark,
        dir, s"$dir-lexdelta-old", s"$dir-lexappend-new"))
    // feature store: the natural boundary is temporal (a daily
    // refresh), so the batch here is the post-midpoint DAYS — user
    // volume in the batch grows ∝ K like the corpus (events scale by
    // users, not days); the receipt's claim is therefore the RATIO:
    // delta ≪ full at every K, because the old days' windows are
    // seeded from O(users) totals instead of re-aggregated
    val fsEv = graft.operators.Training.pitEvents(spark, dir)
    val fsB = fsEv.agg(min("day"), max("day")).head()
    val fsCut = (fsB.getLong(0) + fsB.getLong(1)) / 2
    Materialize.featureStoreOf(spark,
      fsEv.filter(col("day") <= fsCut), s"$dir-featdelta-old", dir)
    Tool.reset(spark)
    measureWrite("feature_store_full", "feature_full",
      s"$dir-featfull/snapshots")(
      Materialize.featureStore(spark, dir, s"$dir-featfull"))
    measureWrite("feature_store_delta", "feature_delta",
      s"$dir-featdelta-new/snapshots")(Materialize.featureStoreDelta(spark,
        dir, s"$dir-featdelta-old", s"$dir-featdelta-new"))
    // append mode: only the batch days' snapshots + O(users) totals
    // are written — the merge writer's history rewrite is deleted
    measureWrite("feature_store_append", "feature_append",
      s"$dir-featappend-new/snapshots")(Materialize.featureStoreAppend(
        spark, dir, s"$dir-featdelta-old", s"$dir-featappend-new"))
    // signature append (round 13): bands/sigs are pure per-doc facts,
    // so the generation holds ONLY the batch — with the batch pinned
    // to one copy, wall AND shuffle must stay ~flat across K (the
    // batch-flat receipt the round-12 verdict asked for). The old
    // index build is untimed setup; the additive-provenance sanity
    // check below is the cheap value guard (DedupSpec pins full
    // row-identity at fixture SF).
    Materialize.minhashIndexOf(spark, oldSlice, s"$dir-mhappend-old", dir)
    Tool.reset(spark)
    measureWrite("minhash_index_append", "minhash_append",
      s"$dir-mhappend-new/sigs")(Materialize.minhashIndexAppend(spark, dir,
        s"$dir-mhappend-old", s"$dir-mhappend-new"))
    require(graft.ops.ArtifactTag
        .readProps(spark, s"$dir-mhappend-new")("n_docs").toLong ==
      docsAll.count(),
      "minhash append-chain provenance lost docs vs the corpus")
    // vector-index append (round 14): a generation holds ONLY the
    // batch's frozen-quantizer assignments / frozen-codebook codes +
    // the ≤256-row centroid/codebook copy — with the batch pinned to
    // 5000 vectors, wall AND shuffle must stay ~flat across K while
    // the corpus grows K× (the minhash batch-flat claim, vector
    // edition). Base builds are untimed setup; MaterializeSpec pins
    // chain ≡ frozen-assign and compaction ≡ chain at fixture SF.
    val vecsAll = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val vecCut = if (k > 1) (k - 1).toLong * 5000L else 2500L
    val vecOld = vecsAll.filter(col("vec_id") < vecCut)
    Materialize.ivfIndexOf(spark, vecOld, s"$dir-ivfappend-old", dir)
    Tool.reset(spark)
    measureWrite("ivf_index_append", "ivf_append",
      s"$dir-ivfappend-new/index")(Materialize.ivfIndexAppend(spark, dir,
        s"$dir-ivfappend-old", s"$dir-ivfappend-new"))
    require(graft.ops.ArtifactTag
        .readProps(spark, s"$dir-ivfappend-new")("n_vecs").toLong ==
      vecsAll.count(),
      "ivf append-chain provenance lost vectors vs the corpus")
    Materialize.pqIndexOf(spark, vecOld, s"$dir-pqappend-old", dir)
    Tool.reset(spark)
    measureWrite("pq_index_append", "pq_append",
      s"$dir-pqappend-new/codes")(Materialize.pqIndexAppend(spark, dir,
        s"$dir-pqappend-old", s"$dir-pqappend-new"))
    // vector refresh TICK (round 15): the streaming ingest loop's
    // whole foreachBatch body — marker-guarded landing into the table
    // of record + one frozen generation per family + head flip —
    // measured with the batch PINNED (last copy's 5000 vectors) while
    // the corpus grows K×. The tick composes the two batch-flat
    // appends above plus one parquet append of the batch, so shuffle
    // must stay ~flat across K (wall carries the admissions' old-
    // slice scan, the appends' documented slow term). Setup untimed:
    // a tick corpus holding the old slice, g0 IVF+PQ builds.
    val tickDir = s"$dir-vectick"
    vecOld.write.mode("overwrite")
      .parquet(s"$tickDir/embeddings.parquet")
    val tickState = graft.streaming.Pipelines.initVecRefresh(spark,
      tickDir, s"$tickDir-chain")
    Tool.reset(spark)
    val tickBatch = vecsAll.filter(col("vec_id") >= vecCut)
    measureWrite("vec_refresh_tick", "vec_tick",
      s"$tickDir-chain/ivf-g1/index")(
      graft.streaming.Pipelines.vecRefreshTick(tickState)(tickBatch, 0L))
    require(graft.ops.ArtifactTag.readProps(spark,
        tickState.head("ivf"))("n_vecs").toLong == vecsAll.count(),
      "vec tick chain provenance lost vectors vs the corpus")
    // value-level cross-check: the delta artifacts must equal the full
    // builds they claim row-identity with (the graphChecksum rule —
    // a speedup for different answers must fail loudly here, not in
    // some later consumer)
    def fileChecksum(path: String, cols: Seq[String]): Long =
      checksum(Parquet.read(spark, path), cols)
    val pairCols = Seq("a_id", "b_id", "inter", "na", "nb")
    val postCols = Seq("tok", "doc_id", "dl", "tf")
    val snapCols = Seq("user_id", "day", "n_events_prior",
      "n_purchases_prior", "value_centi_prior", "days_active_prior")
    require(fileChecksum(s"$dir-pairdelta-new", pairCols) ==
      fileChecksum(pairPath, pairCols),
      "pair delta artifact diverged from the full pair build")
    require(fileChecksum(s"$dir-lexdelta-new/postings", postCols) ==
      fileChecksum(s"$dir-lexfull/postings", postCols),
      "lexical delta postings diverged from the full index build")
    // the append CHAIN (old generation ∪ batch generation) must carry
    // the same rows as the merged rebuild — the checksum is an
    // order-insensitive sum, so chain value = Σ generation values
    require(fileChecksum(s"$dir-lexdelta-old/postings", postCols) +
      fileChecksum(s"$dir-lexappend-new/postings", postCols) ==
      fileChecksum(s"$dir-lexfull/postings", postCols),
      "append-chain postings diverged from the full index build")
    require(fileChecksum(s"$dir-featdelta-new/snapshots", snapCols) ==
      fileChecksum(s"$dir-featfull/snapshots", snapCols),
      "feature-store delta snapshots diverged from the full build")
    require(fileChecksum(s"$dir-featdelta-old/snapshots", snapCols) +
      fileChecksum(s"$dir-featappend-new/snapshots", snapCols) ==
      fileChecksum(s"$dir-featfull/snapshots", snapCols),
      "feature-store append chain diverged from the full build")
    // dup-payment organic receipt: the K-copy fact corpus above
    // multiplies every customer-day K× — a planted K-clique of TRUE
    // double-bills on every customer-day, so the audit's output there
    // is genuinely quadratic in K (it measures the planted corpus, not
    // operator overhead — the documents-scaling note's clique artifact,
    // fact edition). The receipt therefore scales in the ORGANIC
    // direction instead: K custkey-offset copies (customers grow K×,
    // per-customer same-day density constant) — suspect pairs and
    // shuffle must grow ∝ K
    Tool.writeParts(Tool.keyCopies(
        graft.sources.Tables.table(spark, sfDir, "orders"), k,
        "o_orderkey", "o_custkey"), s"$dir-dup/orders.parquet")
    out("dup_payment_pairs_organic") = measure("dup_payment_pairs_organic")(
      SparkEntry.queries("orders_dup_payment_audit")(spark, s"$dir-dup")
        .count())._2
    // mrr probe-workload receipt: the probe panel is a fixed COUNT
    // (graft.mrr.nProbes, default 50), so the scored-pair volume must
    // follow the panel's query terms' postings — ~flat across K on the
    // namespaced corpus (each probe's terms match only its own copy's
    // docs), where the round-8 mod-50 RATE would have grown probes,
    // and with them candidate volume, ∝ K
    out("mrr_scored_rows") = measure("mrr_scored_rows")(
      graft.operators.Retrieval.mrrScored(spark, dir).count())._2
    // kcore rounds receipt: h-index rounds-to-fixpoint must track the
    // densest component's coreness diameter, NOT corpus size — flat
    // across K on the namespaced-copy corpus
    measure("kcore_rounds_to_fixpoint") {
      val (res, r) = graft.operators.Dedup.kcoreWithRounds(
        graft.operators.Dedup.ngramJaccard(spark, dir)
          .select("a_id", "b_id"), 30)
      out("kcore_rounds") = r
      res.count()
    }
    // no persistence on hubPairs: measure()'s reset unpersists
    // every RDD between measurements, which would invalidate a
    // localCheckpoint before the second wedge receipt reads it
    // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — a checkpoint truncates
    // lineage, so unlike a plain persist it cannot recompute); the
    // frame is synthetic range math, trivially re-derivable
    val h = k * 2000
    val hub = (h / 2).toLong
    val hubPairs = spark.range(1, h + 1).filter(col("id") =!= hub)
      .select(least(col("id"), lit(hub)).as("a_id"),
        greatest(col("id"), lit(hub)).as("b_id"))
      .unionAll(spark.range(1, h)
        .select(col("id").as("a_id"), (col("id") + 1).as("b_id")))
      .distinct()
    out("triangle_wedges_oriented") = measure("triangle_wedges_oriented")(
      graft.operators.Dedup.triangleWedges(hubPairs).count())._2
    out("triangle_wedges_midvertex") = measure("triangle_wedges_midvertex")(
      hubPairs.groupBy(col("b_id").as("m")).agg(count(lit(1)).as("dl"))
        .join(hubPairs.groupBy(col("a_id").as("m"))
          .agg(count(lit(1)).as("dg")), "m")
        .agg(sum(col("dl") * col("dg")).as("w")).head().getLong(0))._2

    out("queries") = Tool.obj(results)
    println(Tool.obj(out))
    spark.stop()
  }
}

/** Focused octave sweep for the DBSCAN production candidate curve —
  * round 8 measured 875k/3.96M/17.7M candidates at 1×/4×/16× (20.2×
  * at 16×, super-linear because the occupancy-constant plane rule
  * rounds DISCRETELY: planes = ⌈log₂(n/64)⌉ holds expected bucket
  * occupancy ~constant, but between rounding steps occupancy — and
  * with it candidates-per-row — can drift up to 2×). This main runs
  * ONLY the embedding synthesis + candidate count, so the curve can
  * be extended an octave (64×: 320k vectors) without re-running the
  * full corpus sweep: if the rule holds, candidates/row at 64× stays
  * within the same 2× occupancy band and the exponent is not
  * compounding. Usage: runMain graft.StressDbscan [K] */
object StressDbscan {
  def main(args: Array[String]): Unit = {
    val usage = "runMain graft.StressDbscan [K]"
    if (args.length > 1) Tool.usage(usage, "expected at most 1 argument")
    val k = Tool.intArg(args, 0, "K", 1, usage).getOrElse(64)
    val spark = Tool.session(Tool.cpus())
    graft.plans.GraftFunctions.register(spark)
    val nVecs = k * 5000
    // the same deterministic synthesis as Stress's embeddings table
    val emb = Tool.embeddings(spark, nVecs).select("vec_id", "embedding")
    // the PRODUCTION rule (Fns.lshPlanes: occupancy-constant with the
    // 24-plane cap), not an inline copy — the receipt must measure a
    // plane count production would actually run
    val planes = GraftConf.DbscanLshPlanes(spark)
      .getOrElse(graft.ops.Fns.lshPlanes(nVecs))
    val t0 = System.nanoTime()
    val cands = graft.operators.Dedup.hyperplaneCandidates(
      emb, nBands = 8, nPlanes = planes).count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"stress_scale":$k,"n_vecs":$nVecs,""" +
      s""""dbscan_lsh_planes":$planes,"dbscan_candidates_prod":$cands,""" +
      s""""cands_per_row":${cands / nVecs},"sec":$sec}""")
    spark.stop()
  }
}
