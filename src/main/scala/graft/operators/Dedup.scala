package graft.operators

import org.apache.spark.GraftBlocks
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.ops.{Fns, GraftConf, Parquet}
import graft.plans.GraftFunctions
import graft.sources.Tables

/** §2C — deduplication over `documents` / `embeddings`.
  *
  * Scale contract (SURVEY.md §5): no operator materializes O(n²) pairs.
  *  - exact dedup: one hash-groupBy on md5(text) — pure shuffle-by-key;
  *  - n-gram Jaccard: candidate pairs come from an equi-join on shared
  *    shingles (inverted index), so cost is Σ_shingle df² — bounded by
  *    dropping ultra-common shingles at scale (they carry no dedup
  *    signal); the exact Jaccard check runs only on co-shingled pairs;
  *  - MinHash-LSH: linear signature build (explode × 128 hashes with
  *    map-side partial min), candidates from equi-join on (band,
  *    band_hash) buckets, then exact verification on candidates only;
  *  - SimHash: linear signature build, candidates from 4×16-bit band
  *    equality (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 equal band), verified by
  *    bit_count(xor);
  *  - embedding cosine: exact pairwise at oracle SF (the SQL-checked
  *    semantics); the LSH-bucketed scale path is `ann_lsh_topk` in
  *    Similarity.
  *
  * Jaccard thresshold checks are integer arithmetic (3·inter ≥ na+nb ⇔
  * jaccard ≥ 0.5) — identical on both engines, no float rounding.
  */
object Dedup {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> exact,
    "dedup_exact_survivors" -> exactSurvivors,
    "dedup_ngram_jaccard" -> ngramJaccard,
    "dedup_jaccard_prefix" -> ngramJaccard,
    "minhash_tuning_curve" -> minhashTuningCurve,
    "dedup_minhash_lsh" -> minhashLsh,
    "dedup_minhash_from_index" -> minhashFromIndex,
    "dedup_minhash_incremental" -> minhashIncremental,
    "dedup_minhash_append_refresh" -> minhashAppendRefresh,
    "dedup_simhash" -> simhash,
    "dedup_simhash_from_index" -> simhashFromIndex,
    "dedup_simhash_incremental" -> simhashIncremental,
    "dedup_simhash_append_refresh" -> simhashAppendRefresh,
    "dedup_embedding_bruteforce" -> embeddingCosine,
    "dedup_embedding_lsh" -> embeddingLsh,
    "dedup_clusters" -> clusters,
    "dedup_clusters_from_index" -> clustersFromIndex,
    "dedup_pairs_from_index" -> pairsFromIndex,
    "dedup_pairs_delta_refresh" -> pairsDeltaRefresh,
    "dedup_source_minhash" -> sourceMinhash,
    "materialize_survivors" -> materializeSurvivors,
    "compaction_plan" -> compactionPlan,
    "index_compaction_plan" -> indexCompactionPlan,
    "dedup_incremental" -> incremental,
    "dedup_containment" -> containment,
    "dedup_span_flags" -> spanFlags,
    "dedup_substring_runs" -> substringRuns,
    "dedup_cross_source_rate" -> crossSourceRate,
    "neardup_degree_dist" -> degreeDist,
    "dedup_best_survivor" -> bestSurvivor,
    "dedup_token_savings" -> tokenSavings,
    "dedup_soft_weights" -> softWeights,
    "dedup_semantic" -> semantic,
    "dedup_semantic_incremental" -> semanticIncremental,
    "merge_upsert" -> mergeUpsert,
    "vocab_drift" -> vocabDrift,
    "quality_drift_bins" -> qualityDriftBins,
    "neardup_quality_delta" -> qualityDelta,
    "neardup_pagerank" -> pagerank,
    "neardup_triangles" -> triangles,
    "neardup_kcore" -> kcore,
    "cc_incremental" -> ccIncremental,
    "embedding_threshold_sweep" -> embeddingThresholdSweep,
    "dedup_cluster_size_dist" -> clusterSizeDist
  )

  /** Near-dup cluster-size distribution — the power-law check every
    * dedup audit runs before trusting its clustering: if sizes decay
    * smoothly the near-dups are organic; a spike at one large size is
    * a template family ([[Dedup.triangles]]' clique diagnosis read
    * from the other end). Per distinct component size: cluster count,
    * docs covered, and the exact-ppm share of the corpus (1-row
    * broadcast total). Singletons included — the `size = 1` row IS
    * the denominator sanity check (corpus total must reconcile).
    *
    * Scale shape: [[clusters]]' pointer-jumping labels (O(log
    * diameter) rounds), then two metadata-sized aggregates: label →
    * size (one key shuffle of 16-byte rows), size → census (≤ \|max
    * size\| rows). Nothing after the CC loop touches text. */
  def clusterSizeDist(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id")
    val labels = clusterLabels(s, d)
      .select(col("doc_id"), col("cluster_id").as("label"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    labels.groupBy("label").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(total))
      .select(col("size").as("cluster_size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"),
        expr("size * n_clusters * 1000000 div n_total")
          .as("doc_share_ppm"))
      .orderBy("cluster_size")
  }

  /** Triangle census of the verified near-dup graph — the graph-shape
    * summary next to [[degreeDist]] (local density) and [[pagerank]]
    * (hub mass): triangles vs open wedges give the global clustering
    * coefficient, the one-number answer to "are near-dups pairwise
    * accidents or dense template CLIQUES?" (a template family forms a
    * clique, so its closure → 1; chained soft paraphrases stay open).
    * Output: nodes, edges, wedges (Σ deg·(deg−1)/2), triangles, and
    * closure = 3·triangles/wedges in ppm — all integers, hash-exact.
    *
    * Scale shape: DEGREE-ORIENTED (compact-forward, Chiba–Nishizeki)
    * wedge enumeration. Every edge is oriented from its lower-RANK
    * endpoint to the higher (rank = (degree, id) — total order, no
    * ties), and wedges are enumerated at the LOWER-rank vertex: the
    * self-join of the oriented frame keys on `src`, so per-vertex work
    * is outdeg(v)², and out-degrees under this orientation are bounded
    * by O(√m) — total wedge candidates O(m^1.5) REGARDLESS of hub
    * skew. The naive middle-vertex join (pairs ⋈ pairs on b = m) costs
    * deg(hub)² at each hub, and near-dup graphs are exactly the graphs
    * with mega-hubs (one boilerplate template near-duplicating 10⁶
    * docs ⇒ ~10¹² wedge rows on ONE join key before the closing-edge
    * semi join prunes anything) — the Stress hub-planted receipt
    * (docs/STRESS.md) measures the two counts side by side. The
    * closing edge (lo-rank tip → hi-rank tip, which the orientation
    * guarantees IS how the edge is stored) is verified with one semi
    * join; each triangle is counted exactly once, at its minimum-rank
    * vertex. */
  def triangles(s: SparkSession, d: String): DataFrame =
    trianglesOf(verifiedPairsMat(s, d))

  /** [[triangles]] over an explicit verified-pair frame (a_id < b_id,
    * distinct) — the graph kernel, reusable for any edge source. The
    * input must already be materialized (three consumers below). */
  private[graft] def trianglesOf(pairs: DataFrame): DataFrame = {
    val deg = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .localCheckpoint() // consumed by stats + both orientation joins
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("degree * (degree - 1) div 2")).as("n_wedges"))
    val edges = pairs.agg(count(lit(1)).as("n_edges"))
    val oriented = orientEdges(pairs, deg)
      .localCheckpoint() // consumed by both wedge sides + the semi join
    val tri = wedgeCandidates(oriented)
      .join(oriented.select(col("src").as("t_s"), col("dst").as("t_d")),
        col("w_lo") === col("t_s") && col("w_hi") === col("t_d"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    stats.crossJoin(edges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("CASE WHEN n_wedges > 0 THEN" +
          " 3 * n_triangles * 1000000 div n_wedges ELSE 0 END")
          .as("closure_ppm"))
  }

  /** Orient each (a_id < b_id) edge low-rank → high-rank under
    * rank = (degree, id); carries the DST tip's degree so the wedge
    * join can compare ranks without another degree join. On a degree
    * tie the smaller id is the lower rank — and a_id < b_id already,
    * so `da <= db ⇒ a is src` realizes (deg, id) order exactly. */
  private def orientEdges(pairs: DataFrame, deg: DataFrame): DataFrame =
    pairs
      .join(deg.select(col("doc_id").as("a_id"), col("degree").as("da")),
        "a_id")
      .join(deg.select(col("doc_id").as("b_id"), col("degree").as("db")),
        "b_id")
      .select(
        when(col("da") <= col("db"), col("a_id")).otherwise(col("b_id"))
          .as("src"),
        when(col("da") <= col("db"), col("b_id")).otherwise(col("a_id"))
          .as("dst"),
        when(col("da") <= col("db"), col("db")).otherwise(col("da"))
          .as("dst_deg"))

  /** Wedge candidates at the lower-rank vertex: pairs of out-edges
    * from one `src`, tips ordered by (deg, id) rank so the closing
    * edge w_lo → w_hi matches the stored orientation. Package-private:
    * the Stress harness counts these rows on a hub-planted graph —
    * the O(m^1.5) claim, measured. */
  private[graft] def wedgeCandidates(oriented: DataFrame): DataFrame =
    oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src")
          && (col("e1.dst_deg") < col("e2.dst_deg")
            || (col("e1.dst_deg") === col("e2.dst_deg")
              && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("w_lo"), col("e2.dst").as("w_hi"))

  /** Degree-orient + enumerate wedges from a raw (a_id, b_id) pair
    * frame — the Stress receipt entry point. */
  private[graft] def triangleWedges(pairs: DataFrame): DataFrame = {
    val deg = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .localCheckpoint()
    wedgeCandidates(orientEdges(pairs, deg).localCheckpoint())
  }

  /** PageRank over the verified near-dup graph — the hub-scoring stage
    * that ranks TEMPLATE documents: a boilerplate page near-duplicating
    * hundreds of others outranks a page in one A/B pair, with mass
    * flowing through transitive chains that [[degreeDist]]'s flat
    * degree count cannot see. 3 power iterations, damping 0.85, over
    * the undirected pair graph (graph nodes only — every node has
    * degree ≥ 1, so there are no dangling nodes and rank mass is
    * conserved up to flooring).
    *
    * All arithmetic is FIXED-POINT BIGINT (scores scaled by 10¹²,
    * every division integral — the [[TextAnalysis.qualityLogitScore]]
    * fixed-point precedent): FP summation order can differ between
    * engines, but integer sums are associative, so the oracle replays
    * the exact values with zero rounding slack.
    *
    * Scale shape: edges and degrees localCheckpoint once (the pair
    * subplan runs once, as [[clusters]]); each iteration is one
    * doc_id-keyed join (share = pr div deg), one edge join, and one
    * dst-keyed sum with map-side combine — all shuffles on node keys,
    * nothing corpus-global, the standard edge-partitioned Pregel
    * round expressed relationally.
    *
    * Iteration count: `graft.pagerank.iters` (default 3, the recipe
    * the oracle unrolls). 3 rounds suffice for the hub-RANKING use
    * case — a template hub's mass advantage is established by its
    * direct edges in round 1 and only sharpens after — but rank mass
    * on a deep chain (diameter > 3) has not fully propagated at 3;
    * a deployment that needs converged VALUES (not ranks) raises the
    * conf, and deep runs (> 3) truncate lineage per round so the plan
    * stays bounded however many rounds run (the [[clusters]] rule).
    * DedupSpec pins that the knob is honored and that extra rounds
    * preserve the degree structure. */
  def pagerank(s: SparkSession, d: String): DataFrame = {
    val iters = GraftConf.PagerankIters(s)
    pagerankOf(verifiedPairs(s, d).select("a_id", "b_id"), iters)
  }

  /** [[pagerank]] over an explicit verified-pair frame — the graph
    * kernel, shared with the spec (which pins depth semantics on a
    * chain graph the clique-shaped testdata cannot exhibit). */
  private[graft] def pagerankOf(pairs: DataFrame, iters: Int): DataFrame = {
    val edges = pairs
      .unionAll(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst")
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val n = deg.count()
    val init = 1000000000000L / n
    val base = 150000000000L / n // (1 − 0.85)·10¹² div n
    var pr = deg.select(col("src").as("doc_id"), lit(init).as("pr"))
    (1 to iters).foreach { _ =>
      val shares = pr.join(deg, col("doc_id") === col("src"))
        .select(col("doc_id"), expr("pr div deg").as("share"))
      pr = edges
        .join(shares.select(col("doc_id").as("s_id"), col("share")),
          col("src") === col("s_id"))
        .groupBy(col("dst").as("doc_id"))
        .agg(sum("share").as("insum"))
        .select(col("doc_id"),
          (lit(base) + expr("85 * insum div 100")).as("pr"))
      // the default 3-round plan stays one bounded chain (single
      // action, plan-audited); DEEP runs truncate lineage per round
      // so plan depth cannot grow with the iteration count
      if (iters > 3) pr = pr.localCheckpoint()
    }
    pr.join(deg, col("doc_id") === col("src"))
      .select(col("doc_id"), col("deg").as("degree"), col("pr").as("pr_e12"))
      .orderBy(col("pr_e12").desc, col("doc_id"))
  }

  /** Coreness (k-core number) of every node in the verified near-dup
    * graph — the community-strength layer of the graph suite:
    * [[degreeDist]] sees local edge counts, [[pagerank]] global hub
    * mass, [[triangles]] one closure number; coreness tells HOW DEEP
    * each doc sits in a dense template community (a node of coreness k
    * survives peeling every node of degree < k — a clique of c
    * boilerplate docs holds coreness c−1 however many loose paraphrase
    * chains hang off it).
    *
    * Algorithm: iterated neighborhood h-index (Lü et al. 2016 — H(0)=
    * degree; H(t+1)(v) = h-index of its neighbors' H(t); the fixpoint
    * IS the coreness, reached in ≤ graph-diameter-ish rounds).
    * Per round: one edges⋈H join, a per-node rank window (partitioned
    * by the node — fine-grained keys, hub work deg·log deg), and
    * max(min(rank, nbr_h)) per node. The sequence is monotone
    * non-increasing, so convergence is guaranteed; non-convergence
    * within [[KcoreMaxIters]] rounds throws loudly ([[
    * clusters]]' guard precedent). Oracle-checked ✅ since round 13:
    * the DuckDB oracle unrolls [[KcoreOracleRounds]] h-index rounds as
    * static CTEs over the same replayed pair graph — exact whenever
    * the graph converges within the unroll (monotone non-increasing
    * sequence), which DedupSpec pins at the gate SF; the Spark side
    * still iterates to the true fixpoint at any scale. DedupSpec also
    * pins the result against brute-force min-degree peeling and
    * double-runs for determinism. */
  def kcore(s: SparkSession, d: String): DataFrame =
    kcoreOf(verifiedPairs(s, d).select("a_id", "b_id"), KcoreMaxIters)

  /** [[kcore]]'s round cap. */
  private val KcoreMaxIters = 30

  /** [[kcore]] over an explicit pair frame — the spec entry point. */
  private[graft] def kcoreOf(pairs: DataFrame, maxIters: Int): DataFrame =
    kcoreWithRounds(pairs, maxIters)._1

  /** [[kcoreOf]] plus the rounds-to-fixpoint count — the Stress
    * harness records the round growth across K (the h-index
    * iteration's convergence claim, measured: rounds track the
    * CORENESS DIAMETER of the densest component, not corpus size, so
    * namespaced K-copies must hold it flat). */
  private[graft] def kcoreWithRounds(pairs: DataFrame, maxIters: Int)
      : (DataFrame, Int) = {
    val w = org.apache.spark.sql.expressions.Window
    val edges = pairs
      .unionAll(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst")
      .repartition(col("src")) // co-partition with the per-round join key
      .localCheckpoint()
    var h = edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("h")).localCheckpoint()
    var prev: DataFrame = h
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrH = edges.join(h, col("src") === col("doc_id"))
        .select(col("dst"), col("src"), col("h").as("nh"))
      // h-index of the neighbor multiset: rank neighbors by nh desc,
      // h' = max(min(rank, nh)) — tie order cannot change the max
      val hNew = nbrH
        .withColumn("r", row_number().over(
          w.partitionBy("dst").orderBy(col("nh").desc, col("src")))
          .cast("long"))
        .groupBy(col("dst").as("doc_id"))
        .agg(max(least(col("r"), col("nh"))).as("h2"))
      val joined = h.join(hNew, "doc_id")
        .select(col("doc_id"), col("h"), col("h2"))
        // lazy: the convergence count right below materializes the
        // checkpoint in the same job (the ccLoop round-13 trim)
        .localCheckpoint(eager = false)
      changed = joined.filter(col("h") =!= col("h2")).count()
      GraftBlocks.release(prev)
      prev = joined
      h = joined.select(col("doc_id"), col("h2").as("h"))
      iter += 1
    }
    GraftBlocks.release(edges)
    if (changed > 0)
      throw new IllegalStateException(
        s"k-core h-index iteration did not converge in $maxIters " +
          s"rounds ($changed nodes still changing)")
    (h.select(col("doc_id"), col("h").as("coreness"))
      .orderBy("doc_id"), iter)
  }

  /** Snapshot merge (CDC-style upsert accounting) — the corpus-refresh
    * stage a recurring build runs when a source re-delivers: diff the
    * NEW snapshot against the existing corpus by doc_id + content
    * digest and classify every document `insert` / `delete` / `update`
    * / `keep`, reported per (action, source). The snapshot is derived
    * deterministically in-query (drop ids ≡3 mod 11, revise text on
    * ids ≡2 mod 7, add re-keyed copies of ids ≡5 mod 13) so the oracle
    * replays the identical derivation — the MERGE semantics are what is
    * under test, not the synthetic delta.
    *
    * Scale shape: both sides reduce to (doc_id, source, digest, len)
    * projections — 40-ish bytes/doc, never the text — then ONE
    * full-outer shuffle join on doc_id (both sides hash-partition; at
    * 100 TB this is the nightly manifest diff, with digests typically
    * precomputed at ingest) feeding an actions×sources-bounded
    * aggregate with map-side combine. */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    mergeFrames(docs.select("doc_id", "source", "text"),
      syntheticSnapshot(docs))
  }

  /** The deterministic "tomorrow's crawl" stand-in shared by
    * [[mergeUpsert]] and [[vocabDrift]]: drops the doc_id ≡ 3 mod 11
    * slice, revises ≡ 2 mod 7 texts, inserts re-keyed ≡ 5 mod 13
    * copies — the three snapshot-diff cases in one frame. */
  private def syntheticSnapshot(docs: DataFrame): DataFrame =
    docs
      .filter(pmod(col("doc_id"), lit(11)) =!= 3)
      .select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(7)) === 2,
          concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
      .unionAll(docs
        .filter(pmod(col("doc_id"), lit(13)) === 5)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          col("source"), concat(col("text"), lit(" [new]")).as("text")))

  /** Quality-score DRIFT report between the corpus and the next
    * snapshot — the model-input monitoring twin of [[vocabDrift]]
    * (vocab watches the tokens; this watches the quality-gate inputs):
    * both corpora score under the SAME fixed-weight logit
    * ([[TextAnalysis.logitScoreStage]]), scores bucket into 500-milli
    * bins (clamped ±8, integer `div` — trunc-toward-zero on both
    * engines), and each bin reports prior/new counts, ppm shares, and
    * the ppm delta: a quality regression in tomorrow's crawl shows as
    * mass sliding into low bins before any model retrains on it.
    * Snapshot = the shared deterministic [[syntheticSnapshot]].
    *
    * Scale shape: two per-row scoring passes + two 17-bin map-side
    * aggregates; the bin spine and the 1-row totals broadcast. */
  def qualityDriftBins(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    def binned(f: DataFrame, p: String): DataFrame =
      TextAnalysis.logitScoreStage(f)
        .select(least(greatest(expr("logit_milli div 500"), lit(-8L)),
          lit(8L)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(p + "n"))
    val prior = binned(docs.select("doc_id", "text"), "prior_")
    val now = binned(syntheticSnapshot(docs).select("doc_id", "text"),
      "new_")
    val totals = prior.agg(sum("prior_n").as("prior_total"))
      .crossJoin(now.agg(sum("new_n").as("new_total")))
    s.range(-8, 9).select(col("id").as("bin"))
      .join(prior, Seq("bin"), "left")
      .join(now, Seq("bin"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bin"),
        coalesce(col("prior_n"), lit(0L)).as("prior_n"),
        coalesce(col("new_n"), lit(0L)).as("new_n"),
        expr("coalesce(prior_n, 0) * 1000000 div prior_total")
          .as("prior_ppm"),
        expr("coalesce(new_n, 0) * 1000000 div new_total").as("new_ppm"))
      .withColumn("delta_ppm", col("new_ppm") - col("prior_ppm"))
      .orderBy("bin")
  }

  /** Quality-delta histogram over VERIFIED near-dup pairs — the audit
    * that decides whether survivor POLICY matters: per pair, the
    * absolute gap between the two copies' quality logits, bucketed
    * (500-milli buckets, top bucket open). Mass in bucket 0 means
    * near-dups are quality-twins and keep-any is safe; mass in high
    * buckets is exactly the value [[bestSurvivor]]'s keep-the-best
    * policy recovers over keep-min-id — this query MEASURES that
    * before a build commits to the cheaper policy. Composes the
    * verified pair frame with [[TextAnalysis.qualityLogitScore]]
    * (token-less docs default to the -3000 logit, the shared
    * convention).
    *
    * Scale shape: the pair frame's cost is [[ngramJaccard]]'s
    * (prefix-filtered, measured linear); the two score joins key on
    * doc id; the histogram is a ≤ 8-row map-side-combined rollup. */
  def qualityDelta(s: SparkSession, d: String): DataFrame = {
    val q = TextAnalysis.qualityLogitScore(s, d)
      .select(col("doc_id"), col("logit_milli"))
    verifiedPairs(s, d).select("a_id", "b_id")
      .join(q.select(col("doc_id").as("a_id"),
        col("logit_milli").as("la")), Seq("a_id"), "left")
      .join(q.select(col("doc_id").as("b_id"),
        col("logit_milli").as("lb")), Seq("b_id"), "left")
      .select(abs(coalesce(col("la"), lit(-3000L))
        - coalesce(col("lb"), lit(-3000L))).as("delta"))
      .withColumn("bucket", expr("least(7L, delta div 500)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), sum("delta").as("sum_delta_milli"))
      .orderBy("bucket")
  }

  /** Token-distribution drift between two corpus snapshots — the
    * data-drift monitor next to [[mergeUpsert]]'s doc-level diff: both
    * sides collapse to their vocabularies (word → occurrence count),
    * the vocabularies full-outer join on the token, and each token
    * reports old/new occurrence ppm of its side's token mass plus the
    * signed delta; output is the top-20 movers by |delta| (token asc
    * on ties) — the shortlist a crawl operator reviews before
    * accepting a snapshot (a topic burst, a template leak, or a
    * scraper bug all surface here first).
    *
    * Parity: counts and both ppm columns are integer div; the mover
    * ranking compares integers (abs delta, then token) — hash-exact.
    *
    * Scale shape: each side is one token explode into a map-side-
    * combined word rollup (the [[Training.bpeMerges]] corpus shuffle);
    * the join and ranking run on VOCAB-sized frames (~10⁷ rows at
    * 100 TB, localCheckpoint'd once each since totals and the join
    * both consume them), and the top-20 is a TakeOrdered — partial
    * top-k per partition, no global sort shuffle. */
  def vocabDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    def vocab(f: DataFrame, cnt: String): DataFrame =
      f.select(explode(Fns.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as(cnt))
        .localCheckpoint() // consumed by its total AND the drift join
    val ov = vocab(docs, "old_n")
    val nv = vocab(syntheticSnapshot(docs), "new_n")
    val tots = ov.agg(sum("old_n").as("tot_old"))
      .crossJoin(nv.agg(sum("new_n").as("tot_new")))
    ov.join(nv, Seq("token"), "full")
      .select(col("token"),
        coalesce(col("old_n"), lit(0L)).as("old_n"),
        coalesce(col("new_n"), lit(0L)).as("new_n"))
      .crossJoin(broadcast(tots))
      // DECIMAL intermediates: count·10⁶ tops 2⁶³ beyond ~9·10¹²
      // token occurrences (the corpus_mixture precedent)
      .withColumn("old_ppm",
        expr("cast(cast(old_n as decimal(38,0)) * 1000000" +
          " div tot_old as bigint)"))
      .withColumn("new_ppm",
        expr("cast(cast(new_n as decimal(38,0)) * 1000000" +
          " div tot_new as bigint)"))
      .withColumn("delta_ppm", col("new_ppm") - col("old_ppm"))
      .select("token", "old_n", "new_n", "old_ppm", "new_ppm", "delta_ppm")
      .orderBy(abs(col("delta_ppm")).desc, col("token"))
      .limit(20)
  }

  /** Library form of [[mergeUpsert]]: classify `snapshot` against
    * `corpus` (both (doc_id, source, text); doc_id unique per frame)
    * into per-(action, source) doc counts and char mass. */
  def mergeFrames(corpus: DataFrame, snapshot: DataFrame): DataFrame = {
    def slim(f: DataFrame, p: String): DataFrame =
      f.select(col("doc_id"), col("source").as(p + "src"),
        md5(col("text")).as(p + "md5"),
        length(col("text")).cast("long").as(p + "len"))
    slim(corpus, "o_").join(slim(snapshot, "n_"), Seq("doc_id"), "full_outer")
      .select(
        when(col("o_md5").isNull, "insert")
          .when(col("n_md5").isNull, "delete")
          .when(col("o_md5") =!= col("n_md5"), "update")
          .otherwise("keep").as("action"),
        coalesce(col("n_src"), col("o_src")).as("source"),
        coalesce(col("n_len"), col("o_len")).as("n_chars"))
      .groupBy("action", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("action", "source")
  }

  /** SemDeDup-style semantic (embedding-space) dedup — the stage a
    * modern corpus build runs ALONGSIDE n-gram dedup: paraphrases and
    * re-renderings share meaning (nearby embeddings) without sharing
    * shingles. Composition of the suite's existing pieces: k-means
    * cells ([[Similarity.kmeansCells]] — the same seeds/2-Lloyd/
    * rounded-centroid recipe `cluster_kmeans` runs under the oracle,
    * here with C = clamp(⌈√n⌉, 8, 256) cells so expected cell size is
    * ~√n), then candidate pairs ONLY within a cell (the pair join is
    * cid-keyed — PlanAuditSpec pins it; cross-cell pairs never exist),
    * exact cosine ≥ 0.45 on candidates, and the keep-first policy:
    * a vector is pruned iff a SMALLER-id vector in its cell clears the
    * threshold. Output partitions the whole corpus (one row per
    * vector: cell + pruned flag).
    *
    * Scale shape: quantizer cost is n·C; the intra-cell self-join
    * costs Σ_cell |cell|², so the cell COUNT is the scale knob. Two
    * regimes, switched by `graft.semantic.cellSize`:
    *
    *  - '''oracle mode (conf unset — the default, and what the
    *    correctness gate runs)''': C = clamp(⌈√n⌉, 8, 256), the
    *    `cluster_kmeans`-replayable recipe. At the 256-cell cap the
    *    pair join is n²/256 — fine at test SF, quadratic at corpus
    *    scale; the cap exists ONLY so DuckDB can replay the k-means
    *    trajectory.
    *  - '''production mode (`graft.semantic.cellSize` = target cell
    *    occupancy, e.g. 256)''': C = max(8, ⌈n/target⌉) — cells hold
    *    ~target vectors at ANY corpus size, so intra-cell pair volume
    *    is ~n·target/2, LINEAR in n (the Stress receipt measures it,
    *    docs/STRESS.md), and the n·C quantizer pass is the same
    *    accepted build cost as [[Similarity.annIvf]]'s (amortized
    *    across runs by persisting cells, the `ann_index_upsert`
    *    composition). This is the standard SemDeDup deployment shape:
    *    FAISS-scale cell counts, pairwise only inside a cell.
    *
    * Recall loss is near-dup pairs split across a cell boundary — the
    * same accepted trade as every bucketed path here
    * ([[embeddingLsh]], [[Similarity.annIvf]]). */
  def semantic(s: SparkSession, d: String): DataFrame = {
    val (assigned, cands) = semanticStage(s, d)
    val pruned = cands
      .filter(call_function(GraftFunctions.CosineName,
        col("a_emb"), col("b_emb")) >= 0.45)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("pr", lit(1))
    assigned.join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("pr"), lit(0)).as("is_pruned"))
      .orderBy("vec_id")
  }

  /** Cell count for [[semantic]]: the ⌈n/cellSize⌉ production rule
    * when `graft.semantic.cellSize` is set, else the 256-capped
    * oracle-replayable √n recipe (see [[semantic]]'s scale note). */
  private[graft] def semanticCells(s: SparkSession, n: Long): Int =
    GraftConf.SemanticCellSize(s) match {
      case Some(target) =>
        math.max(8L, (n + target - 1) / target).toInt
      case None =>
        math.min(256L,
          math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
    }

  /** [[semantic]]'s kernel — (cell assignment, intra-cell candidate
    * pairs BEFORE the cosine verify). Package-private: the Stress
    * harness counts the candidate rows under the production cell-size
    * knob (the ~linear-in-n claim, measured), and the verify stage
    * consumes them filtered. */
  private[graft] def semanticStage(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    GraftFunctions.register(s)
    // NO Spread here (round 16, verdict #3): the checkpointed frame
    // feeds seeding + 2 Lloyd passes + both pair sides — ~6 tiny
    // per-pass stages whose per-task scheduling cost exceeds what a
    // 32-way fan-out of a ~2k-row frame returns. Same-session A/B
    // (BenchOne, sf0.1, c32): spread ON 1.81-1.87 s vs OFF
    // 0.98-1.08 s — the r15 cross-session regression confirmed and
    // reverted. Heavy one-shot compute sites (pqSub, bruteforce,
    // phash) keep their Spread — measured 2-3x wins there.
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), Fns.asDouble(col("embedding")).as("emb"))
      .localCheckpoint() // seeds + every Lloyd pass + both pair sides
    val n = e.count()
    val assigned = Similarity.kmeansCells(e, semanticCells(s, n))
      .localCheckpoint() // consumed by both pair sides + the output join
    val m = assigned.join(e, "vec_id")
    val cands = m.as("a").join(m.as("b"),
        col("a.cid") === col("b.cid")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.emb").as("a_emb"), col("b.emb").as("b_emb"))
    (assigned, cands)
  }

  /** Incremental SEMANTIC dedup — the embedding-space twin of
    * [[incrementalFrames]], closing the nightly-refresh gap: a new
    * vector batch is deduped against the EXISTING corpus cells without
    * re-running the full [[semantic]] rebuild. Composition of the
    * suite's two halves: [[Similarity.kmeansFit]] trains centroids on
    * the BASE corpus only and they are FROZEN (the `ann_index_upsert`
    * maintenance recipe — no retrain on upsert), then base AND batch
    * assign to those frozen cells in one linear broadcast pass, and
    * candidate pairs form ONLY as (earlier vector) × (new vector)
    * within a cell — every corpus vector counts as earlier than every
    * batch vector, batch vectors order among themselves by vec_id
    * (the [[incrementalFrames]] ordering convention). A batch vector
    * is pruned iff an earlier same-cell vector clears cosine ≥ 0.45.
    * Output: one row per BATCH vector (cell + pruned flag) — the
    * operational decision set; the driver query splits vec_id ≡ 0
    * mod 8 as the batch (the `ann_index_upsert` slice) so the oracle
    * replays the same split from one table.
    *
    * Scale shape: the pair join's b-side is ONLY the batch (the
    * `is_new` filter — DedupSpec pins it on the optimized plan, the
    * [[incrementalFrames]] pin), so intra-cell work is
    * Σ_cell |cell|·|cell_new| — proportional to the BATCH, never
    * corpus², and old×old pairs never exist. Cell count follows
    * [[semanticCells]] (production knob included); assignment is the
    * broadcast-centroid linear pass. Maintenance cost is O(batch),
    * exactly the upsert promise. */
  def semanticIncremental(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), Fns.asDouble(col("embedding")).as("emb"))
    semanticIncrementalFrames(
      e.filter(pmod(col("vec_id"), lit(8)) === 0),
      e.filter(pmod(col("vec_id"), lit(8)) =!= 0))
  }

  /** Production form of [[semanticIncremental]]: dedupe `newBatch`
    * (vec_id, emb) against `corpus` (vec_id, emb) — separate frames,
    * vec_ids globally unique across both. Centroids fit on `corpus`
    * alone and frozen; every corpus vector is "earlier" than every
    * batch vector. */
  def semanticIncrementalFrames(newBatch: DataFrame,
      corpus: DataFrame): DataFrame = {
    val s = newBatch.sparkSession
    GraftFunctions.register(s)
    // NO Spread (round 16, verdict #3 — the [[semanticStage]] A/B:
    // spread ON 1.67-1.70 s vs OFF 0.94-1.15 s on this Lloyd-loop
    // shape; the fan-out taxes every per-pass stage)
    val tagged = corpus.select(col("vec_id"), col("emb"),
        lit(0).as("is_new"))
      .unionAll(newBatch.select(col("vec_id"), col("emb"),
        lit(1).as("is_new")))
      .localCheckpoint() // consumed by the fit (base slice) + 2 pair sides
    val base = tagged.filter(col("is_new") === 0).select("vec_id", "emb")
    val cents = Similarity.kmeansFit(base, semanticCells(s, base.count()))
      .localCheckpoint() // frozen — consumed once per assign side
    val assigned = Similarity
      .kmeansAssign(tagged.select("vec_id", "emb"), cents)
      .join(tagged, "vec_id")
      .localCheckpoint() // consumed by both pair sides + the output join
    val newSide = assigned.filter(col("is_new") === 1)
    val pruned = assigned.as("a").join(newSide.as("b"),
        col("a.cid") === col("b.cid")
          && (col("a.is_new") === 0
            || col("a.vec_id") < col("b.vec_id")))
      .filter(call_function(GraftFunctions.CosineName,
        col("a.emb"), col("b.emb")) >= 0.45)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("pr", lit(1))
    newSide.select("vec_id", "cid")
      .join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("pr"), lit(0)).as("is_pruned"))
      .orderBy("vec_id")
  }

  /** Quality-aware survivor selection — the policy layer over
    * [[clusters]]: instead of keep-min-id, each near-dup cluster keeps
    * its HIGHEST-QUALITY member ([[TextAnalysis.qualityLogitScore]]'s
    * fixed-point logit, doc_id tie-break) — the policy a real curation
    * run wants, since the min-id copy of a template cluster is often
    * the worst-OCR'd one. Composition is plan-level: the cluster frame
    * and the per-doc score frame join on doc_id — a LEFT join, because
    * [[TextAnalysis.qualityLogitScore]] defines no score for token-less
    * docs (its ratio features divide by n_tokens): such docs take the
    * all-features-zero logit, `0 + 0 + 0 − 3000 = −3000` milli — so
    * they stay IN their cluster (losing to any scored member, doc_id
    * tie-break among themselves) instead of silently vanishing. Then
    * top-1-per-cluster runs as a row_number window PARTITIONED by
    * cluster (cluster sizes are near-dup-bounded, no global sort).
    * Singleton clusters pass through, so survivors partition the
    * corpus exactly like [[clusters]]' min-id policy — only WHICH
    * member survives changes. */
  def bestSurvivor(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("logit_milli").desc, col("doc_id"))
    clusterLabels(s, d)
      .join(TextAnalysis.qualityLogitScore(s, d)
        .select("doc_id", "logit_milli"), Seq("doc_id"), "left")
      .withColumn("logit_milli",
        coalesce(col("logit_milli"), lit(-3000L)))
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("survivor_id"),
        max(when(col("rn") === 1, col("logit_milli"))).as("best_logit_milli"))
      .orderBy("cluster_id")
  }

  /** Token-savings report for exact dedup — the "what did dedup buy us"
    * accounting a corpus build publishes: per source, document/token
    * mass before dedup, the mass the min-id survivor set retains, and
    * the mass removed. Survivor membership is a semi join against
    * [[exactSurvivors]] (shuffle keyed on doc_id); token counts ride
    * the same scan as the source rollup — one corpus pass per side of
    * the before/after comparison, aggregates map-side combined. */
  def tokenSavings(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(Fns.tokens(col("text"))).cast("long").as("n_toks"))
    val kept = toks.join(exactSurvivors(s, d), Seq("doc_id"), "semi")
      .groupBy("source")
      .agg(count(lit(1)).as("docs_kept"), sum("n_toks").as("toks_kept"))
    toks.groupBy("source")
      .agg(count(lit(1)).as("docs_total"), sum("n_toks").as("toks_total"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("docs_total"), col("toks_total"),
        coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        (col("toks_total") - coalesce(col("toks_kept"), lit(0L)))
          .as("toks_removed"))
      .orderBy("source")
  }

  /** SOFT dedup weights — the train-time alternative to dropping
    * duplicates: instead of keeping one survivor per near-dup cluster
    * ([[bestSurvivor]]), every copy stays in the corpus with sampling
    * weight 1/k (k = cluster size), so each cluster contributes ONE
    * document's worth of expected training mass while distributional
    * coverage (every source/phrasing variant) is preserved — the
    * standard downweighting recipe when hard dedup over-deletes
    * templated-but-distinct documents. Reported as a cluster-size
    * histogram: per k, document count, cluster count (= n_docs div k,
    * exact), the 1/k weight in ppm, raw token mass, and the
    * weight-adjusted effective token mass in micro-tokens (per-doc
    * trunc-div mirrored by the oracle) — the "how many tokens does my
    * sampler actually see" number a token-budget plan consumes
    * (`mixture_token_budget_plan`'s input under soft dedup).
    *
    * Scale shape: reuses [[clusters]]' pointer-jumping components
    * (O(log diameter) rounds, the cost IS the algorithm), then one
    * cluster-keyed size aggregate joined back and a ≤ max-k-row
    * histogram aggregate — nothing after the CC loop exceeds the
    * cluster-size key space. */
  def softWeights(s: SparkSession, d: String): DataFrame = {
    val cl = clusterLabels(s, d)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), size(Fns.tokens(col("text"))).cast("long")
        .as("n_toks"))
    val sz = cl.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
    cl.join(sz, "cluster_id").join(toks, "doc_id")
      .groupBy("csize")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("raw_tokens"),
        sum(expr("n_toks * 1000000 div csize")).as("eff_tokens_micro"))
      .select(col("csize"), col("n_docs"),
        expr("n_docs div csize").as("n_clusters"),
        expr("1000000 div csize").as("weight_ppm"),
        col("raw_tokens"), col("eff_tokens_micro"))
      .orderBy("csize")
  }

  /** Degree distribution of the verified near-dup graph — the health
    * metric that decides WHICH dedup policy to run: a long degree tail
    * (template/boilerplate hubs) means cluster-then-keep-one
    * over-deletes and span-level dedup ([[spanFlags]]) is the right
    * tool; a flat distribution of degree-1 pairs means pairwise
    * survivor selection suffices. Docs with no near-dup appear as
    * degree 0 (left join against the corpus), so the histogram is a
    * complete partition of the corpus. Shape: the pair frame
    * ([[ngramJaccard]]) explodes into 2 endpoint rows per pair IN ONE
    * PASS — `explode(array(a_id, b_id))`, not a union of two selects:
    * a union duplicates the whole candidate-join + verify subtree
    * (only exchanges get reused), which the round-5 bench measured as
    * exactly 2× the cost of every other consumer of the same pair
    * frame (6.48 s vs ~2.9 s). PlanAuditSpec pins the single candidate
    * self-join. Then two bounded aggregations — per-doc degree
    * (≤ corpus rows) and the degree histogram (≤ max-degree rows).
    * Nothing here exceeds the candidate-join cost already paid. */
  def degreeDist(s: SparkSession, d: String): DataFrame = {
    val deg = verifiedPairs(s, d)
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    Tables.documents(s, d).select("doc_id")
      .join(deg, Seq("doc_id"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  /** Cross-source contamination rates — the exact, oracle-gated
    * complement of [[sourceMinhash]]'s sketch estimates: every VERIFIED
    * near-dup pair ([[ngramJaccard]]'s output) attributed to its
    * (source, source) cell, pair order normalized least/greatest so
    * each unordered source pair is one row. This is the report a
    * curation run actually acts on ("crawl B re-hosts crawl A — drop
    * which side?"); the sketch twin scales to source-count × source-
    * count when pairwise doc joins are too big, and this exact form IS
    * the pair join's rollup — two broadcast-sized dim joins and a
    * n_sources²-bounded aggregate on top of work already done. */
  def crossSourceRate(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    verifiedPairs(s, d).select("a_id", "b_id")
      .join(src.select(col("doc_id").as("a_id"), col("source").as("src_a")),
        "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("src_b")),
        "b_id")
      .groupBy(least(col("src_a"), col("src_b")).as("src_1"),
        greatest(col("src_a"), col("src_b")).as("src_2"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_1", "src_2")
  }

  /** Span-level duplication flags — the sub-document dedup mode (the
    * "Deduplicating Training Data" stage): per doc, how many of its
    * 8-token positional spans also occur in ≥ 3 distinct documents.
    * Exact- and near-dup catch whole documents; this catches the
    * boilerplate PARAGRAPH pasted into thousands of otherwise-unique
    * pages, which at corpus scale dominates memorization risk.
    *
    * Plan: tokenize once (posexplode — the lambda-inlining-safe form),
    * build spans with 7 `lead`s over ONE window by (doc_id, pos), hash
    * each span to 8 bytes, count document frequency per span hash, and
    * left-join the df≥3 set back. Spans stay positional (not distinct):
    * n_dup_spans counts occurrences, so a doc that repeats the shared
    * paragraph twice reports both. Cost is linear in tokens plus one
    * shuffle by span hash; no pair join exists anywhere. The df≥3
    * frame has unique keys (it IS a groupBy result), so the left join
    * cannot multiply rows. Span identity joins as xxhash64 — same
    * 64-bit-collision tolerance as [[ngramJaccard]]'s shingle index;
    * the oracle compares full span STRINGS, so a collision would
    * surface as a hash mismatch, not hide. */
  def spanFlags(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(Fns.tokens(col("text"))).as(Seq("pos", "w")))
      .select(col("doc_id"),
        concat_ws(" ", col("w") +: (1 to 7).map(i => lead("w", i).over(w)): _*)
          .as("span"),
        lead("w", 7).over(w).as("w8"))
      .filter(col("w8").isNotNull)
      .select(col("doc_id"), xxhash64(col("span")).as("h"))
    val common = spans
      .groupBy("h")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") >= 3)
      .select(col("h").as("dup_h"))
    spans.join(common, col("h") === col("dup_h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(col("dup_h")).as("n_dup_spans"))
      .orderBy("doc_id")
  }

  /** Maximal duplicated-substring RUNS per document — the interval form
    * of [[spanFlags]] (the "ExactSubstr" accounting of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): a
    * position is duplicated when its 8-token span starting there also
    * appears in ≥ 1 OTHER document; consecutive/overlapping duplicated
    * spans then merge into maximal token intervals, so the output
    * answers "WHICH stretches of this doc are copied, how long is the
    * longest, and what fraction of the doc would substring-excision
    * remove" — the numbers an excision pass (cut the runs, keep the
    * unique remainder) acts on, which per-span occurrence counts can't
    * give because overlapping spans double-count their shared tokens.
    *
    * Plan: the [[spanFlags]] span stream (tokenize once, 7 `lead`s over
    * one (doc_id, pos) window, 8-byte span hash), cross-doc span set
    * via one hash-keyed groupBy (df ≥ 2 over DISTINCT docs — a doc
    * repeating its own paragraph is self-similarity, not duplication),
    * LEFT SEMI back onto positions, then the classic interval merge as
    * two per-doc windows: a span starts a new run iff its position
    * exceeds the running `max(pos+7)` of all earlier spans by ≥ 2
    * (touching intervals merge — tokens 0-7 + 8-15 are one contiguous
    * copied region), and `sum(is_start)` numbers the runs. Covered
    * tokens per run = max(pos)+7−min(pos)+1 — exact interval-union
    * length, immune to overlap double-counting. Everything after the
    * one span-hash shuffle is doc_id-partitioned windows + a doc-keyed
    * rollup: linear in tokens, no pair join, same 100 TB shape as
    * [[spanFlags]]. Span identity travels as xxhash64 (the shared
    * 64-bit-collision stance); the oracle compares full span STRINGS,
    * so a collision would hash-FAIL the gate, not hide. */
  def substringRuns(s: SparkSession, d: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy("doc_id").orderBy("pos")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(Fns.tokens(col("text"))).as(Seq("pos", "w")))
    val spans = toks
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", col("w") +: (1 to 7).map(i => lead("w", i).over(w)): _*)
          .as("span"),
        lead("w", 7).over(w).as("w8"))
      .filter(col("w8").isNotNull)
      .select(col("doc_id"), col("pos"), xxhash64(col("span")).as("h"))
    val shared = spans.groupBy("h")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("h"))
    val dup = spans.join(shared, Seq("h"), "left_semi")
    val prevEnd = max(col("pos") + lit(7))
      .over(w.rowsBetween(W.unboundedPreceding, -1))
    val runs = dup
      .select(col("doc_id"), col("pos"),
        when(col("pos") > coalesce(prevEnd, lit(-9)) + lit(1), 1)
          .otherwise(0).as("is_start"))
      .withColumn("run_id", sum("is_start").over(w))
      .groupBy("doc_id", "run_id")
      .agg((max("pos") + lit(7) - min("pos") + lit(1)).cast("long")
        .as("run_tokens"))
    val ntok = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    runs.groupBy("doc_id")
      .agg(count(lit(1)).as("n_runs"),
        sum("run_tokens").as("dup_tokens"),
        max("run_tokens").as("max_run_tokens"))
      .join(ntok, "doc_id")
      .select(col("doc_id"), col("n_runs"), col("dup_tokens"),
        col("max_run_tokens"), col("n_tokens"),
        expr("dup_tokens * 1000000 div n_tokens").as("dup_ppm"))
      .orderBy("doc_id")
  }

  /** Directional shingle containment — the near-dup mode Jaccard MISSES:
    * a short doc embedded verbatim in a much longer one (boilerplate,
    * quote-inflation, template wrapping) has tiny Jaccard (the union is
    * dominated by the long doc) but containment |A∩B|/|A| ≈ 1. Flags
    * ordered pairs where ≥ 80% of the contained doc's distinct shingles
    * appear in the container (integer check: 5·inter ≥ 4·n_contained).
    * Reuses [[ngramCandidateStage]]'s df-capped inverted index — the
    * candidate set is symmetric (pairs sharing ≥ 1 informative shingle,
    * Σ df² bounded), and each surviving (a<b) candidate row fans out
    * into both directions BEFORE the threshold filter, so one candidate
    * join serves both orientations. Same 100 TB shape as
    * `dedup_ngram_jaccard`; only the acceptance predicate differs. */
  def containment(s: SparkSession, d: String): DataFrame = {
    val (cands, sizes) = ngramCandidateStage(s, d)
    cands
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "nb"), "b_id")
      // cut BEFORE the 2-direction fan-out: `inter·5 ≥ 4·min(na,nb)` is
      // exactly "at least one direction passes" (the min side is the
      // easier containment), so the explode runs on survivors, not on
      // the full candidate frame — at 16× stress scale that is 4k rows
      // instead of 36M struct rows (measured 2.9× wall on the sweep)
      .filter(col("inter") * 5 >= least(col("na"), col("nb")) * 4)
      .select(explode(array(
        struct(col("a_id").as("contained_id"),
          col("b_id").as("container_id"), col("inter"),
          col("na").as("n_contained"), col("nb").as("n_container")),
        struct(col("b_id").as("contained_id"),
          col("a_id").as("container_id"), col("inter"),
          col("nb").as("n_contained"), col("na").as("n_container"))))
        .as("r"))
      .select("r.*")
      .filter(col("inter") * 5 >= col("n_contained") * 4)
      .orderBy("contained_id", "container_id")
  }

  /** Incremental dedup, driver-checked entry — a thin wrapper over
    * [[incrementalFrames]]: the batch boundary is the midpoint doc_id
    * (docs below = existing corpus, at/above = new ingest batch), so
    * the DuckDB oracle can recompute the same split from one table.
    *
    * Oracle-parity headroom: the Spark side df-caps shingles at
    * `graft.dedup.maxShingleDf` (default 100) while the oracle SQL is
    * uncapped — parity holds because the cap drops NOTHING at oracle
    * SFs (measured max shingle df: 7 at sf0.01, 25 at sf0.1; see
    * [[ngramCandidateStage]]). If testdata ever grows a shingle with
    * df > 100 the hash gate breaks HERE first — raise the conf or
    * re-measure. */
  def incremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bounds = docs.agg(min("doc_id"), max("doc_id")).head()
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    incrementalFrames(
      docs.filter(col("doc_id") >= cut),
      docs.filter(col("doc_id") < cut))
  }

  /** Incremental dedup, production shape — the OPERATIONAL form at
    * 100 TB: dedupe a new ingest batch against the existing corpus
    * without ever re-running corpus×corpus. The two sides are separate
    * frames (separate tables in production; `corpus` would typically be
    * the survivor corpus persisted by
    * [[graft.ops.Materialize.survivorCorpus]] after the previous run).
    * doc_ids must be globally unique across both frames; every corpus
    * doc counts as "earlier" than every new doc, and new docs order
    * among themselves by doc_id.
    *
    * Output, one row per `newBatch` doc: `exact_dup` (an earlier doc —
    * corpus, or earlier-id new — has identical md5), `near_dup`
    * (jaccard ≥ 0.5 with an earlier doc), `survivor` (neither).
    *
    * Scale shape: the candidate join's b-side is ONLY the new batch's
    * shingles (the `is_new` filter below — DedupSpec pins it on the
    * plan), so the inverted-index join costs Σ_shingle df_new·df_all —
    * proportional to the batch, not the corpus squared; old×old pairs
    * are never generated. The same df-cap as [[ngramCandidateStage]]
    * bounds hot shingles; the hot set is computed over corpus+batch
    * together, so a shingle that goes hot only with the new batch is
    * dropped from both sides alike. */
  def incrementalFrames(newBatch: DataFrame, corpus: DataFrame): DataFrame = {
    val s = newBatch.sparkSession
    val maxDf = GraftConf.MaxShingleDf(s)
    val tagged = corpus.select(col("doc_id"), col("text"), lit(0).as("is_new"))
      .unionAll(
        newBatch.select(col("doc_id"), col("text"), lit(1).as("is_new")))
    // materialized once: hot-set agg, anti-join probe, sizes, and both
    // candidate-join sides all consume it (see ngramJaccard note)
    val all = shingleRowsOf(tagged).localCheckpoint()
    val hot = all.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("h")
    val idx = all.join(broadcast(hot), Seq("h"), "left_anti")
    val sizes = idx.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val newIdx = idx.filter(col("is_new") === 1)
    val near = jaccardVerify(
      idx.as("a").join(newIdx.as("b"),
          col("a.h") === col("b.h")
            && (col("a.is_new") === 0
              || col("a.doc_id") < col("b.doc_id")))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("inter")),
      sizes)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("nd", lit(1))
    // exact dup = same md5 anywhere in the corpus, or on an earlier-id
    // new doc; the corpus side ships only distinct digests (32 bytes/doc)
    val inCorpus = corpus.select(md5(col("text")).as("m")).distinct()
      .withColumn("in_corpus", lit(1))
    val newMd5 = newBatch.select(col("doc_id"), md5(col("text")).as("m"))
    val firstNew = newMd5.groupBy("m").agg(min("doc_id").as("new_mid"))
    newMd5
      .join(firstNew, "m")
      .join(inCorpus, Seq("m"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("in_corpus").isNotNull || col("new_mid") < col("doc_id"))
          .cast("int").as("exact_dup"),
        coalesce(col("nd"), lit(0)).as("near_dup"),
        when(col("in_corpus").isNull && col("new_mid") === col("doc_id")
          && coalesce(col("nd"), lit(0)) === 0, 1).otherwise(0)
          .as("survivor"))
      .orderBy("doc_id")
  }

  /** The materialization stage under the oracle: write the deduped
    * corpus (+ split assignment) as partitioned parquet via
    * [[graft.ops.Materialize.survivorCorpus]], then READ IT BACK from
    * storage and aggregate per (split, lang) — so the hash gate checks
    * the data as laid out on disk (partition-directory values included),
    * not the pre-write frame. The DuckDB oracle recomputes survivors +
    * split independently from the source table. */
  def materializeSurvivors(s: SparkSession, d: String): DataFrame = {
    val path = graft.ops.Scratch.dir("survivors")
    graft.ops.Materialize.survivorCorpus(s, d, path)
    Parquet.read(s, path)
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
      .orderBy("split", "lang")
  }

  /** `index_compaction_plan` — the CHAIN-HEALTH half of the LSM story
    * (round-14 verdict Missing #4): every index family has generational
    * append plus a compaction writer, but nothing measured WHEN to
    * compact. This planner walks each family's generation chain off
    * its provenance sidecars — metadata-sized reads, never index rows —
    * and emits per family: generation count (which IS the per-probe
    * read amplification — a chain serve opens every generation),
    * base-build and cumulative slice counts, the appended mass in ppm,
    * and a compact/keep decision at fixed thresholds
    * ([[ChainMaxGenerations]] = 4 — the [[graft.ops
    * .Materialize.genChain]] 64-generation hard stop's operating
    * margin; [[ChainMaxAppendedPpm]] = 750000 — compact once ¾ of
    * the corpus lives outside the base build, the point
    * where per-generation row-group pruning has lost the base sort's
    * benefit for most rows). A `compact` row's executor is the
    * family's existing writer (`ivfIndexCompact` / `pqIndexCompact` /
    * `sigIndexCompact` / the lexical merge refresh) — MaterializeSpec
    * pins that compacting flips the planner's decision back to keep.
    *
    * Chains audited = the six standard append-cycle scratches
    * (features, ivf, lex, minhash, pq, simhash — shared build-once
    * state with their `*_append_refresh` queries, so the planner
    * audits the very chains those queries serve). ✅SQL: provenance
    * is exact by construction (admission replays it every append), so
    * the oracle recomputes each chain's counts straight from the
    * corpus cut replays (id midpoints for doc/vector families, the
    * day midpoint for the feature store). */
  def indexCompactionPlan(s: SparkSession, d: String): DataFrame = {
    val chains: Seq[(String, String)] = Seq(
      "features" -> Training.featAppendPath(s, d),
      "ivf" -> Similarity.vecScratch(s, d, "ivf-chain" + hashModeTag,
        graft.ops.Materialize.ivfIndexOf,
        graft.ops.Materialize.ivfIndexAppend),
      "lex" -> Retrieval.lexAppendPath(s, d),
      "minhash" -> sigScratch(s, d, "minhash-chain",
        graft.ops.Materialize.minhashIndexOf,
        graft.ops.Materialize.minhashIndexAppend),
      "pq" -> Similarity.vecScratch(s, d, "pq-chain",
        graft.ops.Materialize.pqIndexOf,
        graft.ops.Materialize.pqIndexAppend),
      "simhash" -> sigScratch(s, d, "simhash-chain",
        graft.ops.Materialize.simhashIndexOf,
        graft.ops.Materialize.simhashIndexAppend))
    chainHealth(s, chains.map { case (f, h) => (f, h, d) },
      ChainMaxGenerations, ChainMaxAppendedPpm)
  }

  /** [[indexCompactionPlan]]'s thresholds — constants the plan and the
    * oracle text share. */
  private val ChainMaxGenerations = 4L
  private val ChainMaxAppendedPpm = 750000L

  /** The planner core over explicit (family, head, corpus-tag)
    * chains — factored out so MaterializeSpec can audit a chain it
    * built itself (3 generations → compact → re-audit → keep). All
    * reads are provenance sidecars: O(generations) tiny files per
    * family, no index data touched. */
  private[graft] def chainHealth(s: SparkSession,
      chains: Seq[(String, String, String)],
      maxGen: Long, maxPpm: Long): DataFrame = {
    val rows = chains.map { case (family, head, tag) =>
      val gens = graft.ops.Materialize.genChain(s, head, tag)
      def sliceN(p: String): Long = {
        val props = graft.ops.ArtifactTag.readProps(s, p)
        props.get("n_docs").orElse(props.get("n_vecs"))
          .orElse(props.get("n_events")).getOrElse(
            throw new IllegalArgumentException(
              s"artifact at $p carries no slice-count provenance — " +
                "rebuild it with the Materialize writer")).toLong
      }
      val total = sliceN(gens.head) // head carries the cumulative count
      val base = sliceN(gens.last) // genChain walks head → base
      val appendedPpm =
        if (total == 0L) 0L else (total - base) * 1000000L / total
      val decision =
        if (gens.size > maxGen || appendedPpm > maxPpm) "compact"
        else "keep"
      (family, gens.size, base, total, appendedPpm, decision)
    }
    import s.implicits._
    rows.toDF("family", "n_generations", "rows_base", "rows_total",
      "appended_ppm", "decision").orderBy("family")
  }

  /** Small-file compaction planner over the survivor corpus — the
    * lakehouse-maintenance stage after [[materializeSurvivors]]: given
    * a target output-file size ([[CompactionTargetChars]]), assign
    * every survivor doc (doc_id order within its (split,
    * lang) partition) to the output file index `prior_chars div
    * target` — the deterministic size-based rolling writer — and emit
    * the per-file manifest (doc count, char mass, doc_id range) a
    * rewrite job would execute.
    *
    * Scale shape: the prefix sum is TWO-LEVEL, never a global window.
    * A naive `sum over (partition by split, lang order by doc_id)`
    * funnels each of the ~3×|langs| partition values through ONE task —
    * the exact skew [[graft.ops.Materialize.partitioned]]'s scaladoc
    * warns about, fatal at 100 TB. Instead: (1) docs bucket by
    * `doc_id div G` (G = [[CompactionPlanGroup]]);
    * (2) per-bucket char sums — n/G rows — take the coarse running
    * total (a window over the TINY aggregated frame); (3) the
    * fine-grained within-bucket prefix runs partitioned by (split,
    * lang, bucket) — bounded G-row groups, no skew. prior = coarse
    * offset + local prefix equals the global prefix exactly because
    * doc_id order refines bucket order. The oracle replays the plain
    * one-level prefix — identical values, so the hash gate also proves
    * the decomposition correct. */
  def compactionPlan(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val unb = org.apache.spark.sql.expressions.Window.unboundedPreceding
    val base = graft.ops.Materialize.survivorFrame(s, d)
      .select(col("split"), col("lang"), col("doc_id"), col("n_chars"),
        expr(s"doc_id div $CompactionPlanGroup").as("grp"))
    val coarse = base.groupBy("split", "lang", "grp")
      .agg(sum("n_chars").as("grp_chars"))
      .withColumn("grp_offset",
        coalesce(sum("grp_chars").over(
          w.partitionBy("split", "lang").orderBy("grp")
            .rowsBetween(unb, -1)), lit(0L)))
      .select("split", "lang", "grp", "grp_offset")
    base
      .withColumn("local_prior",
        coalesce(sum("n_chars").over(
          w.partitionBy("split", "lang", "grp").orderBy("doc_id")
            .rowsBetween(unb, -1)), lit(0L)))
      .join(coarse, Seq("split", "lang", "grp"))
      .withColumn("file_idx",
        expr(s"(grp_offset + local_prior) div $CompactionTargetChars"))
      .groupBy("split", "lang", "file_idx")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("file_chars"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
      .orderBy("split", "lang", "file_idx")
  }

  /** [[compactionPlan]]'s target output-file size in chars — shared
    * with its oracle text — and its prefix-sum bucket width. */
  private val CompactionTargetChars = 8192L
  private val CompactionPlanGroup = 1024L

  /** Corpus-level near-dup profiling with the mergeable MinHash-union
    * aggregate ([[graft.plans.MinHashUnion]], a native
    * DeclarativeAggregate): per-source union signature = the MinHash
    * sketch of that source's whole shingle set, computed with one
    * shuffle of 128-long buffers (map-side partial merge, no row
    * explosion); then pairwise source-vs-source Jaccard estimates from
    * matching signature components. Rows-only check (sketch estimates);
    * ApproxSpec pins the estimate against the exact per-source set
    * Jaccard, and SignaturesSpec pins union(sig(A), sig(B)) =
    * sig(A ∪ B). */
  def sourceMinhash(s: SparkSession, d: String): DataFrame = {
    graft.plans.SignatureFunctions.register(s)
    import graft.plans.SignatureFunctions.{MinHashName, MinHashUniName, MinHashUnionName}
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    // mode-routed signature family ([[minhashBands]]'s rule); the
    // element-wise-min union is family-agnostic either way
    val fn = if (GraftConf.Md5Mode.active) MinHashUniName else MinHashName
    val sigs = shingleArrays(s, d).join(docs, "doc_id")
      .select(col("source"),
        call_function(fn, col("hs")).as("sig"))
    val unions = sigs.groupBy("source")
      .agg(call_function(MinHashUnionName, col("sig")).as("usig"),
        count(lit(1)).as("n_docs"))
    unions.as("a").join(unions.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.n_docs").as("docs_a"), col("b.n_docs").as("docs_b"),
        round(
          aggregate(
            zip_with(col("a.usig"), col("b.usig"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, x) => acc + x).cast("double") / 128.0,
          4).as("est_jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Hyperplane-LSH candidate generation shared by [[embeddingLsh]]
    * and [[Similarity.clusterDbscan]]'s production mode: `nBands`
    * independent bands of `nPlanes` random hyperplanes (deterministic
    * MurmurHash3 plane components keyed on (band, plane, dim)) bucket
    * each vector into a `nPlanes`-bit signature per band; candidates
    * are same-band-bucket id pairs (a_id < b_id), unioned across bands
    * and deduped. Candidates carry ids only — the band union + dedup
    * shuffles 16-byte rows, never 0.5 KB embedding arrays; callers
    * join vectors back for their exact verification.
    *
    * The caller picks the recall/volume point: more planes per band →
    * smaller buckets (less candidate volume) but lower per-band
    * collision probability (1 − θ/π)^planes for angle θ. */
  /** Hyperplane (band, p)'s 64 components in (-1, 1) — ONE definition
    * for the Spark literals and the `dedup_embedding_lsh` oracle's
    * VALUES relation (Double.toString round-trips both engines). */
  private def lshPlaneComps(band: Int, p: Int): Seq[Double] =
    (0 until 64).map { j =>
      (scala.util.hashing.MurmurHash3
        .productHash((band, p, j)) % 1000) / 1000.0
    }

  private[graft] def hyperplaneCandidates(
      e: DataFrame, nBands: Int, nPlanes: Int): DataFrame = {
    def plane(band: Int, p: Int): Column =
      array(lshPlaneComps(band, p).map(c => lit(c)): _*)
    // materialized once: the per-band self-joins consume `bucketed`
    // 2×nBands times, and the nBands×nPlanes cosine projections would
    // otherwise re-run for every consumer (only exchanges get reused)
    val bucketed = (0 until nBands).foldLeft(e) { (df, band) =>
      df.withColumn(s"bucket_$band",
        (0 until nPlanes).map(p =>
          when(call_function(graft.plans.GraftFunctions.CosineName,
            graft.ops.Fns.asDouble(col("embedding")), plane(band, p)) > 0,
            lit(1L << p)).otherwise(0L))
          .reduce(_ + _))
    }.drop("embedding").localCheckpoint()
    (0 until nBands).map { band =>
      bucketed.as("a").join(bucketed.as("b"),
          col(s"a.bucket_$band") === col(s"b.bucket_$band")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
    }.reduce(_ unionAll _).dropDuplicates("a_id", "b_id")
  }

  /** The 100 TB path for [[embeddingCosine]]: hyperplane-LSH bucketing
    * (8 independent bands × nPlanes planes) turns candidate generation
    * into equi-joins on bucket ids; exact cosine verification runs on
    * same-bucket pairs only. Rows-only check (recall < 1 by design —
    * that is the n² → n·bucket trade; at higher similarity thresholds
    * fewer/longer bands suffice).
    *
    * Plane count is NOT a constant: with p planes a band has 2^p
    * buckets, so per-band candidate volume is ~n²/2^p — fixed p is
    * still quadratic in n. We pick p = ceil(log2(n / targetBucket))
    * (targetBucket = 64, clamped to [4, 24], override with
    * `graft.lsh.planes`), which keeps expected bucket occupancy — and
    * therefore per-band candidate volume per row — constant as the
    * corpus grows; the one extra driver-side `count()` is a metadata-
    * cheap scan. At sf0.01 (n = 500) this resolves to the same 4 planes
    * as before. */
  def embeddingLsh(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val nPlanes = GraftConf.LshPlanes(s).getOrElse(Fns.lshPlanes(e.count()))
    val cands = hyperplaneCandidates(e, nBands = 8, nPlanes = nPlanes)
    cands
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")),
        "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")),
        "b_id")
      .withColumn("cos", call_function(GraftFunctions.CosineName,
        col("a_emb"), col("b_emb")))
      .filter(col("cos") >= 0.45)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("a_id", "b_id")
  }

  /** Near-dup clustering: connected components over the verified
    * Jaccard-pair graph ([[ccLoop]]). A pair graph of at most
    * [[CcMaxEdges]] edges is collected once and labeled by a driver-side
    * union-find; a larger one runs min-label propagation WITH pointer
    * jumping (label ← label(label) each round), so convergence is
    * O(log component-diameter) rounds — a 20-hop chain needs ~5 rounds,
    * not 20. Per distributed round: one co-partitioned edge⋈label join
    * + groupBy, then the jump join; ONE action (the convergence count
    * reads the persisted round output directly — the old label rides
    * along in an `old` column, so nothing is executed twice). Lineage
    * is truncated with `localCheckpoint` every round (swap for a
    * reliable `checkpoint` dir on a multi-executor cluster) so the
    * logical plan stays bounded however many rounds run.
    * Non-convergence within `graft.cc.maxIters` (default 50) rounds
    * throws — a silently split component must never look like a
    * result. Output: every doc with its component root (min doc_id
    * reachable) and a survivor flag (root keeps, rest drop). */
  def clusters(s: SparkSession, d: String): DataFrame =
    clusterLabels(s, d)
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("int").as("is_survivor"))
      .orderBy("doc_id")

  /** The (doc_id, cluster_id) label source the whole cluster FAMILY
    * ([[clusters]], [[bestSurvivor]], [[softWeights]],
    * [[clusterSizeDist]]) starts from — dual-mode, the
    * `graft.dbscan.lshPlanes` routing precedent:
    *
    *  - `graft.cc.labelsPath` SET → serving mode: ONE scan of the
    *    [[graft.ops.Materialize.ccLabels]] artifact at that path. A
    *    nightly pipeline pays the pair stage and the CC labeling
    *    once at refresh; every downstream consumer in the same run
    *    then reads doc_id-sorted parquet instead of re-deriving both
    *    (at 100 TB, where the labeling runs O(log diameter) join
    *    rounds, it is the difference between one CC job and four).
    *  - unset → oracle mode: the in-query loop over the verified
    *    near-dup graph (hash-gated against the recursive-CTE
    *    closure).
    *
    * DedupSpec pins the two modes row-identical for every family
    * member and the serving-mode plan free of loop machinery. */
  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame =
    GraftConf.CcLabelsPath(s) match {
      case Some(p) =>
        // the artifact's _graft_corpus sidecar must name THIS corpus:
        // a session serving two corpora with one labelsPath left set
        // would otherwise silently score corpus B's documents with
        // corpus A's labels (the tag travels WITH the artifact, so
        // the check holds across JVMs, not just within one process)
        graft.ops.ArtifactTag.require(s, p, d)
        Parquet.read(s, p).select("doc_id", "cluster_id")
      case None => loopLabels(s, d)
    }

  /** The loop branch of [[clusterLabels]], unconditionally — the
    * artifact WRITER ([[graft.ops.Materialize.ccLabels]]) must always
    * compute fresh labels, never read a (possibly stale, possibly
    * self-referential) `graft.cc.labelsPath` back. The EDGE source is
    * [[verifiedPairs]], though: the self-reference ban is about the
    * labels artifact, not the upstream pair frame — a refresh cycle
    * that persisted `Materialize.pairGraph` derives its labels from
    * those very files (tag/stage-guarded) instead of re-deriving the
    * candidate join, which is the nightly one-pair-job composition. */
  private[graft] def loopLabels(s: SparkSession, d: String): DataFrame = {
    val maxIters = GraftConf.CcMaxIters(s)
    ccLoop(Tables.documents(s, d).select("doc_id"),
        verifiedPairs(s, d).select("a_id", "b_id"), maxIters)
      .select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** [[loopLabels]] over an explicit (doc_id, text) corpus slice —
    * what a nightly cycle computes and [[graft.ops.Materialize
    * .ccLabelsOf]] persists as the old-state artifact the NEXT
    * cycle's [[ccIncremental]] contracts against. */
  private[graft] def loopLabelsOf(s: SparkSession, docs: DataFrame)
      : DataFrame = {
    val maxIters = GraftConf.CcMaxIters(s)
    ccLoop(docs.select("doc_id"),
        ngramJaccardOf(s, docs).select("a_id", "b_id"), maxIters)
      .select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** [[clusters]] served from the MATERIALIZED label artifact — the
    * from-index twin that lets the four CC-dependent queries (and any
    * downstream audit) read the nightly labeling instead of re-running
    * the pointer-jumping loop per call (the [[minhashFromIndex]]
    * serving pattern, applied to the cluster family). The artifact is
    * [[graft.ops.Materialize.ccLabels]]' (doc_id, cluster_id) frame,
    * doc_id-range-sorted; serving is ONE parquet scan + a per-row
    * survivor projection + the presentation sort — no shingles, no
    * candidate join, no loop (DedupSpec pins the plan reads only the
    * label files and the output ≡ [[clusters]] row-for-row; the
    * oracle replays the full recursive-CTE closure, so the artifact
    * itself is hash-gated end to end). */
  def clustersFromIndex(s: SparkSession, d: String): DataFrame = {
    val path = graft.ops.BuildOnce.scratchPath("cclabels", d)
    graft.ops.BuildOnce.ensure(path, d) {
      graft.ops.Materialize.ccLabels(s, d, path)
    }
    Parquet.read(s, path)
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("int").as("is_survivor"))
      .orderBy("doc_id")
  }

  /** The verified pair graph served from the MATERIALIZED
    * [[graft.ops.Materialize.pairGraph]] artifact — the
    * [[clustersFromIndex]] treatment for the pair frame itself:
    * build once into scratch, then serve the (a_id, b_id, inter, na,
    * nb) rows as ONE (a_id, b_id)-range-sorted parquet scan + the
    * presentation sort — no shingles, no rank window, no candidate
    * join. The oracle replays the full uncapped all-pairs Jaccard
    * SQL, so the ARTIFACT (not just the in-query stage) is hash-gated
    * end to end — exactly the guarantee the ten conf-routed consumers
    * of `graft.dedup.pairsPath` lean on. */
  def pairsFromIndex(s: SparkSession, d: String): DataFrame = {
    val path = graft.ops.BuildOnce.scratchPath("pairs", d)
    graft.ops.BuildOnce.ensure(path, d) {
      graft.ops.Materialize.pairGraph(s, d, path)
    }
    Parquet.read(s, path)
      .select("a_id", "b_id", "inter", "na", "nb")
      .orderBy("a_id", "b_id")
  }

  /** The pair graph refreshed INCREMENTALLY, then served — the
    * registered end-to-end composition of [[graft.ops.Materialize
    * .pairGraphDelta]]: the "previous cycle" persists a pair graph
    * over the old half of the corpus (midpoint split — [[idCut]], the
    * shared test-harness split rule), the refresh deltas it to the
    * full corpus (old pairs re-read as FILES, only new-touching pairs
    * computed — work ∝ batch, the [[ccIncremental]] economics on the
    * pair artifact itself), and the query serves the REFRESHED
    * artifact as one range-sorted scan. The oracle replays the full
    * uncapped all-pairs Jaccard SQL, so the delta writer's
    * row-identity-to-rebuild contract is hash-gated by the driver
    * end to end — not just spec-pinned (DedupSpec pins the equality
    * and the refusal matrix besides). */
  def pairsDeltaRefresh(s: SparkSession, d: String): DataFrame = {
    val root = graft.ops.BuildOnce.scratchPath("pairsdelta", d)
    graft.ops.BuildOnce.ensure(root, d) {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      // cold start (the midpoint leaves no old half — 0-2 docs): a
      // production first night runs the FULL build, and the
      // composition degrades the same way instead of refusing a
      // tiny-but-valid corpus the in-query twin handles fine
      val old =
        if (docs.isEmpty) docs
        else docs.filter(col("doc_id") < idCut(docs))
      if (old.isEmpty)
        graft.ops.Materialize.pairGraphOf(s, docs, s"$root/new", d)
      else {
        graft.ops.Materialize.pairGraphOf(s, old, s"$root/old", d)
        graft.ops.Materialize.pairGraphDelta(s, d, s"$root/old",
          s"$root/new")
      }
    }
    Parquet.read(s, s"$root/new")
      .select("a_id", "b_id", "inter", "na", "nb")
      .orderBy("a_id", "b_id")
  }

  /** Edge rows up to which [[ccLoop]] labels on the driver: 2^20
    * (a_id, b_id) pairs are ~32 MB of primitive longs (the endpoints
    * and their sorted copy), and none of it, nor the Row copy
    * collected through [[graft.ops.Bounded]], outlives the call — the
    * labels leave as a local relation of the non-root endpoints. */
  private[graft] val CcMaxEdges = 1 << 20

  /** The `localBound` every [[ccLoop]] call runs under by default:
    * [[CcMaxEdges]]. Specs rebind it around a whole query
    * (`ccBound.withValue(-1)`) to run the query's loops distributed and
    * compare the two paths row for row; nothing else rebinds it. */
  private[graft] val ccBound = new scala.util.DynamicVariable(CcMaxEdges)

  /** [[clusters]]' connected components over an explicit (nodes,
    * a_id<b_id pairs) graph — (doc_id, label) out, one row per distinct
    * node, label = min id reachable. `nodes` must contain every pair
    * endpoint. The pair frame is materialized once and collected
    * through [[graft.ops.Bounded]]: within `localBound` edges, a
    * min-root union-find runs on the driver ([[localLabels]]) — no
    * job per round; above it, the distributed pointer-jumping rounds
    * ([[ccRounds]]) run from the same materialized pairs, so the pair
    * stage never runs twice. Min-id labels are unique, so the two
    * paths are row-identical (CcPathsSpec pins them on the same graphs).
    * Package-private: [[ccIncremental]] runs it twice (old subgraph;
    * contracted delta graph), and specs force the distributed path
    * with a negative `localBound` (0 still labels an empty edge set
    * locally). */
  private[graft] def ccLoop(nodes: DataFrame, pairs: DataFrame,
      maxIters: Int, localBound: Int = ccBound.value): DataFrame = {
    val mat = pairs.select("a_id", "b_id").localCheckpoint()
    graft.ops.Bounded.collect(mat, localBound) match {
      case Some(edges) =>
        GraftBlocks.release(mat)
        localLabels(nodes, edges)
      case None => ccRounds(nodes, mat, maxIters)
    }
  }

  /** Min-root union-find over collected (a_id, b_id) rows, joined back
    * onto `distinct(nodes)`. Endpoints are sorted and deduplicated, so
    * an id's index order is its id order and linking the larger root
    * under the smaller one keeps every root the component's min id.
    * Only non-root endpoints become label rows — a root or an
    * edge-free node labels itself through the `coalesce` — and they
    * enter the plan as a broadcast local relation. */
  private def localLabels(nodes: DataFrame, edges: Array[Row]): DataFrame = {
    val n = edges.length
    val ends = new Array[Long](2 * n)
    var i = 0
    while (i < n) {
      ends(2 * i) = edges(i).getLong(0)
      ends(2 * i + 1) = edges(i).getLong(1)
      i += 1
    }
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var m = 0
    i = 0
    while (i < ids.length) {
      if (m == 0 || ids(m - 1) != ids(i)) { ids(m) = ids(i); m += 1 }
      i += 1
    }
    val parent = Array.range(0, m)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    i = 0
    while (i < ends.length) {
      val a = find(java.util.Arrays.binarySearch(ids, 0, m, ends(i)))
      val b = find(java.util.Arrays.binarySearch(ids, 0, m, ends(i + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 2
    }
    val roots = new java.util.ArrayList[Row]()
    i = 0
    while (i < m) {
      val r = find(i)
      if (r != i) roots.add(Row(ids(i), ids(r)))
      i += 1
    }
    val labels = nodes.sparkSession.createDataFrame(roots, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("root", LongType, nullable = false))))
    nodes.select("doc_id").distinct()
      .join(broadcast(labels), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("label"))
  }

  /** [[ccLoop]]'s distributed path: min-label + pointer-jump rounds over
    * the materialized pair checkpoint `mat`, which it releases once the
    * edge table is built. */
  private def ccRounds(nodes: DataFrame, mat: DataFrame,
      maxIters: Int): DataFrame = {
    // localCheckpoint (not a mere persist): it materializes AND truncates
    // the logical plan to a scan, so the per-round plan stays O(1) —
    // otherwise each round embeds the full upstream pipeline and the jump
    // self-join TRIPLES the tree per round (exponential planning blowup)
    val edges = mat
      .unionAll(mat.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst")
      .repartition(col("src")) // co-partition with the per-round join key
      .localCheckpoint()
    GraftBlocks.release(mat)
    // Round state: (doc_id, label, fresh). `fresh` marks nodes whose
    // label changed last round — the FRONTIER (round 14: only a node
    // whose label CHANGED last round can propagate new information;
    // labels are monotone decreasing, and every node re-mins its own
    // current label each round, so an unchanged neighbor's label was
    // already incorporated the round after it last changed —
    // induction in DedupSpec's equality pins). Round 16 (guide §2.4,
    // fewer exchanges per round): the frontier rides IN the state
    // frame as a flag — its restriction is a FILTER on the checkpoint
    // scan instead of last round's separate semi join — and the
    // neighbor-min aggregate absorbs both the node's own label and
    // the old-label witness as a unioned self row, replacing the
    // {groupBy + left-join-labels-back} pair with ONE aggregate whose
    // output partitioning (dst = doc_id) the jump self-join's probe
    // side reuses. Net: 5 exchanges/round → 3 (the AQE-materialized
    // query-stage count per round is the measured per-round floor —
    // OPTIMIZATION_r16.md "cc loop" entry).
    var state = nodes.select(col("doc_id"), col("doc_id").as("label"),
      lit(true).as("fresh"))
    var cached: DataFrame = null // the checkpointed round output
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val contrib = edges
        .join(state.filter(col("fresh"))
            .select(col("doc_id"), col("label")),
          col("src") === col("doc_id"))
        .select(col("dst"), col("label"),
          lit(null).cast("long").as("own"))
      val self = state.select(col("doc_id").as("dst"), col("label"),
        col("label").as("own"))
      // mid = min(own label, frontier-neighbor labels); old = the own
      // label itself (every node has exactly ONE self row and max
      // ignores the contrib nulls)
      val agg = contrib.unionAll(self)
        .groupBy(col("dst"))
        .agg(min("label").as("mid"), max("own").as("old"))
      // pointer jump: label ← mid(mid); every label IS a node id, so
      // the self-join is total, and the jump table is the SAME agg
      // subtree — the probe side arrives pre-partitioned by dst, the
      // build side exchanges by mid, and the agg exchange is reused
      // (ReuseExchange on the canonicalized subplan — the round-15
      // persist() is gone). Deliberately ONE jump per round: a deeper
      // chase (tried in round 14 — two more self-joins) compounds
      // Catalyst's size-in-bytes estimates through the lazily-
      // checkpointed per-round plans (LogicalRDD inherits its child's
      // estimate before materialization, and join estimates MULTIPLY)
      // until planning itself burns minutes in million-digit BigInt
      // multiplication. Round count stays O(log d) from this one jump.
      val next = agg
        .join(agg.select(col("dst").as("p_id"), col("mid").as("p_label")),
          col("mid") === col("p_id"))
        .select(col("dst").as("doc_id"), col("old"),
          col("p_label").as("label"))
      // LAZY checkpoint + the convergence count in ONE job (round-13):
      // the count below is the round's first action, so it
      // materializes the checkpoint as a side effect. `fresh` is
      // computed once here and serves as convergence predicate AND
      // next round's frontier (jump-moved nodes included — their
      // out-edges must re-fire).
      val step = next
        .select(col("doc_id"), col("label"),
          (col("label") =!= col("old")).as("fresh"))
        .localCheckpoint(eager = false)
      changed = step.filter(col("fresh")).count()
      if (cached != null) GraftBlocks.release(cached)
      cached = step
      state = step
      iter += 1
    }
    GraftBlocks.release(edges)
    if (changed > 0)
      throw new IllegalStateException(
        s"connected-components did not converge in $maxIters rounds " +
          s"($changed labels still changing); raise graft.cc.maxIters")
    state.select("doc_id", "label")
  }

  /** Incremental connected-components maintenance — the nightly-refresh
    * twin of [[clusters]], composing the [[incremental]] scoping idiom
    * with component CONTRACTION: when a new batch lands, the existing
    * labeling is not recomputed; old components collapse to one
    * super-node each (their label — the component's min doc_id), the
    * delta edges (pairs touching ≥ 1 new doc) are rewritten onto
    * super-nodes, and the iterative loop runs ONLY on that contracted
    * delta graph — new docs plus the old components the batch actually
    * touches; an untouched old component never enters a loop round
    * (DedupSpec pins the contracted node count ≪ corpus). Final labels
    * for old docs come from one join (their super-node's new root, or
    * their old label if untouched); correctness is absolute, not
    * approximate: min(merged component) = min(old minima, new ids), so
    * the output is row-identical to a full [[clusters]] recompute —
    * which is exactly what the DuckDB oracle replays (recursive-CTE
    * closure of the FULL graph). Old state is derived in-query from
    * the sub-cut subgraph (test-harness reality, as in
    * [[incremental]]); production persists it. */
  def ccIncremental(s: SparkSession, d: String): DataFrame = {
    val (docs, cut, oldLabels, touchedSup, contractedPairs, maxIters) =
      ccIncrementalPrefix(s, d)
    ccIncrementalTail(docs, cut, oldLabels, touchedSup, contractedPairs,
      maxIters)
  }

  /** The shared prefix of [[ccIncremental]] and its Stress receipt:
    * old/new split rule, delta pairs, old-state derivation, and the
    * component contraction. ONE implementation — the receipt counts
    * the very frames the query's loop consumes, so a change to the
    * split rule or old-state derivation can never desynchronize the
    * two (the round-8 advice: the duplicated prefix was a silent-
    * drift hazard). */
  /** The test-harness old/new split rule — midpoint of the id range.
    * ONE definition shared by [[ccIncrementalPrefix]]'s in-query
    * mode, the Stress receipt's artifact builder, and DedupSpec (the
    * round-8 advice: a duplicated split rule is a silent-drift
    * hazard — the receipt must fabricate the "previous cycle" with
    * the exact rule the query replays). */
  private[graft] def idCut(docs: DataFrame): Long = {
    val bounds = docs.agg(min("doc_id"), max("doc_id")).head()
    (bounds.getLong(0) + bounds.getLong(1)) / 2
  }

  private def ccIncrementalPrefix(s: SparkSession, d: String)
      : (DataFrame, Long, DataFrame, DataFrame, DataFrame, Int) = {
    val maxIters = GraftConf.CcMaxIters(s)
    val docs = Tables.documents(s, d)
    // existing state: labels over the old subgraph (a_id < b_id, so a
    // pair is old×old exactly when b_id < cut). Dual-mode, the
    // cluster-family labelsPath precedent: `graft.cc.oldLabelsPath`
    // SET → the persisted previous-cycle artifact
    // (Materialize.ccLabelsOf over the old corpus) is READ and the
    // pair work is DELTA-SCOPED (deltaPairs: the prefix self-join's
    // b side is new docs only, Σ df_prefix·df_prefix_new) — neither the
    // old loop nor the old×old pair graph re-runs, which is the whole
    // incremental contract. In artifact mode the old/new boundary is
    // DEFINED BY THE ARTIFACT (cut = max labeled id + 1): the old set
    // is exactly what the previous cycle labeled, so a batch that
    // shifts the current corpus's id midpoint can neither double-emit
    // docs the artifact covers nor drop uncovered ones — deriving cut
    // from the current table's (min+max)/2 would do both the moment
    // the artifact slice and the midpoint disagree. Unset → the
    // in-query derivation over the full pair graph with the midpoint
    // split (test-harness reality: the oracle replays the full-graph
    // closure, so the derived state must come from the same table).
    // DedupSpec pins the two modes output-identical with the artifact
    // written from the old slice.
    val (cut, oldLabels, dPairs) =
      GraftConf.CcOldLabelsPath(s) match {
        case Some(p) =>
          graft.ops.ArtifactTag.require(s, p, d) // wrong-corpus guard
          val labels = Parquet.read(s, p)
            .select(col("doc_id"), col("cluster_id").as("label"))
          val stats = labels.agg(max("doc_id"), count(lit(1))).head()
          require(!stats.isNullAt(0),
            s"old-labels artifact at $p is EMPTY — an empty previous " +
              "cycle has no incremental mode; run the full labeling")
          val aCut = stats.getLong(0) + 1L
          // provenance guard (round-9 advisor fix #1): labels built
          // from another pair stage's graph can miss pairs the prefix
          // delta finds, so only prefix-stamped labels are admitted.
          // Artifacts written before the props sidecar are not
          // admissible.
          val props = graft.ops.ArtifactTag.readProps(s, p)
          graft.ops.Materialize.requirePairStage(props,
            s"old-labels artifact at $p")
          // coverage guard: the boundary rule assumes monotone id
          // allocation (every current doc below the artifact's max id
          // was labeled by the previous cycle). Id reuse or backfill
          // below aCut would otherwise VANISH from the output — not
          // old (absent from the artifact), not new (below the cut).
          // Round-9 advisor fix #2: count equality alone cannot detect
          // SUBSTITUTION (1:1 id reuse) or in-place text edits of
          // already-labeled docs, both of which would serve stale
          // labels — so the default guard is the writer's content
          // checksum over (doc_id, md5(text)), replayed on the
          // current below-cut slice. Cost: one projection-pruned
          // (doc_id, text) scan of the old slice per invocation —
          // far below relabeling (no shingling, no pair join, no
          // loop); a deployment on an immutable store may downgrade
          // to the id-level guard with graft.artifact.trustOldContent
          // (count + anti-join: catches backfill, not substitution),
          // the one knob that also governs the delta/append writers
          val below = docs.filter(col("doc_id") < aCut)
          if (GraftConf.TrustOldContent(s)) {
            val nBelow = below.count()
            require(nBelow == stats.getLong(1),
              s"artifact at $p labels ${stats.getLong(1)} docs but the " +
                s"corpus has $nBelow docs below its boundary ($aCut) — " +
                "id reuse/backfill breaks the incremental id contract; " +
                "run the full labeling instead")
            val missing = below.select("doc_id")
              .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
              .count()
            require(missing == 0,
              s"$missing docs below the boundary ($aCut) are absent " +
                s"from the artifact at $p — id backfill breaks the " +
                "incremental id contract; run the full labeling instead")
          } else {
            // version gate BEFORE the replay: a checksum-formula
            // change must read as "provenance format changed", not
            // as id reuse / in-place edits (round-11 advisor finding)
            graft.ops.ArtifactTag.requireProvVersion(props, p)
            val (n, xor) = graft.ops.Materialize.ccSliceChecksum(
              below.select("doc_id", "text"))
            require(props.get("n_docs").contains(n.toString)
                && props.get("content_xor").contains(xor.toString),
              s"old-slice checksum mismatch at $p (artifact " +
                s"n=${props.getOrElse("n_docs", "<none>")} " +
                s"xor=${props.getOrElse("content_xor", "<none>")}, " +
                s"corpus n=$n xor=$xor) — the docs below the boundary " +
                s"($aCut) are not the slice the previous cycle " +
                "labeled (id reuse, backfill, or in-place edits); " +
                "run the full labeling instead")
          }
          (aCut, labels, deltaPairs(s, d, aCut).localCheckpoint())
        case None =>
          val mCut = idCut(docs)
          // verifiedPairsMat, not an unconditional localCheckpoint: in
          // pairsPath serving mode the pair source is already a
          // re-consumable parquet scan, and checkpointing it would
          // copy the artifact into storage memory for nothing
          val pairs = verifiedPairsMat(s, d)
          (mCut,
            ccLoop(
              docs.filter(col("doc_id") < mCut).select("doc_id"),
              pairs.filter(col("b_id") < mCut), maxIters)
            .localCheckpoint(),
            pairs.filter(col("b_id") >= mCut))
      }
    val (touchedSup, contractedPairs) =
      contractDelta(oldLabels, dPairs, cut)
    (docs, cut, oldLabels, touchedSup, contractedPairs, maxIters)
  }

  /** [[ccIncremental]]'s contracted loop input — (touched
    * super-nodes, contracted delta edges, old labels) for the same
    * in-query old/new split, via the SAME [[ccIncrementalPrefix]] the
    * query runs. Package-private: the Stress harness counts the loop
    * frames AND the total old-component population across K — the
    * measured "untouched components never enter the loop" receipt
    * (touched ≪ total) next to DedupSpec's plan pin. */
  private[graft] def ccIncrementalStage(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (_, _, oldLabels, touchedSup, contractedPairs, _) =
      ccIncrementalPrefix(s, d)
    (touchedSup, contractedPairs, oldLabels)
  }

  private def ccIncrementalTail(docs: DataFrame, cut: Long,
      oldLabels: DataFrame, touchedSup: DataFrame,
      contractedPairs: DataFrame, maxIters: Int): DataFrame = {
    // every new doc participates (isolated ones label themselves);
    // old components enter ONLY via their touched super-nodes
    val cLabels = ccLoop(
        docs.filter(col("doc_id") >= cut).select("doc_id")
          .unionAll(touchedSup).distinct(),
        contractedPairs, maxIters)
      .localCheckpoint()
    // old docs: one join through their super-node; new docs: direct
    val oldFinal = oldLabels
      .join(cLabels.select(col("doc_id").as("label"),
          col("label").as("new_root")),
        Seq("label"), "left")
      .select(col("doc_id"),
        coalesce(col("new_root"), col("label")).as("cluster_id"))
    val newFinal = cLabels.filter(col("doc_id") >= cut)
      .select(col("doc_id"), col("label").as("cluster_id"))
    oldFinal.unionAll(newFinal)
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("int").as("is_survivor"))
      .orderBy("doc_id")
  }

  /** Contract delta pairs onto old-component super-nodes: an old
    * endpoint becomes its component label, a new endpoint stays
    * itself. Returns (touched super-nodes, contracted pairs) — the
    * touched set is the ONLY way an old component reaches the loop
    * (the DedupSpec working-set pin). Re-orients each contracted edge
    * so a_id < b_id (ccLoop's contract); a delta pair landing inside
    * one super-node contracts to a self-loop and is dropped. */
  private[graft] def contractDelta(oldLabels: DataFrame,
      deltaPairs: DataFrame, cut: Long): (DataFrame, DataFrame) = {
    val sup = oldLabels.select(col("doc_id").as("a_id"),
      col("label").as("a_sup"))
    val mapped = deltaPairs
      .join(sup, Seq("a_id"), "left")
      .select(coalesce(col("a_sup"), col("a_id")).as("u"),
        col("b_id").as("v"))
    val cPairs = mapped.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a_id"),
        greatest(col("u"), col("v")).as("b_id"))
      .distinct()
    val touched = mapped.filter(col("u") < cut)
      .select(col("u").as("doc_id")).distinct()
    (touched, cPairs)
  }

  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy("keeper_id")

  def exactSurvivors(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
      .orderBy("doc_id")

  /** The per-doc DISTINCT shingle-hash array, as ONE narrow
    * expression: tokens bind once via [[Fns.bound]] (inside
    * [[Fns.shingles3]] — an unbound `tokens(text)` would re-run the
    * regex split once per gram, the measured 10-30× lambda-inlining
    * trap this codebase's window-based shingle builder originally
    * existed to dodge), grams hash to 64-bit xxhash64 in-array, and
    * `array_distinct` dedups per doc with NO shuffle. Round 10
    * replaced the relational build (posexplode → two `lead` windows →
    * row distinct → collect_list: THREE doc_id-ish shuffles before
    * any consumer does work) with this projection — same hashes
    * (identical "w1 w2 w3" pre-images), same per-doc sets, zero
    * exchanges; the whole shingle familiy (prefix filter, df-capped
    * index, MinHash, incremental, stream-candidate verify) begins at
    * a map-side expression now. */
  private def shingleHashes(text: Column): Column =
    array_distinct(transform(Fns.shingles3(Fns.tokens(text)),
      h => if (GraftConf.Md5Mode.active) Fns.md5Hash52(h) else xxhash64(h)))

  /** Scratch-path suffix separating the two hash modes' signature
    * indexes inside ONE JVM ([[GraftConf.Md5Mode]]): BuildOnce caches
    * per path, so without the suffix a mode flip mid-session (the
    * DedupSpec equivalence pins do exactly that) would serve an
    * xxhash64-built index to an md5-mode probe. */
  private[graft] def hashModeTag: String =
    if (GraftConf.Md5Mode.active) "-m5" else ""

  /** (doc_id, h) rows: distinct xxhash64'd 3-gram shingles — the flat
    * (inverted-index) view of [[shingleHashes]]; `explode` drops
    * sub-3-token docs, matching the historical no-shingle filter. */
  private def shingleRows(s: SparkSession, d: String): DataFrame =
    shingleRowsOf(Tables.documents(s, d)
      .select(col("doc_id"), col("text"), lit(0).as("is_new")))
      .drop("is_new")

  /** Frame-input variant: (doc_id, text, is_new) → (doc_id, is_new, h)
    * distinct shingle-hash rows, carrying the batch tag through.
    * [[graft.ops.Spread]] before the shingle projection (round 16,
    * guide §2.5 input skew): tokenize+shingle+hash is the dedup
    * family's heaviest per-row compute and the corpus scan is a
    * single-split file here, so without the spread the whole shingle
    * build serializes onto one task while every other core idles —
    * the same fix the multimodal byte-decode sites took in r15. */
  private def shingleRowsOf(docs: DataFrame): DataFrame =
    graft.ops.Spread(docs).select(col("doc_id"), col("is_new"),
      explode(shingleHashes(col("text"))).as("h"))

  /** Per-doc shingle-hash sets (doc_id, hs, n) — the array view of
    * [[shingleHashes]]; set-valued and order-deterministic (document
    * order), all consumers are order-invariant (min, intersect-size). */
  private def shingleArrays(s: SparkSession, d: String): DataFrame =
    shingleArraysOf(Tables.documents(s, d).select("doc_id", "text"))

  /** Frame-input variant of [[shingleArrays]] for batch-scoped
    * consumers ([[minhashIncremental]]'s old/new split).
    * [[graft.ops.Spread]] parallelizes the shingle compute off the
    * single-split scan (the [[shingleRowsOf]] note). */
  private def shingleArraysOf(docs: DataFrame): DataFrame =
    graft.ops.Spread(docs)
      .select(col("doc_id"), shingleHashes(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), col("hs"),
        size(col("hs")).cast("long").as("n"))

  /** Exact Jaccard ≥ 0.5 near-dup pairs — the pair source the whole
    * near-dup family (CC clustering, degree/pagerank/kcore/triangles,
    * quality delta, tuning curve) consumes, registered under both
    * `dedup_ngram_jaccard` and `dedup_jaccard_prefix`.
    *
    * Candidates come from POSITIONAL PREFIX FILTERING (SSJoin,
    * Chaudhuri et al. ICDE'06; all-pairs, Bayardo et al. WWW'07),
    * which keeps every true pair at every corpus, hot-shingle-only
    * pairs included. Each doc indexes only its ⌊n/2⌋+1 globally
    * RAREST shingles (rarity order = df asc, hash tie-break).
    * Prefix-filter lemma: J(a,b) ≥ t forces |a∩b| ≥ ⌈t/(1+t)·(na+nb)⌉,
    * and the J-length bound (nb ≥ t·na and na ≥ t·nb) lifts that to
    * ≥ ⌈t·nx⌉ for BOTH sides, so prefixes of length nx − ⌈t·nx⌉ + 1 —
    * at t = ½ exactly ⌊nx/2⌋ + 1 (integer arithmetic, no float
    * threshold) — must share a shingle. Candidates are therefore a
    * SUPERSET of the true pair set, and the exact array-intersect
    * verify (3·inter ≥ na+nb, integer-exact) makes the output
    * row-identical to the uncapped all-pairs oracle.
    *
    * Scale shape: candidate volume is Σ_h df_prefix(h)² over PREFIX
    * postings only. Hot shingles sort LAST in the rarity order, so
    * they almost never enter a prefix; a df-10⁶ boilerplate shingle
    * contributes 0 candidate pairs unless some doc is so short that
    * even its rarest half is boilerplate. Measured at every Stress K,
    * that is ~3.65× fewer candidates than the df-capped index
    * [[containment]] runs. The size-compatibility filter
    * (2·min(na,nb) ≥ max(na,nb), from J ≥ ½) prunes length-mismatched
    * collisions before the pair distinct. Stages: one shingle scan
    * (checkpointed — df agg, rarity-rank window, verify arrays all
    * reuse it), one doc_id-partitioned rank window (fine keys), one
    * equi-join on prefix shingle hash, candidate-scoped verify. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardOf(s, Tables.documents(s, d).select("doc_id", "text"))

  /** The verified pair frame every PAIR-CONSUMING query starts from —
    * the six graph metrics ([[degreeDist]], [[pagerank]],
    * [[triangles]], [[kcore]], [[qualityDelta]], [[crossSourceRate]]),
    * plus [[minhashTuningCurve]] (reads inter/na/nb),
    * [[TextAnalysis.curationFunnel]]'s stage-3 drop set, the CC loop
    * itself ([[loopLabels]]) and [[ccIncremental]]'s midpoint branch —
    * dual-mode, the [[clusterLabels]] `graft.cc.labelsPath` precedent
    * applied one stage earlier:
    *
    *  - `graft.dedup.pairsPath` SET → serving mode: ONE scan of the
    *    [[graft.ops.Materialize.pairGraph]] artifact at that path
    *    (5-long rows, (a_id, b_id)-range-sorted). A nightly audit
    *    pays the shingle scan + candidate join once at refresh; all
    *    six metrics then read parquet instead of re-deriving the same
    *    graph — at sf0.1 the pair subplan dominates each consumer's
    *    wall; at 100 TB it is one pair job vs six.
    *  - unset → oracle mode: [[ngramJaccard]] in-query (what the
    *    DuckDB oracle replays).
    *
    * Serving-mode guards: the `_graft_corpus` tag must name THIS
    * corpus, and the `_graft_props` pair-stage stamp must be the
    * prefix stage's ([[graft.ops.Materialize.requirePairStage]]: a
    * graph built by another stage can miss the hot-only pairs this
    * one keeps). The writer's content
    * checksum is NOT replayed per serve by default: a per-serve
    * (doc_id, text) scan would rival some consumers' whole cost, the
    * tag binds the corpus dir, and the write-once discipline forbids
    * in-place mutation under an unchanged path. An audit pass opts in
    * with `graft.dedup.verifyPairsContent=true` (round-12: closes the
    * corpus-regenerated-in-place class for pairs the way the cc label
    * reader closes it for labels). DedupSpec pins both modes
    * row-identical for all six consumers and the serving plans
    * pair-derivation-free. */
  private[graft] def verifiedPairs(s: SparkSession, d: String): DataFrame =
    GraftConf.PairsPath(s) match {
      case Some(p) =>
        graft.ops.ArtifactTag.require(s, p, d)
        val props = graft.ops.ArtifactTag.readProps(s, p)
        graft.ops.Materialize.requirePairStage(props,
          s"pair-graph artifact at $p")
        // opt-in content audit (round-11 verdict task #4): replay the
        // writer's corpus checksum before serving — the guard the cc
        // label reader applies unconditionally, here behind a conf
        // because a per-serve (doc_id, text) scan rivals some
        // consumers' whole cost (the documented default rationale:
        // the tag binds the corpus dir and write-once forbids
        // in-place mutation). An audit pass sets it to close the
        // corpus-regenerated-in-place class the tag cannot see.
        if (GraftConf.VerifyPairsContent(s)) {
          graft.ops.ArtifactTag.requireProvVersion(props, p)
          val (n, xor) = graft.ops.Materialize.ccSliceChecksum(
            Tables.documents(s, d).select("doc_id", "text"))
          require(props.get("n_docs").contains(n.toString)
              && props.get("content_xor").contains(xor.toString),
            s"pair-graph content audit FAILED at $p (artifact " +
              s"n=${props.getOrElse("n_docs", "<none>")} " +
              s"xor=${props.getOrElse("content_xor", "<none>")}, " +
              s"corpus n=$n xor=$xor) — the corpus changed under the " +
              "artifact (regenerated in place, edited, or extended); " +
              "rebuild the pair graph or delta-refresh it")
        }
        Parquet.read(s, p).select("a_id", "b_id", "inter", "na", "nb")
      case None => ngramJaccardRaw(s, d)
    }

  /** [[ngramJaccard]] WITHOUT the presentation sort — the pair frame
    * [[verifiedPairs]] hands to its order-invariant consumers (see
    * [[prefixVerifyRaw]]; serving mode was already unsorted, so the
    * two modes now run the same shape). The registered pair-returning
    * queries keep the sorted form. */
  private def ngramJaccardRaw(s: SparkSession, d: String): DataFrame =
    ngramJaccardRawOf(s, Tables.documents(s, d).select("doc_id", "text"))

  private def ngramJaccardRawOf(s: SparkSession,
      docs: DataFrame): DataFrame = {
    val (arr, cands) = jaccardPrefixStage(s, docs)
    prefixVerifyRaw(arr, cands)
  }

  /** [[verifiedPairs]]' (a_id, b_id) projection, MATERIALIZED for
    * multi-consumer kernels: serving mode is already a re-consumable
    * parquet scan (checkpointing it would copy the artifact into
    * storage memory for nothing); oracle mode localCheckpoints so the
    * candidate join + verify run once however many times the kernel
    * re-reads its edges. */
  private def verifiedPairsMat(s: SparkSession, d: String): DataFrame = {
    val pairs = verifiedPairs(s, d).select("a_id", "b_id")
    if (GraftConf.PairsPath(s).isDefined) pairs
    else pairs.localCheckpoint()
  }

  /** Frame-input variant of [[ngramJaccard]], so every slice-scoped
    * consumer ([[loopLabelsOf]], DedupSpec's adversarial corpora) runs
    * the very stage the registered query runs. */
  private[graft] def ngramJaccardOf(
      s: SparkSession, docs: DataFrame): DataFrame =
    ngramJaccardRawOf(s, docs).orderBy("a_id", "b_id")

  /** Shared exact-verify tail of [[deltaPairGraph]] and
    * [[verifyCandidates]]: candidate id-pairs × the full (uncapped)
    * per-doc shingle arrays — for the prefix path the SAME
    * materialized (doc_id, hs, n) frame the stage derived its postings
    * from, so the verify pays no second tokenize/group pass — →
    * row-identical to the all-pairs oracle. */
  private def prefixVerify(arr: DataFrame, cands: DataFrame): DataFrame =
    prefixVerifyRaw(arr, cands).orderBy("a_id", "b_id")

  /** [[prefixVerify]] WITHOUT the presentation sort — what
    * order-invariant pair CONSUMERS read (round 16, guide §2.4 "an
    * orderBy used only to make output deterministic"): the sort is
    * the pair-returning queries' output contract, but every consumer
    * aggregates or joins the frame, and [[verifiedPairsMat]]'s
    * localCheckpoint was MATERIALIZING the global sort (the optimizer
    * cannot eliminate a sort across an action boundary). Serving mode
    * (`graft.dedup.pairsPath`) always handed consumers an unsorted
    * scan — DedupSpec pins both modes row-identical for all six
    * graph consumers, which is the order-invariance proof. */
  private def prefixVerifyRaw(arr: DataFrame, cands: DataFrame)
      : DataFrame =
    cands
      .join(arr.select(col("doc_id").as("a_id"), col("hs").as("hs_a"),
        col("n").as("na")), "a_id")
      .join(arr.select(col("doc_id").as("b_id"), col("hs").as("hs_b"),
        col("n").as("nb")), "b_id")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .filter(col("inter") * 3 >= col("na") + col("nb"))
      .select("a_id", "b_id", "inter", "na", "nb")

  /** Shared prefix-filter stage of [[ngramJaccard]]: (checkpointed
    * per-doc (doc_id, hs, n) shingle arrays, candidate id-pairs). ONE
    * definition for the query and its Stress receipt (the
    * [[ccIncrementalPrefix]] discipline), so the receipt counts the
    * very candidates the query verifies.
    *
    * The per-doc ARRAY frame — not the flat (doc_id, h) rows — is the
    * checkpointed root: postings explode from it shuffle-free, the
    * per-doc size n rides along (no count window), and the verify
    * tail reads the SAME materialization (round-10: this replaced a
    * flat-rows root that paid a second doc_id shuffle + collect_list
    * in verify and a count window in the stage — measured ~25% off
    * the query's sf0.1 wall). */
  private[graft] def jaccardPrefixStage(
      s: SparkSession, docs: DataFrame,
      bSide: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    val arr = shingleArraysOf(docs.select(col("doc_id"), col("text")))
      .localCheckpoint()
    val all = arr.select(col("doc_id"), col("n"),
      explode(col("hs")).as("h"))
    val dfs = all.groupBy("h").agg(count(lit(1)).as("df"))
    val wRk = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("h"))
    // checkpoint: the prefix frame (vocab join + rank window) feeds
    // BOTH sides of the self-join — without this the rank window runs
    // twice (the `arr` localCheckpoint reasoning, one stage later)
    val prefix = all.join(dfs, "h")
      .withColumn("rk", row_number().over(wRk))
      .filter(col("rk") <= expr("n div 2 + 1"))
      .select("doc_id", "h", "n")
      .localCheckpoint()
    // `bSide` optionally restricts the self-join's b side — the HIGHER
    // doc_id of each emitted pair — before the join (the
    // [[deltaPairGraph]] delta scoping): candidate cost drops
    // from Σ df_prefix² to Σ df_prefix·df_prefix_new while the rarity
    // order and prefixes stay corpus-wide, so the lemma still covers
    // every pair whose higher endpoint survives the predicate.
    val cands = prefix.as("a").join(bSide(prefix).as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id")
          && col("a.n") <= col("b.n") * 2 && col("b.n") <= col("a.n") * 2)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    (arr, cands)
  }

  /** Delta-scoped [[ngramJaccard]], FULL five columns (a_id, b_id,
    * inter, na, nb): verified pairs touching docs with id ≥ `cut`
    * only (a_id < b_id, so that is b_id ≥ cut), row-identical to
    * `ngramJaccard.filter(b_id >= cut)` and COMPLETE at every corpus
    * (it inherits the prefix lemma). One corpus shingle scan is still
    * paid (df stats and verify arrays are corpus-wide); the candidate
    * join is Σ df_prefix·df_prefix_new — linear in the delta.
    * Consumers: [[ccIncremental]]'s artifact mode (id projection via
    * [[deltaPairs]]) and [[graft.ops.Materialize.pairGraphDelta]] (the
    * whole frame — the delta rows it appends to the stored artifact). */
  private[graft] def deltaPairGraph(s: SparkSession, d: String,
      cut: Long): DataFrame = {
    val (arr, cands) = jaccardPrefixStage(s,
      Tables.documents(s, d).select("doc_id", "text"),
      _.filter(col("doc_id") >= cut))
    prefixVerify(arr, cands)
  }

  /** [[deltaPairGraph]]'s (a_id, b_id) projection — what the CC
    * contraction consumes. */
  private def deltaPairs(s: SparkSession, d: String, cut: Long): DataFrame =
    deltaPairGraph(s, d, cut).select("a_id", "b_id")

  /** MinHash-LSH parameter tuning curve — the measured S-curve behind
    * the (bands × rows) knob [[minhashLsh]] hard-codes at 64×2: for
    * every 128-hash split (2×64, 4×32, 8×16, 16×8) and every VERIFIED
    * near-dup pair, the probability the banding scheme would surface
    * that pair as a candidate, P = 1 − (1 − j^r)^b, evaluated at the
    * pair's TRUE Jaccard. Per config: pair count, mean catch ppm, and
    * worst-pair catch ppm — the table that says which split trades how
    * much recall at the j = 0.5 threshold for how much bucket
    * selectivity (longer bands ⇒ fewer sub-threshold candidates but a
    * steeper recall cliff). Data-driven, not the textbook curve at a
    * hypothetical j: it integrates over the corpus's actual
    * near-duplicate similarity distribution.
    *
    * Cross-engine exactness: j = inter/union divides the same BIGINTs
    * into the same double; j^r and (1−j^r)^b are explicit
    * REPEATED-SQUARING chains (identical multiplication trees on both
    * engines — IEEE doubles, no libm `pow` whose ulp varies), and each
    * pair's probability floors onto the 10⁻⁶ grid BEFORE the mean, so
    * the aggregate is an associative integer sum. Scale: one scan over
    * [[ngramJaccard]]'s verified pairs (already linear via the prefix
    * filter), 4-row fan-out, ≤ 4-group rollup. */
  def minhashTuningCurve(s: SparkSession, d: String): DataFrame = {
    def sq(c: Column, k: Int): Column = (1 to k).foldLeft(c)((a, _) => a * a)
    def ppm(jr: Column, sqk: Int): Column =
      floor((lit(1.0) - sq(lit(1.0) - jr, sqk)) * 1000000).cast("long")
    verifiedPairs(s, d)
      .select((col("inter").cast("double") /
        (col("na") + col("nb") - col("inter"))).as("j"))
      .withColumn("j2", col("j") * col("j"))
      .withColumn("j4", col("j2") * col("j2"))
      .withColumn("j8", col("j4") * col("j4"))
      .withColumn("j16", col("j8") * col("j8"))
      .select(explode(array(
        struct(lit(2).as("rows_per_band"), lit(64).as("bands"),
          ppm(col("j2"), 6).as("catch_ppm")),
        struct(lit(4).as("rows_per_band"), lit(32).as("bands"),
          ppm(col("j4"), 5).as("catch_ppm")),
        struct(lit(8).as("rows_per_band"), lit(16).as("bands"),
          ppm(col("j8"), 4).as("catch_ppm")),
        struct(lit(16).as("rows_per_band"), lit(8).as("bands"),
          ppm(col("j16"), 3).as("catch_ppm")))).as("cfg"))
      .select("cfg.*")
      .groupBy("rows_per_band", "bands")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(catch_ppm) div count(1)").as("mean_catch_ppm"),
        min("catch_ppm").as("min_catch_ppm"))
      .orderBy("rows_per_band")
  }

  /** The df-capped inverted index — (candidate pairs with
    * intersection counts, per-doc sizes) — behind [[containment]], and
    * exposed package-private so the Stress harness can count raw
    * shared-shingle candidates: the quantity that must grow ∝ n
    * (df-capped Σ df²), never n². Shingles with document frequency
    * above `graft.dedup.maxShingleDf` (default 100) are dropped BEFORE
    * the join — from the index and the sizes alike, so the semantics
    * stay a clean exact count over the informative (df ≤ cap) shingle
    * sets. At the oracle SFs the cap drops nothing (max df is 7 at
    * sf0.01, 25 at sf0.1 — measured). The hot set is found with a
    * map-side-combined hash groupBy and is TINY by construction (heavy
    * hitters: at most |corpus-shingles|/cap rows), so it broadcasts and
    * the drop is a map-side anti-join. */
  private[graft] def ngramCandidateStage(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val maxDf = GraftConf.MaxShingleDf(s)
    // materialize the index ONCE: it has four consumers (hot-set agg,
    // anti-join probe, both self-join sides via sizes) and only the
    // exchange — not the tokenize+lead window itself — is reused by
    // Spark, so without this the shingle construction runs 4×. On a
    // multi-executor cluster this would be persist(MEMORY_AND_DISK) or
    // a reliable checkpoint; the storage is O(corpus shingles) rows of
    // (id, hash) — 16 bytes each.
    val all = shingleRowsOf(Tables.documents(s, d)
        .select(col("doc_id"), col("text"), lit(0).as("is_new")))
      .drop("is_new")
      .localCheckpoint()
    val hot = all.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("h")
    val idx = all.join(broadcast(hot), Seq("h"), "left_anti")
    val sizes = idx.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cands = idx.as("a").join(idx.as("b"),
        col("a.h") === col("b.h")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    (cands, sizes)
  }

  /** Exact-verify candidate pairs against the doc store — the batch
    * downstream of [[graft.streaming.Pipelines.nearDupStream]]: the
    * stream emits (a_id, b_id) bucket-collision candidates at ingest;
    * this join recomputes the two shingle sets from the store and keeps
    * only exact Jaccard ≥ 0.5 (the same integer-arithmetic check and
    * output columns as [[minhashLsh]]'s verify stage, so streaming
    * candidates verify to exactly what the batch operator confirms —
    * StreamingSpec pins that equality). Scale shape: candidates are
    * id-pairs (16 bytes), the store side ships only the two shingle-hash
    * arrays per surviving pair — never a corpus×corpus join. */
  def verifyCandidates(cands: DataFrame, docs: DataFrame): DataFrame =
    prefixVerify(shingleArraysOf(docs.select("doc_id", "text")),
      cands.select("a_id", "b_id").distinct())

  /** Join candidate (a_id, b_id, inter) with sizes and keep j ≥ 0.5. */
  private[graft] def jaccardVerify(cands: DataFrame, sizes: DataFrame)
      : DataFrame =
    cands
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "nb"), "b_id")
      .filter(col("inter") * 3 >= col("na") + col("nb"))
      .select("a_id", "b_id", "inter", "na", "nb")
      .orderBy("a_id", "b_id")

  /** MinHash(128) signatures; LSH with 64 bands × 2 rows (candidate
    * recall ≈ 1-1e-8 at j = 0.5); exact Jaccard verify on candidates
    * only — never on the full pair space. Signatures are computed from
    * the materialized per-doc hash sets in a single projection (128·|S|
    * hash evals, no 128× row explosion or extra shuffle). */
  def minhashLsh(s: SparkSession, d: String): DataFrame = {
    val (cands, docs) = minhashCandidateStage(s, d)
    cands
      .join(docs.select(col("doc_id").as("a_id"), col("hs").as("hs_a"),
        col("n").as("na")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("hs").as("hs_b"),
        col("n").as("nb")), "b_id")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .filter(col("inter") * 3 >= col("na") + col("nb"))
      .select("a_id", "b_id", "inter", "na", "nb")
      .orderBy("a_id", "b_id")
  }

  /** Candidate stage of [[minhashLsh]] — (distinct band-collision
    * pairs, materialized per-doc shingle arrays) — exposed
    * package-private so the Stress harness can count raw LSH candidates:
    * the quantity that must grow ∝ n·bands, never n². */
  private[graft] def minhashCandidateStage(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    graft.plans.SignatureFunctions.register(s)
    // materialized once: consumed three times (signature build + both
    // sides of the candidate verification join)
    val docs = shingleArrays(s, d).localCheckpoint()
    (minhashBandPairs(minhashBands(docs)), docs)
  }

  /** The 64 LSH band keys (2 mins per band over the 128-min signature)
    * for a (doc_id, hs) frame — shared by the in-query candidate stage
    * and the materialized [[graft.ops.Materialize.minhashIndex]]. */
  private def minhashBands(docs: DataFrame): DataFrame = {
    // mode routing ([[GraftConf.Md5Mode]]): md5 mode signs with the
    // UniHash universal family and combines a band's two 31-bit rows
    // as hi·2³¹ + lo (< 2⁶², plain BIGINT on both engines — DuckDB
    // replays it); scale mode keeps splitmix sigs + an xxhash64
    // combine. Both are injective per band, so the bucket joins
    // downstream are mode-agnostic.
    val md5 = GraftConf.Md5Mode.active
    val fn = if (md5) graft.plans.SignatureFunctions.MinHashUniName
      else graft.plans.SignatureFunctions.MinHashName
    def combine(lo: Column, hi: Column): Column =
      if (md5) hi * lit(2147483648L) + lo else xxhash64(hi, lo)
    val sigs = docs.select(col("doc_id"),
      call_function(fn, col("hs")).as("sig"))
    val bandStructs = array((0 until 64).map(k =>
      struct(lit(k).as("band"),
        combine(element_at(col("sig"), 2 * k + 2),
          element_at(col("sig"), 2 * k + 1)).as("band_sig"))): _*)
    sigs.select(col("doc_id"), explode(bandStructs).as("kb"))
      .select(col("doc_id"), col("kb.band").as("band"),
        col("kb.band_sig").as("band_sig"))
  }

  /** Distinct candidate pairs from a band frame: bucket equi-join,
    * a_id < b_id. */
  private def minhashBandPairs(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band")
          && col("a.band_sig") === col("b.band_sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** Incremental MinHash dedup against the PERSISTED band index — the
    * nightly-ingest composition the [[minhashFromIndex]] scaladoc
    * promises: the index (bands + verification sigs) exists for the
    * OLD corpus only; the new batch computes its own 64 band keys
    * in-query and candidates come from (a) point-probing the stored
    * buckets those keys hit — band_sig-sorted parquet, so row groups
    * outside the probed buckets never load — and (b) the new×new
    * bucket join. Old docs are NEVER re-tokenized or re-signed: their
    * verification arrays read from the index (DedupSpec pins the plan
    * — the documents scan pushes `doc_id >= cut`, and the old side is
    * index files only). Work ∝ batch × bands, not corpus². Output =
    * [[minhashLsh]] restricted to pairs touching the new batch
    * (DedupSpec pins that equality row-for-row). Rows-only 🔶 like
    * the other MinHash paths (LSH recall < 1 by design). Dual-mode
    * boundary since round 11: `graft.minhash.oldIndexPath` SET → the
    * persisted previous-cycle index DEFINES the cut ([[oldIndexMode]]
    * — tag, provenance, and checksum guards); unset → the
    * self-contained midpoint replay. */
  def minhashIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (cut, path) = oldIndexMode(s, docs, d,
        GraftConf.MinhashOldIndexPath).getOrElse {
      val mCut = idCut(docs)
      val p = graft.ops.BuildOnce.scratchPath("minhash-old" + hashModeTag, d)
      graft.ops.BuildOnce.ensure(p, d) {
        graft.ops.Materialize.minhashIndexOf(s,
          docs.filter(col("doc_id") < mCut).select("doc_id", "text"),
          p, d)
      }
      (mCut, p)
    }
    graft.plans.SignatureFunctions.register(s)
    val newArr = shingleArraysOf(
        docs.filter(col("doc_id") >= cut).select("doc_id", "text"))
      .localCheckpoint()
    val newBands = minhashBands(newArr).localCheckpoint()
    // the old side resolves the GENERATION CHAIN (1 element for a
    // merged index; per-generation sorted scans for an append chain,
    // each still row-group-pruned by the probed buckets)
    val oldBands = graft.ops.Materialize.chainRead(s, path, d,
      "bands", Seq("doc_id", "band", "band_sig"))
    val oldSigs = graft.ops.Materialize.chainRead(s, path, d,
      "sigs", Seq("doc_id", "hs", "n"))
    // old ids < cut <= new ids, so old-side a_id < b_id by construction
    val newOld = newBands.as("n").join(oldBands.as("o"),
        col("n.band") === col("o.band")
          && col("n.band_sig") === col("o.band_sig"))
      .select(col("o.doc_id").as("a_id"), col("n.doc_id").as("b_id"))
      .distinct()
    val cands = newOld.unionAll(minhashBandPairs(newBands)).distinct()
    val aSide = oldSigs.select(col("doc_id").as("a_id"),
        col("hs").as("hs_a"), col("n").as("na"))
      .unionAll(newArr.select(col("doc_id").as("a_id"),
        col("hs").as("hs_a"), col("n").as("na")))
    cands
      .join(aSide, "a_id")
      .join(newArr.select(col("doc_id").as("b_id"), col("hs").as("hs_b"),
        col("n").as("nb")), "b_id")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .filter(col("inter") * 3 >= col("na") + col("nb"))
      .select("a_id", "b_id", "inter", "na", "nb")
      .orderBy("a_id", "b_id")
  }

  /** The two frames [[graft.ops.Materialize.minhashIndexOf]] persists
    * for a (doc_id, text) corpus slice: (doc_id, band, band_sig) band
    * keys and (doc_id, hs, n) verification signatures. */
  private[graft] def minhashIndexFramesOf(
      s: SparkSession, docs: DataFrame): (DataFrame, DataFrame) = {
    graft.plans.SignatureFunctions.register(s)
    val arr = shingleArraysOf(docs).localCheckpoint()
    (minhashBands(arr), arr)
  }

  private def minhashIndexPath(s: SparkSession, d: String): String = {
    val path = graft.ops.BuildOnce.scratchPath("minhash" + hashModeTag, d)
    graft.ops.BuildOnce.ensure(path, d) {
      graft.ops.Materialize.minhashIndex(s, d, path)
    }
    path
  }

  /** [[minhashLsh]] served from the MATERIALIZED band-bucket index —
    * the from-index twin that completes the serving matrix on the
    * dedup side (the ANN/lexical `*_from_index` pattern): candidates
    * come from the persisted (band, band_sig) keys and verification
    * reads the persisted shingle-hash arrays; tokenize → shingle →
    * 128-min signatures NEVER recompute. Result ≡ [[minhashLsh]]
    * row-for-row (DedupSpec pins the equality, and pins that the plan
    * reads NO document text — only index files).
    *
    * Scale shape: a nightly re-dedup is then two reads of
    * band_sig-sorted parquet + the same O(n·bands) bucket join; a
    * new-batch scope (the [[incremental]] composition) point-reads
    * only the buckets the batch's 64 band keys hit — nprobe-style
    * pruning on the dedup index. */
  def minhashFromIndex(s: SparkSession, d: String): DataFrame =
    minhashServe(s, d, minhashIndexPath(s, d))

  /** The index-served MinHash pair plan over a merged artifact OR a
    * generation-chain head ([[graft.ops.Materialize.genChain]] —
    * bands and sigs are per-doc facts, so a chain union is
    * row-identical to the merged index): band-bucket candidates +
    * persisted-array verification, zero signature recompute. Shared
    * by [[minhashFromIndex]] and [[minhashAppendRefresh]]. */
  private[graft] def minhashServe(s: SparkSession, d: String,
      path: String): DataFrame = {
    val bands = graft.ops.Materialize.chainRead(s, path, d, "bands",
      Seq("doc_id", "band", "band_sig"))
    val sigs = graft.ops.Materialize.chainRead(s, path, d, "sigs",
      Seq("doc_id", "hs", "n"))
    minhashBandPairs(bands)
      .join(sigs.select(col("doc_id").as("a_id"), col("hs").as("hs_a"),
        col("n").as("na")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("hs").as("hs_b"),
        col("n").as("nb")), "b_id")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .filter(col("inter") * 3 >= col("na") + col("nb"))
      .select("a_id", "b_id", "inter", "na", "nb")
      .orderBy("a_id", "b_id")
  }

  /** Build-once scratch composition behind the signature
    * append-refresh queries — the [[graft.operators.Retrieval]]
    * `lexScratch` shape on the signature side: old-half index (g0) +
    * one append GENERATION for the rest (g1). Returns the chain
    * head. `full` writes a slice index; `append` writes a
    * generation. */
  private def sigScratch(s: SparkSession, d: String, kind: String,
      full: (SparkSession, DataFrame, String, String) => Unit,
      append: (SparkSession, String, String, String) => Unit): String = {
    val root = graft.ops.BuildOnce.scratchPath(kind + hashModeTag, d)
    graft.ops.BuildOnce.ensure(root, d) {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val old =
        if (docs.isEmpty) docs
        else docs.filter(col("doc_id") < idCut(docs))
      if (old.isEmpty) full(s, docs, s"$root/new", d)
      else {
        full(s, old, s"$root/g0", d)
        append(s, d, s"$root/g0", s"$root/new")
      }
    }
    s"$root/new"
  }

  /** `dedup_minhash_append_refresh` — the GENERATIONAL ingest cycle
    * registered as a query (the `bm25_append_refresh` discipline on
    * the dedup side): old-half band index → one
    * [[graft.ops.Materialize.minhashIndexAppend]] generation for the
    * new batch (write cost strictly ∝ batch: bands/sigs are per-doc
    * facts, nothing cumulative exists to merge) → the FULL pair set
    * served off the chain union. Output ≡ [[minhashLsh]]
    * row-for-row, so the same oracle hash-gates the whole
    * write-append-serve loop at the driver gate. */
  def minhashAppendRefresh(s: SparkSession, d: String): DataFrame =
    minhashServe(s, d, sigScratch(s, d, "minhash-chain",
      graft.ops.Materialize.minhashIndexOf,
      graft.ops.Materialize.minhashIndexAppend))

  /** `dedup_simhash_append_refresh` — [[minhashAppendRefresh]] for
    * the simhash banded index; output ≡ [[simhash]] row-for-row. */
  def simhashAppendRefresh(s: SparkSession, d: String): DataFrame =
    simhashPairs(graft.ops.Materialize.chainRead(s,
      sigScratch(s, d, "simhash-chain",
        graft.ops.Materialize.simhashIndexOf,
        graft.ops.Materialize.simhashIndexAppend),
      d, "bands", Seq("doc_id", "sig", "k", "bh")))

  /** 64-bit SimHash from token-frequency bit votes; hamming ≤ 3 pairs
    * via 4×16-bit band rotation (pigeonhole). Token hashes are collected
    * per doc first (shuffle barrier), then all 64 bit votes run in one
    * projection over the materialized array; the signature is assembled
    * with a bitwise-OR fold (addition of the sign-bit mask would trip
    * ANSI overflow). */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashPairs(simhashBanded(s, d))

  /** The (doc_id, sig, k, bh) banded-signature frame — ONE definition
    * shared by the in-query [[simhash]], the index writer
    * ([[graft.ops.Materialize.simhashIndex]]), and therefore the
    * serving twin [[simhashFromIndex]] (the [[ccIncrementalPrefix]]
    * one-definition discipline: the artifact can never drift from
    * what the query computes). */
  private[graft] def simhashBanded(s: SparkSession, d: String): DataFrame =
    simhashBandedOf(s, Tables.documents(s, d).select("doc_id", "text"))

  /** Frame-input variant of [[simhashBanded]] for batch-scoped
    * consumers ([[simhashIncremental]]'s new slice, the old-slice
    * index writer). */
  private[graft] def simhashBandedOf(
      s: SparkSession, docs: DataFrame): DataFrame = {
    graft.plans.SignatureFunctions.register(s)
    val sigs = docs
      .select(col("doc_id"), explode(Fns.tokens(col("text"))).as("w"))
      // mode-routed token hash ([[GraftConf.Md5Mode]]): the md5-derived
      // 64-bit value's bits are replayable digit-by-digit in DuckDB
      // (the oracle never assembles the long — it votes straight off
      // hex digits), xxhash64 is the scale default
      .select(col("doc_id"),
        (if (GraftConf.Md5Mode.active) Fns.md5Hash64(col("w"))
         else xxhash64(col("w")))
          .as("h"))
      .groupBy("doc_id")
      .agg(collect_list("h").as("hs"))
      .select(col("doc_id"),
        call_function(graft.plans.SignatureFunctions.SimHashName, col("hs"))
          .as("sig"))
    val bandCols = array((0 until 4).map(k =>
      struct(lit(k).as("k"),
        shiftright(col("sig"), k * 16).bitwiseAND(0xFFFFL).as("bh"))): _*)
    sigs.select(col("doc_id"), col("sig"), explode(bandCols).as("kb"))
      .select(col("doc_id"), col("sig"),
        col("kb.k").as("k"), col("kb.bh").as("bh"))
  }

  /** Shared pair tail of [[simhash]], [[simhashFromIndex]] and
    * [[simhashIncremental]]: banded bucket equi-join, XOR popcount,
    * hamming ≤ 3, a_id < b_id. Two-sided so the incremental mode can
    * restrict the b side (the HIGHER doc_id) to the new batch: with
    * monotone id allocation every pair touching the delta has its new
    * endpoint on the b side, so the restriction loses nothing while
    * the bucket join's work drops to ∝ new rows per bucket. */
  private def simhashPairs(a: DataFrame, b: DataFrame): DataFrame =
    a.as("a").join(b.as("b"),
        col("a.k") === col("b.k") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("a_id", "b_id")

  private def simhashPairs(banded: DataFrame): DataFrame =
    simhashPairs(banded, banded)

  /** [[simhash]] served from the MATERIALIZED banded-signature index —
    * the from-index twin that closes the one candidate family that
    * lacked a serving split (minhash, IVF, PQ, IVF-PQ, SQ, lexical,
    * CC labels, and features all had one). The artifact is
    * [[graft.ops.Materialize.simhashIndex]]'s (doc_id, sig, k, bh)
    * frame, (k, bh)-range-sorted parquet: tokenize → hash → 64 bit
    * votes NEVER recompute at serve time, the bucket join reads
    * sorted band files, and a new-batch probe (the
    * [[minhashIncremental]] composition) computes its own 4 band keys
    * and point-reads only the row groups whose (k, bh) min/max cover
    * them — nprobe-style pruning on the simhash index. Result ≡
    * [[simhash]] row-for-row (DedupSpec pins the equality and that
    * the plan reads NO document text — index files only). Rows-only
    * 🔶 like [[simhash]] itself (banded hamming recall < 1 by
    * design for radius > band count − 1… the pigeonhole here is
    * exact for ≤ 3 over 4 bands, but the signature itself is the
    * probabilistic sketch). */
  def simhashFromIndex(s: SparkSession, d: String): DataFrame = {
    val path = graft.ops.BuildOnce.scratchPath("simhash" + hashModeTag, d)
    graft.ops.BuildOnce.ensure(path, d) {
      graft.ops.Materialize.simhashIndex(s, d, path)
    }
    // chain-aware read (1-element chain for this merged artifact;
    // a conf-routed generation head serves identically)
    simhashPairs(graft.ops.Materialize.chainRead(s, path, d,
      "bands", Seq("doc_id", "sig", "k", "bh")))
  }

  /** The nightly-ingest composition of the simhash index — the
    * [[minhashIncremental]] discipline for the simhash family: the
    * new batch (doc_id ≥ the midpoint cut, replayed from one table so
    * the twin check is self-contained) tokenizes and signs ITSELF
    * in-query, while the old corpus's signatures and band keys come
    * from the materialized (k, bh)-sorted index — old docs never
    * re-tokenize or re-vote. The pair join runs old∪new against the
    * NEW side only (every pair touching the delta has its new
    * endpoint as the higher id, so nothing is lost), making the
    * bucket work ∝ batch × bands instead of corpus × bands. Output ≡
    * [[simhash]] restricted to new-touching pairs (b_id ≥ cut),
    * row-identical including the hamming column — DedupSpec pins the
    * equality AND that the plan reads old state from index files only
    * (the documents scan carries a pushed doc_id ≥ cut filter).
    * Rows-only 🔶 like the rest of the simhash family. Dual-mode
    * boundary since round 11: `graft.simhash.oldIndexPath` SET → the
    * persisted previous-cycle index DEFINES the cut ([[oldIndexMode]]
    * — tag, provenance, and checksum guards); unset → the
    * self-contained midpoint replay. */
  def simhashIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (cut, path) = oldIndexMode(s, docs, d,
        GraftConf.SimhashOldIndexPath).getOrElse {
      val mCut = idCut(docs)
      val p = graft.ops.BuildOnce.scratchPath("simhash-old" + hashModeTag, d)
      graft.ops.BuildOnce.ensure(p, d) {
        graft.ops.Materialize.simhashIndexOf(s,
          docs.filter(col("doc_id") < mCut).select("doc_id", "text"),
          p, d)
      }
      (mCut, p)
    }
    val newBands = simhashBandedOf(s,
        docs.filter(col("doc_id") >= cut).select("doc_id", "text"))
      .localCheckpoint()
    // chain-aware old side (the [[minhashIncremental]] rule)
    val oldBands = graft.ops.Materialize.chainRead(s, path, d,
      "bands", Seq("doc_id", "sig", "k", "bh"))
    simhashPairs(oldBands.unionAll(newBands), newBands)
  }

  /** Artifact-boundary mode for the signature-family incremental
    * queries — the [[ccIncremental]] `graft.cc.oldLabelsPath`
    * production shape applied to [[simhashIncremental]] /
    * [[minhashIncremental]]: when `confKey` points at the PERSISTED
    * previous-cycle index ([[graft.ops.Materialize.simhashIndexOf]] /
    * `minhashIndexOf` over the old corpus), the INDEX defines the
    * old/new cut — its recorded max doc_id + 1 — so a batch that
    * shifts the current table's id midpoint can neither double-sign
    * docs the index covers nor drop uncovered ones. Guards, in order:
    * the `_graft_corpus` tag must name THIS corpus; the index must
    * carry provenance (empty or pre-provenance indexes have no
    * incremental mode); and the writer's content checksum must replay
    * on the current below-cut slice (id reuse, backfill, or in-place
    * edits of already-indexed docs refuse loudly — stale signatures
    * silently drop near-dup pairs, the worst dedup failure). The
    * checksum costs one projection-pruned (doc_id, text) scan of the
    * old slice — far below re-signing (no tokenize, no vote, no
    * bucket join). Returns None when `confKey` is unset — the
    * self-contained midpoint replay (test-harness reality: the twin
    * checks replay the same table). DedupSpec pins artifact mode ≡
    * midpoint mode on the same slice and spec-asserts the refusals. */
  private def oldIndexMode(s: SparkSession, docs: DataFrame, d: String,
      knob: GraftConf.Knob[Option[String]]): Option[(Long, String)] =
    knob(s).map { p =>
      graft.ops.ArtifactTag.require(s, p, d)
      val props = graft.ops.ArtifactTag.readProps(s, p)
      require(props.contains("max_doc_id"),
        s"signature index at $p carries no max_doc_id provenance — an " +
          "empty or pre-provenance index has no incremental mode; " +
          "rebuild it with the Materialize writer")
      val cut = props("max_doc_id").toLong + 1L
      // version gate before the checksum replay (the ccIncremental
      // rule): a formula change reads as "rebuild", not corruption
      graft.ops.ArtifactTag.requireProvVersion(props, p)
      val (n, xor) = graft.ops.Materialize.ccSliceChecksum(
        docs.filter(col("doc_id") < cut).select("doc_id", "text"))
      require(props.get("n_docs").contains(n.toString)
          && props.get("content_xor").contains(xor.toString),
        s"old-slice checksum mismatch at $p (index " +
          s"n=${props.getOrElse("n_docs", "<none>")} " +
          s"xor=${props.getOrElse("content_xor", "<none>")}, " +
          s"corpus n=$n xor=$xor) — the docs below the boundary " +
          s"($cut) are not the slice the previous cycle signed (id " +
          "reuse, backfill, or in-place edits); re-sign the corpus " +
          "instead")
      (cut, p)
    }

  /** `dedup_embedding_bruteforce` — exact cosine ≥ 0.45 near-dup pairs
    * by DELIBERATE all-pairs join: this is the small-SF oracle baseline
    * that defines the semantics and the recall yardstick for
    * [[embeddingLsh]], and it is a cartesian by construction. So nobody
    * can run the O(n²) baseline at corpus scale by accident, it THROWS
    * when the corpus exceeds `graft.bruteforce.maxRows` (default 10⁵ —
    * ~5·10⁹ candidate pairs, the edge of single-node sanity) with a
    * pointer at the bucketed scale path. Uses the native codegen
    * CosineSimilarity expression; numerics identical to the oracle's
    * explicit fold. */
  def embeddingCosine(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val maxRows = GraftConf.BruteforceMaxRows(s)
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val n = e.count()
    if (n > maxRows) throw new IllegalArgumentException(
      s"dedup_embedding_bruteforce is an all-pairs ORACLE BASELINE " +
        s"(O(n²) cartesian): corpus has $n rows > " +
        s"${GraftConf.BruteforceMaxRows.key}=$maxRows. Use " +
        "dedup_embedding_lsh " +
        "(the bucketed scale path), or raise the bound deliberately.")
    // spread the STREAMED side: the nested-loop baseline's parallelism
    // is its left input's partition count ([[graft.ops.Spread]])
    val es = graft.ops.Spread(e)
    es.toDF("a_id", "a_emb").join(e.toDF("b_id", "b_emb"),
        col("a_id") < col("b_id"))
      .withColumn("cos", call_function(GraftFunctions.CosineName,
        col("a_emb"), col("b_emb")))
      .filter(col("cos") >= 0.45)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("a_id", "b_id")
  }

  /** Cosine-threshold ablation for the embedding dedup gate — the
    * [[graft.operators.Training.qualityThresholdSweep]] idiom applied
    * to the 0.45 cosine cut that [[embeddingCosine]] and
    * `dedup_semantic` hard-code: pair counts and flagged-doc counts at
    * every candidate threshold 0.30–0.70 (permil steps of 50), the
    * curve a curator reads before committing a gate. Pairs are scored
    * ONCE at the loosest threshold, then fan out over the 9-row
    * threshold spine (explode on metadata, not data); comparisons are
    * `cos >= t/1000.0` — both engines compute the identical double, so
    * the boundary is hash-exact. Same all-pairs oracle-baseline guard
    * as [[embeddingCosine]]: the scale path would sweep over
    * [[embeddingLsh]] candidates instead. */
  def embeddingThresholdSweep(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val maxRows = GraftConf.BruteforceMaxRows(s)
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val n = e.count()
    if (n > maxRows) throw new IllegalArgumentException(
      s"embedding_threshold_sweep scores all pairs (oracle baseline): " +
        s"corpus has $n rows > ${GraftConf.BruteforceMaxRows.key}=$maxRows. " +
        "Sweep over dedup_embedding_lsh candidates instead, or raise " +
        "the bound deliberately.")
    val swept = e.toDF("a_id", "a_emb").join(e.toDF("b_id", "b_emb"),
        col("a_id") < col("b_id"))
      .withColumn("cos", call_function(GraftFunctions.CosineName,
        col("a_emb"), col("b_emb")))
      .filter(col("cos") >= 0.30)
      .select(col("a_id"), col("b_id"), col("cos"),
        explode(expr("sequence(300, 700, 50)")).as("thr_permil"))
      .filter(col("cos") >= col("thr_permil").cast("double") / lit(1000.0))
      .select(col("thr_permil").cast("long").as("thr_permil"),
        col("a_id"), col("b_id"))
    val np = swept.groupBy("thr_permil").agg(count(lit(1)).as("n_pairs"))
    val flagged = swept.select(col("thr_permil"),
        explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("thr_permil")
      .agg(countDistinct("doc_id").as("n_docs_flagged"))
    val spine = s.range(1)
      .select(explode(expr("sequence(300, 700, 50)")).as("t"))
      .select(col("t").cast("long").as("thr_permil"))
    spine.join(np, Seq("thr_permil"), "left")
      .join(flagged, Seq("thr_permil"), "left")
      .select(col("thr_permil"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"))
      .orderBy("thr_permil")
  }

  private val Sh =
    s"list_distinct(${Fns.sqlShingles3(Fns.sqlTokens("text"))})"

  private val Toks = Fns.sqlTokens("text")
  private val StopL =
    Fns.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** The uncapped all-pairs exact-Jaccard join — the oracle of
    * [[ngramJaccard]] (exact at EVERY corpus by the prefix-filter
    * lemma) under both of its keys: one text, two keys. */
  private lazy val sqlJaccardAllPairs: String =
    s"""WITH sh AS (SELECT doc_id, $Sh AS s FROM documents),
       |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, inter, sa.n AS na, sb.n AS nb
       |FROM inter
       |JOIN sz sa ON sa.doc_id = a_id
       |JOIN sz sb ON sb.doc_id = b_id
       |WHERE inter * 3 >= sa.n + sb.n
       |ORDER BY a_id, b_id""".stripMargin

  /** Unroll depth of the k-core oracle's h-index iteration. The
    * h-index sequence H(0)=degree, H(t+1)=neighborhood h-index is
    * monotone non-increasing and converges to the coreness (Lü et al.
    * 2016), so an N-round STATIC unroll equals the fixpoint exactly
    * whenever the graph converges within N rounds — DedupSpec pins
    * convergence ≤ this depth at the oracle gate SF (sf0.01 measures
    * 1 round; the testdata's near-dup graph is clique-shaped, and
    * coreness diameter, not corpus size, drives the round count).
    * The Spark operator itself iterates to the true fixpoint with a
    * loud non-convergence guard at any scale. */
  private[graft] val KcoreOracleRounds = 8

  /** The recursive-CTE closure of the full near-dup graph — the
    * shared oracle for [[clusters]] and [[clustersFromIndex]] (one
    * text, two keys: the twins are defined to be row-identical). */
  private lazy val sqlClustersClosure: String =
    s"""WITH RECURSIVE sh AS (SELECT doc_id, $Sh AS s FROM documents),
       |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a_id, b_id FROM inter
       |  JOIN sz sa ON sa.doc_id = a_id
       |  JOIN sz sb ON sb.doc_id = b_id
       |  WHERE inter * 3 >= sa.n + sb.n),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(doc, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc)
       |SELECT doc AS doc_id, min(r) AS cluster_id,
       |  (CASE WHEN doc = min(r) THEN 1 ELSE 0 END) AS is_survivor
       |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin

  /** The md5-mode (gate-mode, [[GraftConf.Md5Mode]]) replay of the
    * MinHash-LSH pipeline, shared by the three minhash oracle entries
    * (in-query, from-index ≡ by construction, incremental = the same
    * set restricted to new-touching pairs): distinct 3-gram shingles →
    * 52-bit md5 gram hashes → 128 [[graft.plans.UniHash]] universal
    * permutations (coefficient lists interpolated from the ONE Scala
    * source of truth) → 64 two-row band keys (hi·2³¹ + lo) → distinct
    * band-collision candidates → exact gram-set Jaccard verification.
    * `extraPred` appends to the verification WHERE (the incremental
    * cut). */
  private def sqlMinhash(extraPred: String = ""): String =
    s"""WITH shx AS (SELECT doc_id, $Sh AS s FROM documents),
       |d AS (SELECT doc_id, s, len(s)::BIGINT AS n FROM shx
       |  WHERE len(s) > 0),
       |hx AS (SELECT doc_id, unnest(s) AS g FROM d),
       |hh AS (SELECT doc_id, ${Fns.sqlMd5Hash52("g")}
       |  % ${graft.plans.UniHash.P} AS hp FROM hx),
       |sig AS (
       |  SELECT doc_id, i,
       |    min((${graft.plans.UniHash.sqlA}[i+1] * hp
       |      + ${graft.plans.UniHash.sqlB}[i+1])
       |      % ${graft.plans.UniHash.P}) AS m
       |  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 127)) AS i)
       |  GROUP BY doc_id, i),
       |bands AS (
       |  SELECT doc_id, i // 2 AS band,
       |    sum(CASE WHEN i % 2 = 0 THEN m * 2147483648 ELSE m END)
       |      ::BIGINT AS bs
       |  FROM sig GROUP BY doc_id, i // 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ca, b.doc_id AS cb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bs = b.bs AND a.doc_id < b.doc_id),
       |ix AS (
       |  SELECT x.doc_id AS xa, y.doc_id AS xb, count(*)::BIGINT AS inter
       |  FROM hx x JOIN hx y ON x.g = y.g AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT ca AS a_id, cb AS b_id, ix.inter, da.n AS na, db.n AS nb
       |FROM cand c
       |JOIN ix ON ix.xa = c.ca AND ix.xb = c.cb
       |JOIN d da ON da.doc_id = c.ca
       |JOIN d db ON db.doc_id = c.cb
       |WHERE ix.inter * 3 >= da.n + db.n$extraPred
       |ORDER BY a_id, b_id""".stripMargin

  /** The md5-mode SimHash replay, shared by its three oracle entries:
    * per-token md5 digests vote each of the 64 signature bits
    * DIRECTLY from hex digit 16 − b div 4, bit b mod 4 — the oracle
    * never assembles the signed 64-bit long at all; the four 16-bit
    * band keys rebuild from vote signs, candidates come from the
    * band-bucket join, and hamming is the sum of per-band XOR
    * popcounts (equal to the 64-bit XOR popcount by construction). */
  private def sqlSimhash(extraPred: String = ""): String =
    s"""WITH tk AS (SELECT doc_id, unnest($Toks) AS w FROM documents),
       |dg AS (SELECT doc_id, md5(w) AS h FROM tk),
       |bits AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN ((strpos('0123456789abcdef',
       |        substr(h, 16 - b // 4, 1)) - 1) >> (b % 4)) & 1 = 1
       |      THEN 1 ELSE -1 END) AS vote
       |  FROM dg CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
       |  GROUP BY doc_id, b),
       |bands AS (
       |  SELECT doc_id, b // 16 AS k,
       |    sum(CASE WHEN vote > 0 THEN 1 << (b % 16) ELSE 0 END)
       |      ::BIGINT AS bh
       |  FROM bits GROUP BY doc_id, b // 16),
       |f4 AS (
       |  SELECT doc_id,
       |    max(CASE WHEN k = 0 THEN bh END) AS b0,
       |    max(CASE WHEN k = 1 THEN bh END) AS b1,
       |    max(CASE WHEN k = 2 THEN bh END) AS b2,
       |    max(CASE WHEN k = 3 THEN bh END) AS b3
       |  FROM bands GROUP BY doc_id),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ca, b.doc_id AS cb
       |  FROM bands a JOIN bands b
       |    ON a.k = b.k AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |hm AS (
       |  SELECT ca AS a_id, cb AS b_id,
       |    (bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
       |     + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)))
       |      ::INT AS hamming
       |  FROM cand c JOIN f4 x ON x.doc_id = c.ca
       |  JOIN f4 y ON y.doc_id = c.cb)
       |SELECT a_id, b_id, hamming FROM hm
       |WHERE hamming <= 3$extraPred
       |ORDER BY a_id, b_id""".stripMargin

  /** [[sqlMinhash]] exposed for the streaming suite's
    * `stream_refresh_tick` oracle: the tick's chain serve is defined
    * to equal the full pair set, so the same replay gates it. */
  private[graft] def minhashOracleSql: String = sqlMinhash()

  /** The md5-free hyperplane-LSH replay for `dedup_embedding_lsh`
    * (round 13, the `ann_lsh_topk` treatment on the pair side): every
    * clamp-reachable plane of all 8 bands ships as literal doubles
    * (8×24 = 192 VALUES rows — the same [[lshPlaneComps]] constants
    * the Spark plan embeds), the run-time filter picks the
    * count-derived (or conf-interpolated) per-band plane count, sign
    * buckets rebuild from the bit-stable dot fold (`cos > 0 ⟺
    * dot > 0`), candidates from the per-band bucket self-join, and
    * the exact cosine ≥ 0.45 verification replays the bruteforce
    * oracle's expression. */
  private def sqlEmbeddingLsh: String = {
    val values = (0 until 8).flatMap { band =>
      (0 until 24).map { p =>
        s"($band, $p, ${lshPlaneComps(band, p)
          .mkString("[", ", ", "]")}::DOUBLE[])"
      }
    }.mkString("(VALUES ", ", ", ")")
    val np = GraftConf.LshPlanes.oracle.fold(
      Fns.sqlLshPlanes("(SELECT count(*) FROM embeddings)"))(_.toString)
    s"""WITH np AS (SELECT $np AS np),
       |pl AS (SELECT band, p, pv FROM $values t(band, p, pv)
       |       WHERE p < (SELECT np FROM np)),
       |bk AS (
       |  SELECT e.vec_id, pl.band,
       |    sum(CASE WHEN ${Fns.sqlDot("e.embedding", "pl.pv")} > 0
       |      THEN (1::BIGINT << pl.p) ELSE 0 END)::BIGINT AS bucket
       |  FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id, pl.band),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id)
       |SELECT c.a_id, c.b_id,
       |  round(${Fns.sqlCosine("ea.embedding", "eb.embedding")}, 4)
       |    AS cos_sim
       |FROM cand c
       |JOIN embeddings ea ON ea.vec_id = c.a_id
       |JOIN embeddings eb ON eb.vec_id = c.b_id
       |WHERE ${Fns.sqlCosine("ea.embedding", "eb.embedding")} >= 0.45
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** The test-harness midpoint cut ([[idCut]]) as a SQL scalar — the
    * incremental twins' replay boundary. Integer `//` floor equals
    * Scala's truncating `/` here (both operands non-negative). */
  private val SqlIdCut =
    "(SELECT (min(doc_id) + max(doc_id)) // 2 FROM documents)"


  /** The `index_compaction_plan` replay: provenance is exact by
    * construction (append admission re-verifies it every cycle), so
    * each chain's counts recompute straight from the corpus midpoint
    * cuts — doc-side families (lex/minhash/simhash) collapse to one
    * generation when the base slice is empty (the `sigScratch` /
    * `lexScratch` rule), the vector families always build base +
    * append (`vecScratch`), and the feature chain collapses only on
    * an EMPTY events table (`featScratch`'s cold-start fallback — a
    * non-empty table always has a non-empty ≤-midpoint-day half). */
  private def sqlIndexCompactionPlan: String = {
    s"""WITH dstat AS (
       |  SELECT count(*)::BIGINT AS total,
       |    (count(*) FILTER (WHERE doc_id < $SqlIdCut))::BIGINT
       |      AS below
       |  FROM documents),
       |vstat AS (
       |  SELECT count(*)::BIGINT AS total,
       |    (count(*) FILTER (WHERE vec_id <
       |      (SELECT (min(vec_id) + max(vec_id)) // 2
       |       FROM embeddings)))::BIGINT AS below
       |  FROM embeddings),
       |ed AS (SELECT epoch_us(ts) // 86400000000 AS day FROM events),
       |estat AS (
       |  SELECT count(*)::BIGINT AS total,
       |    (count(*) FILTER (WHERE day <=
       |      (SELECT (min(day) + max(day)) // 2 FROM ed)))::BIGINT
       |      AS below
       |  FROM ed),
       |fam AS (
       |  SELECT 'features' AS family,
       |    CASE WHEN total = 0 THEN 1 ELSE 2 END AS n_generations,
       |    CASE WHEN total = 0 THEN total ELSE below END AS rows_base,
       |    total AS rows_total FROM estat
       |  UNION ALL SELECT 'ivf', 2, below, total FROM vstat
       |  UNION ALL SELECT 'lex',
       |    CASE WHEN below = 0 THEN 1 ELSE 2 END,
       |    CASE WHEN below = 0 THEN total ELSE below END, total
       |  FROM dstat
       |  UNION ALL SELECT 'minhash',
       |    CASE WHEN below = 0 THEN 1 ELSE 2 END,
       |    CASE WHEN below = 0 THEN total ELSE below END, total
       |  FROM dstat
       |  UNION ALL SELECT 'pq', 2, below, total FROM vstat
       |  UNION ALL SELECT 'simhash',
       |    CASE WHEN below = 0 THEN 1 ELSE 2 END,
       |    CASE WHEN below = 0 THEN total ELSE below END, total
       |  FROM dstat),
       |h AS (
       |  SELECT family, n_generations, rows_base, rows_total,
       |    (CASE WHEN rows_total = 0 THEN 0
       |      ELSE (rows_total - rows_base) * 1000000 // rows_total
       |      END)::BIGINT AS appended_ppm
       |  FROM fam)
       |SELECT family, n_generations, rows_base, rows_total,
       |  appended_ppm,
       |  CASE WHEN n_generations > $ChainMaxGenerations OR appended_ppm > $ChainMaxAppendedPpm
       |    THEN 'compact' ELSE 'keep' END AS decision
       |FROM h ORDER BY family""".stripMargin
  }

  def oracles: Map[String, String] = {
    // with a previous-cycle index routed in a live session, the
    // artifact (not the midpoint) defines the incremental sketch
    // queries' cut, and their midpoint-replay SQL would be a false
    // oracle: refuse the dump instead of emitting it
    Seq(GraftConf.MinhashOldIndexPath, GraftConf.SimhashOldIndexPath)
      .foreach(k => require(k.oracle.isEmpty,
        s"${k.key} is set in a live session at oracle-dump time — the " +
          "incremental sketch oracles replay the self-contained " +
          "midpoint cut, not an artifact boundary; unset the conf to " +
          "dump, or skip these keys"))
    Map(
    "index_compaction_plan" -> sqlIndexCompactionPlan,
    // ——— md5-gate-mode sketch-family oracles ([[GraftConf.Md5Mode]]:
    // graft.Verify dumps and runs with the conf ON, so these replays
    // see the exact hashes the Spark plans computed; DedupSpec pins
    // the xxhash64 scale mode's pair sets against the same fixture)
    "dedup_minhash_lsh" -> sqlMinhash(),
    // the from-index twin is row-identical to the in-query plan BY
    // CONSTRUCTION (one band/sig definition, DedupSpec-pinned), so
    // the same replay gates both
    "dedup_minhash_from_index" -> sqlMinhash(),
    "dedup_minhash_incremental" ->
      sqlMinhash(s" AND cb >= $SqlIdCut"),
    // the append-refresh cycle's contract IS row-identity to the full
    // in-query pair set, so the same replay hash-gates the whole
    // write → append-generation → chain-serve loop
    "dedup_minhash_append_refresh" -> sqlMinhash(),
    "dedup_simhash" -> sqlSimhash(),
    "dedup_simhash_from_index" -> sqlSimhash(),
    "dedup_simhash_incremental" ->
      sqlSimhash(s" AND b_id >= $SqlIdCut"),
    "dedup_simhash_append_refresh" -> sqlSimhash(),
    "dedup_embedding_lsh" -> sqlEmbeddingLsh,
    "dedup_source_minhash" ->
      s"""WITH shx AS (SELECT doc_id, $Sh AS s FROM documents),
         |d AS (SELECT x.doc_id, o.source, x.s FROM shx x
         |  JOIN documents o USING (doc_id) WHERE len(x.s) > 0),
         |nd AS (SELECT source, count(*)::BIGINT AS n_docs
         |  FROM d GROUP BY source),
         |hx AS (SELECT source, unnest(s) AS g FROM d),
         |hh AS (SELECT source, ${Fns.sqlMd5Hash52("g")}
         |  % ${graft.plans.UniHash.P} AS hp FROM hx),
         |sig AS (
         |  SELECT source, i,
         |    min((${graft.plans.UniHash.sqlA}[i+1] * hp
         |      + ${graft.plans.UniHash.sqlB}[i+1])
         |      % ${graft.plans.UniHash.P}) AS m
         |  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 127)) AS i)
         |  GROUP BY source, i),
         |pr AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)::BIGINT
         |      AS matches
         |  FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, na.n_docs AS docs_a, nb.n_docs AS docs_b,
         |  round(matches::DOUBLE / 128.0, 4) AS est_jaccard
         |FROM pr JOIN nd na ON na.source = pr.src_a
         |JOIN nd nb ON nb.source = pr.src_b
         |ORDER BY src_a, src_b""".stripMargin,
    "dedup_semantic" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
         |  FROM embeddings),
         |p AS (SELECT least(256, greatest(8, ceil(sqrt(count(*)))))::INT
         |        AS c FROM e),
         |seeds AS (
         |  SELECT (rn - 1)::INT AS cid, emb AS cvec
         |  FROM (SELECT emb, row_number() OVER (ORDER BY vec_id) AS rn
         |        FROM e)
         |  WHERE rn <= (SELECT c FROM p)),
         |a0 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cc DESC, cid) AS rn
         |    FROM (SELECT vec_id, cid, ${Fns.sqlCosine("emb", "cvec")} AS cc
         |          FROM e CROSS JOIN seeds)) WHERE rn = 1),
         |c1 AS (
         |  SELECT cid, list(cv ORDER BY pos) AS cvec FROM (
         |    SELECT cid, pos, round(avg(v), 6) AS cv FROM (
         |      SELECT a0.cid, generate_subscripts(emb, 1) AS pos,
         |        unnest(emb) AS v
         |      FROM a0 JOIN e USING (vec_id))
         |    GROUP BY cid, pos) GROUP BY cid),
         |a1 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cc DESC, cid) AS rn
         |    FROM (SELECT vec_id, cid, ${Fns.sqlCosine("emb", "cvec")} AS cc
         |          FROM e CROSS JOIN c1)) WHERE rn = 1),
         |c2 AS (
         |  SELECT cid, list(cv ORDER BY pos) AS cvec FROM (
         |    SELECT cid, pos, round(avg(v), 6) AS cv FROM (
         |      SELECT a1.cid, generate_subscripts(emb, 1) AS pos,
         |        unnest(emb) AS v
         |      FROM a1 JOIN e USING (vec_id))
         |    GROUP BY cid, pos) GROUP BY cid),
         |a2 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cc DESC, cid) AS rn
         |    FROM (SELECT vec_id, cid, ${Fns.sqlCosine("emb", "cvec")} AS cc
         |          FROM e CROSS JOIN c2)) WHERE rn = 1),
         |pr AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE ${Fns.sqlCosine("ea.emb", "eb.emb")} >= 0.45)
         |SELECT a.vec_id, a.cid,
         |  (CASE WHEN pr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS is_pruned
         |FROM a2 a LEFT JOIN pr ON a.vec_id = pr.vec_id
         |ORDER BY a.vec_id""".stripMargin,
    "dedup_semantic_incremental" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb,
         |    (CASE WHEN vec_id % 8 = 0 THEN 1 ELSE 0 END) AS is_new
         |  FROM embeddings),
         |b AS (SELECT vec_id, emb FROM e WHERE is_new = 0),
         |p AS (SELECT least(256, greatest(8, ceil(sqrt(count(*)))))::INT
         |        AS c FROM b),
         |seeds AS (
         |  SELECT (rn - 1)::INT AS cid, emb AS cvec
         |  FROM (SELECT emb, row_number() OVER (ORDER BY vec_id) AS rn
         |        FROM b)
         |  WHERE rn <= (SELECT c FROM p)),
         |a0 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cc DESC, cid) AS rn
         |    FROM (SELECT vec_id, cid, ${Fns.sqlCosine("emb", "cvec")} AS cc
         |          FROM b CROSS JOIN seeds)) WHERE rn = 1),
         |c1 AS (
         |  SELECT cid, list(cv ORDER BY pos) AS cvec FROM (
         |    SELECT cid, pos, round(avg(v), 6) AS cv FROM (
         |      SELECT a0.cid, generate_subscripts(emb, 1) AS pos,
         |        unnest(emb) AS v
         |      FROM a0 JOIN b USING (vec_id))
         |    GROUP BY cid, pos) GROUP BY cid),
         |a1 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cc DESC, cid) AS rn
         |    FROM (SELECT vec_id, cid, ${Fns.sqlCosine("emb", "cvec")} AS cc
         |          FROM b CROSS JOIN c1)) WHERE rn = 1),
         |c2 AS (
         |  SELECT cid, list(cv ORDER BY pos) AS cvec FROM (
         |    SELECT cid, pos, round(avg(v), 6) AS cv FROM (
         |      SELECT a1.cid, generate_subscripts(emb, 1) AS pos,
         |        unnest(emb) AS v
         |      FROM a1 JOIN b USING (vec_id))
         |    GROUP BY cid, pos) GROUP BY cid),
         |af AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cc DESC, cid) AS rn
         |    FROM (SELECT vec_id, cid, ${Fns.sqlCosine("emb", "cvec")} AS cc
         |          FROM e CROSS JOIN c2)) WHERE rn = 1),
         |pr AS (
         |  SELECT DISTINCT bb.vec_id
         |  FROM af a JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN af bb ON a.cid = bb.cid
         |  JOIN e eb ON eb.vec_id = bb.vec_id
         |  WHERE eb.is_new = 1
         |    AND (ea.is_new = 0 OR a.vec_id < bb.vec_id)
         |    AND ${Fns.sqlCosine("ea.emb", "eb.emb")} >= 0.45)
         |SELECT a.vec_id, a.cid,
         |  (CASE WHEN pr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS is_pruned
         |FROM af a JOIN e ON e.vec_id = a.vec_id
         |LEFT JOIN pr ON a.vec_id = pr.vec_id
         |WHERE e.is_new = 1
         |ORDER BY a.vec_id""".stripMargin,
    "dedup_best_survivor" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |reach(doc, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc),
         |cl AS (SELECT doc AS doc_id, min(r) AS cluster_id
         |  FROM reach GROUP BY doc),
         |q AS (
         |  SELECT doc_id,
         |    6 * (len(list_filter(w, t -> list_contains($StopL, t)))
         |      * 1000000 // len(w)) // 1000
         |    + 4 * (len(list_distinct(w)) * 1000000 // len(w)) // 1000
         |    + 2 * least(len(w), 400) - 3000 AS logit_milli
         |  FROM (SELECT doc_id, $Toks AS w FROM documents)
         |  WHERE len(w) > 0),
         |r AS (
         |  SELECT cl.cluster_id, cl.doc_id,
         |    coalesce(q.logit_milli, -3000)::BIGINT AS logit_milli,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY coalesce(q.logit_milli, -3000) DESC, cl.doc_id)
         |      AS rn
         |  FROM cl LEFT JOIN q ON cl.doc_id = q.doc_id)
         |SELECT cluster_id, count(*)::BIGINT AS n_members,
         |  max(CASE WHEN rn = 1 THEN doc_id END)::BIGINT AS survivor_id,
         |  max(CASE WHEN rn = 1 THEN logit_milli END)::BIGINT
         |    AS best_logit_milli
         |FROM r GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "dedup_token_savings" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, len($Toks)::BIGINT AS n_toks, text
         |  FROM documents),
         |surv AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |kept AS (
         |  SELECT source, count(*)::BIGINT AS docs_kept,
         |    sum(n_toks)::BIGINT AS toks_kept
         |  FROM toks WHERE doc_id IN (SELECT doc_id FROM surv)
         |  GROUP BY source)
         |SELECT t.source, count(*)::BIGINT AS docs_total,
         |  sum(t.n_toks)::BIGINT AS toks_total,
         |  coalesce(any_value(k.docs_kept), 0)::BIGINT AS docs_kept,
         |  (sum(t.n_toks) - coalesce(any_value(k.toks_kept), 0))::BIGINT
         |    AS toks_removed
         |FROM toks t LEFT JOIN kept k ON t.source = k.source
         |GROUP BY t.source ORDER BY t.source""".stripMargin,
    "dedup_soft_weights" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |reach(doc, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc),
         |cl AS (SELECT doc AS doc_id, min(r) AS cluster_id
         |  FROM reach GROUP BY doc),
         |tk AS (SELECT doc_id, len($Toks)::BIGINT AS n_toks FROM documents),
         |szc AS (SELECT cluster_id, count(*)::BIGINT AS csize
         |  FROM cl GROUP BY 1),
         |j AS (
         |  SELECT szc.csize, tk.n_toks
         |  FROM cl JOIN szc ON szc.cluster_id = cl.cluster_id
         |  JOIN tk ON tk.doc_id = cl.doc_id)
         |SELECT csize, count(*)::BIGINT AS n_docs,
         |  (count(*) // csize)::BIGINT AS n_clusters,
         |  (1000000 // csize)::BIGINT AS weight_ppm,
         |  sum(n_toks)::BIGINT AS raw_tokens,
         |  sum(n_toks * 1000000 // csize)::BIGINT AS eff_tokens_micro
         |FROM j GROUP BY csize ORDER BY csize""".stripMargin,
    "neardup_degree_dist" ->
      s"""WITH sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n),
         |deg AS (
         |  SELECT doc_id, count(*)::BIGINT AS degree
         |  FROM (SELECT a_id AS doc_id FROM pairs
         |        UNION ALL SELECT b_id FROM pairs)
         |  GROUP BY doc_id)
         |SELECT coalesce(g.degree, 0)::BIGINT AS degree,
         |  count(*)::BIGINT AS n_docs
         |FROM documents d LEFT JOIN deg g ON d.doc_id = g.doc_id
         |GROUP BY 1 ORDER BY degree""".stripMargin,
    "dedup_cross_source_rate" ->
      s"""WITH sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n)
         |SELECT least(da.source, db.source) AS src_1,
         |  greatest(da.source, db.source) AS src_2,
         |  count(*) AS n_pairs
         |FROM pairs
         |JOIN documents da ON da.doc_id = a_id
         |JOIN documents db ON db.doc_id = b_id
         |GROUP BY src_1, src_2
         |ORDER BY src_1, src_2""".stripMargin,
    "dedup_span_flags" ->
      """WITH toks AS (
        |  SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
        |  FROM (SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  t -> t <> '') AS ws
        |    FROM documents)),
        |sp AS (
        |  SELECT doc_id,
        |    concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win,
        |      lead(w,3) OVER win, lead(w,4) OVER win, lead(w,5) OVER win,
        |      lead(w,6) OVER win, lead(w,7) OVER win) AS span,
        |    lead(w,7) OVER win AS w8
        |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |spans AS (SELECT doc_id, span FROM sp WHERE w8 IS NOT NULL),
        |common AS (
        |  SELECT span FROM spans GROUP BY span
        |  HAVING count(DISTINCT doc_id) >= 3)
        |SELECT doc_id, count(*)::BIGINT AS n_spans,
        |  sum(CASE WHEN c.span IS NULL THEN 0 ELSE 1 END)::BIGINT
        |    AS n_dup_spans
        |FROM spans s LEFT JOIN common c USING (span)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "minhash_tuning_curve" ->
      s"""WITH sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pj AS (
         |  SELECT inter::DOUBLE / (sa.n + sb.n - inter) AS j
         |  FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n),
         |a1 AS (SELECT j, j*j AS j2 FROM pj),
         |a2 AS (SELECT *, j2*j2 AS j4 FROM a1),
         |a3 AS (SELECT *, j4*j4 AS j8 FROM a2),
         |a4 AS (SELECT *, j8*j8 AS j16 FROM a3),
         |q0 AS (SELECT 1.0 - j2 AS a, 1.0 - j4 AS b, 1.0 - j8 AS c,
         |         1.0 - j16 AS dd FROM a4),
         |s1 AS (SELECT a*a AS a, b*b AS b, c*c AS c, dd*dd AS dd FROM q0),
         |s2 AS (SELECT a*a AS a, b*b AS b, c*c AS c, dd*dd AS dd FROM s1),
         |s3 AS (SELECT a*a AS a, b*b AS b, c*c AS c, dd*dd AS dd FROM s2),
         |s4 AS (SELECT a*a AS a, b*b AS b, c*c AS c, dd FROM s3),
         |s5 AS (SELECT a*a AS a, b*b AS b, c, dd FROM s4),
         |s6 AS (SELECT a*a AS a, b, c, dd FROM s5),
         |cfg AS (
         |  SELECT 2 AS rows_per_band, 64 AS bands,
         |    floor((1.0 - a) * 1000000)::BIGINT AS catch_ppm FROM s6
         |  UNION ALL SELECT 4, 32,
         |    floor((1.0 - b) * 1000000)::BIGINT FROM s6
         |  UNION ALL SELECT 8, 16,
         |    floor((1.0 - c) * 1000000)::BIGINT FROM s6
         |  UNION ALL SELECT 16, 8,
         |    floor((1.0 - dd) * 1000000)::BIGINT FROM s6)
         |SELECT rows_per_band, bands, count(*)::BIGINT AS n_pairs,
         |  (sum(catch_ppm) // count(*))::BIGINT AS mean_catch_ppm,
         |  min(catch_ppm)::BIGINT AS min_catch_ppm
         |FROM cfg GROUP BY rows_per_band, bands
         |ORDER BY rows_per_band""".stripMargin,
    "dedup_substring_runs" ->
      """WITH toks AS (
        |  SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
        |  FROM (SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  t -> t <> '') AS ws
        |    FROM documents)),
        |sp AS (
        |  SELECT doc_id, pos,
        |    concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win,
        |      lead(w,3) OVER win, lead(w,4) OVER win, lead(w,5) OVER win,
        |      lead(w,6) OVER win, lead(w,7) OVER win) AS span,
        |    lead(w,7) OVER win AS w8
        |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |spans AS (SELECT doc_id, pos, span FROM sp WHERE w8 IS NOT NULL),
        |shared AS (
        |  SELECT span FROM spans GROUP BY span
        |  HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (
        |  SELECT doc_id, pos FROM spans
        |  WHERE span IN (SELECT span FROM shared)),
        |fl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 7) OVER
        |        (PARTITION BY doc_id ORDER BY pos
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
        |      THEN 1 ELSE 0 END AS is_start
        |  FROM dup),
        |runs AS (
        |  SELECT doc_id, run_id,
        |    (max(pos) + 7 - min(pos) + 1)::BIGINT AS run_tokens
        |  FROM (SELECT doc_id, pos,
        |      sum(is_start) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
        |    FROM fl)
        |  GROUP BY doc_id, run_id),
        |nt AS (SELECT doc_id, count(*)::BIGINT AS n_tokens
        |  FROM toks GROUP BY doc_id)
        |SELECT r.doc_id, count(*)::BIGINT AS n_runs,
        |  sum(run_tokens)::BIGINT AS dup_tokens,
        |  max(run_tokens)::BIGINT AS max_run_tokens, n_tokens,
        |  (sum(run_tokens) * 1000000 // n_tokens)::BIGINT AS dup_ppm
        |FROM runs r JOIN nt USING (doc_id)
        |GROUP BY r.doc_id, n_tokens
        |ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin,
    "dedup_exact_survivors" ->
      """SELECT min(doc_id) AS doc_id FROM documents
        |GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" -> sqlJaccardAllPairs,
    // the prefix-filter path is DEFINED to produce the exact pair set,
    // so the uncapped all-pairs join is its oracle verbatim — one text,
    // two keys (the sqlClustersClosure discipline)
    "dedup_jaccard_prefix" -> sqlJaccardAllPairs,
    // the pair ARTIFACT must replay the same uncapped all-pairs truth
    // the in-query stages do — hash-gating the persisted files that
    // graft.dedup.pairsPath consumers serve from
    "dedup_pairs_from_index" -> sqlJaccardAllPairs,
    // the delta-refreshed artifact must be row-identical to a full
    // rebuild (the pairGraphDelta contract), so the oracle is the
    // same uncapped all-pairs SQL — the hash gate checks the old
    // build → boundary cut → delta merge → serve loop end to end
    "dedup_pairs_delta_refresh" -> sqlJaccardAllPairs,
    "dedup_containment" ->
      s"""WITH sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |joined AS (
         |  SELECT a_id, b_id, inter, sa.n AS na, sb.n AS nb
         |  FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id),
         |dir AS (
         |  SELECT a_id AS contained_id, b_id AS container_id, inter,
         |    na AS n_contained, nb AS n_container FROM joined
         |  UNION ALL
         |  SELECT b_id, a_id, inter, nb, na FROM joined)
         |SELECT contained_id, container_id, inter, n_contained,
         |  n_container
         |FROM dir WHERE inter * 5 >= n_contained * 4
         |ORDER BY contained_id, container_id""".stripMargin,
    "dedup_clusters" -> sqlClustersClosure,
    // the from-index twin serves the SAME labeling from the persisted
    // artifact, so the full recursive-CTE closure is its oracle too —
    // hash parity gates the materialized labels end to end
    "dedup_clusters_from_index" -> sqlClustersClosure,
    "cc_incremental" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |reach(doc, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc)
         |SELECT doc AS doc_id, min(r) AS cluster_id,
         |  (CASE WHEN doc = min(r) THEN 1 ELSE 0 END) AS is_survivor
         |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin,
    "dedup_cluster_size_dist" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |reach(doc, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc),
         |labels AS (SELECT doc, min(r) AS cid FROM reach GROUP BY doc),
         |sizes AS (SELECT cid, count(*)::BIGINT AS size
         |  FROM labels GROUP BY cid),
         |t AS (SELECT count(*)::BIGINT AS n_total FROM documents)
         |SELECT size AS cluster_size, count(*)::BIGINT AS n_clusters,
         |  (size * count(*))::BIGINT AS n_docs,
         |  (size * count(*) * 1000000 // n_total)::BIGINT AS doc_share_ppm
         |FROM sizes CROSS JOIN t
         |GROUP BY size, n_total ORDER BY cluster_size""".stripMargin,
    "embedding_threshold_sweep" ->
      s"""WITH p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${Fns.sqlCosine("a.embedding", "b.embedding")} AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
         |thr AS (
         |  SELECT unnest(generate_series(300, 700, 50))::BIGINT
         |    AS thr_permil),
         |sw AS (
         |  SELECT t.thr_permil, p.a_id, p.b_id
         |  FROM p JOIN thr t ON p.cos >= t.thr_permil / 1000.0),
         |np AS (
         |  SELECT thr_permil, count(*)::BIGINT AS n_pairs
         |  FROM sw GROUP BY 1),
         |fl AS (
         |  SELECT thr_permil, count(DISTINCT doc_id)::BIGINT
         |    AS n_docs_flagged
         |  FROM (SELECT thr_permil, a_id AS doc_id FROM sw
         |        UNION ALL SELECT thr_permil, b_id FROM sw)
         |  GROUP BY 1)
         |SELECT t.thr_permil, coalesce(np.n_pairs, 0)::BIGINT AS n_pairs,
         |  coalesce(fl.n_docs_flagged, 0)::BIGINT AS n_docs_flagged
         |FROM thr t
         |LEFT JOIN np ON np.thr_permil = t.thr_permil
         |LEFT JOIN fl ON fl.thr_permil = t.thr_permil
         |ORDER BY t.thr_permil""".stripMargin,
    "dedup_incremental" ->
      s"""WITH cut AS (
         |  SELECT (min(doc_id) + max(doc_id)) // 2 AS c FROM documents),
         |sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  WHERE b.doc_id >= (SELECT c FROM cut)
         |  GROUP BY 1, 2),
         |near AS (
         |  SELECT DISTINCT b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n),
         |firstmd5 AS (
         |  SELECT md5(text) AS m, min(doc_id) AS mid
         |  FROM documents GROUP BY 1)
         |SELECT d.doc_id,
         |  (CASE WHEN f.mid < d.doc_id THEN 1 ELSE 0 END) AS exact_dup,
         |  (CASE WHEN near.b_id IS NOT NULL THEN 1 ELSE 0 END) AS near_dup,
         |  (CASE WHEN f.mid = d.doc_id AND near.b_id IS NULL
         |        THEN 1 ELSE 0 END) AS survivor
         |FROM documents d
         |JOIN firstmd5 f ON md5(d.text) = f.m
         |LEFT JOIN near ON near.b_id = d.doc_id
         |WHERE d.doc_id >= (SELECT c FROM cut)
         |ORDER BY d.doc_id""".stripMargin,
    "compaction_plan" ->
      s"""WITH surv AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |d AS (SELECT documents.* FROM documents JOIN surv USING (doc_id)),
        |sp AS (
        |  SELECT doc_id, lang, n_chars,
        |    CASE WHEN b <= 13 THEN 'train'
        |         WHEN b = 14 THEN 'valid' ELSE 'test' END AS split
        |  FROM (SELECT d.*,
        |          (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1)
        |            AS b
        |        FROM d)),
        |pre AS (
        |  SELECT split, lang, doc_id, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY split, lang
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prior_chars
        |  FROM sp)
        |SELECT split, lang, (prior_chars // $CompactionTargetChars)::BIGINT AS file_idx,
        |  count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS file_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM pre GROUP BY split, lang, file_idx
        |ORDER BY split, lang, file_idx""".stripMargin,
    "materialize_survivors" ->
      """WITH surv AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |d AS (SELECT documents.* FROM documents JOIN surv USING (doc_id)),
        |sp AS (
        |  SELECT doc_id, lang, n_chars,
        |    CASE WHEN b <= 13 THEN 'train'
        |         WHEN b = 14 THEN 'valid' ELSE 'test' END AS split
        |  FROM (SELECT d.*,
        |          (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1)
        |            AS b
        |        FROM d))
        |SELECT split, lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM sp GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "dedup_embedding_bruteforce" ->
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(${Fns.sqlCosine("a.embedding", "b.embedding")}, 4)
         |    AS cos_sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${Fns.sqlCosine("a.embedding", "b.embedding")} >= 0.45
         |ORDER BY a_id, b_id""".stripMargin,
    "neardup_pagerank" ->
      s"""WITH sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM deg),
         |p0 AS (
         |  SELECT src AS doc_id,
         |    (1000000000000 // (SELECT n FROM nn))::BIGINT AS pr
         |  FROM deg),
         |s0 AS (SELECT p.doc_id, (p.pr // d.deg)::BIGINT AS share
         |  FROM p0 p JOIN deg d ON p.doc_id = d.src),
         |p1 AS (
         |  SELECT e.dst AS doc_id,
         |    ((150000000000 // (SELECT n FROM nn))
         |      + (85::HUGEINT * sum(s.share) // 100))::BIGINT AS pr
         |  FROM edges e JOIN s0 s ON e.src = s.doc_id GROUP BY e.dst),
         |s1 AS (SELECT p.doc_id, (p.pr // d.deg)::BIGINT AS share
         |  FROM p1 p JOIN deg d ON p.doc_id = d.src),
         |p2 AS (
         |  SELECT e.dst AS doc_id,
         |    ((150000000000 // (SELECT n FROM nn))
         |      + (85::HUGEINT * sum(s.share) // 100))::BIGINT AS pr
         |  FROM edges e JOIN s1 s ON e.src = s.doc_id GROUP BY e.dst),
         |s2 AS (SELECT p.doc_id, (p.pr // d.deg)::BIGINT AS share
         |  FROM p2 p JOIN deg d ON p.doc_id = d.src),
         |p3 AS (
         |  SELECT e.dst AS doc_id,
         |    ((150000000000 // (SELECT n FROM nn))
         |      + (85::HUGEINT * sum(s.share) // 100))::BIGINT AS pr
         |  FROM edges e JOIN s2 s ON e.src = s.doc_id GROUP BY e.dst)
         |SELECT p3.doc_id, d.deg::BIGINT AS degree, p3.pr AS pr_e12
         |FROM p3 JOIN deg d ON p3.doc_id = d.src
         |ORDER BY pr_e12 DESC, doc_id""".stripMargin,
    // the h-index iteration unrolled to [[KcoreOracleRounds]] static
    // CTEs over the same replayed pair graph — exact at the gate SF
    // (see the constant's soundness note + DedupSpec's depth pin)
    "neardup_kcore" -> {
      val iters = (1 to KcoreOracleRounds).map { i =>
        s"""h$i AS (
           |  SELECT dst AS doc_id, max(least(r, nh))::BIGINT AS h FROM (
           |    SELECT e.dst, p.h AS nh,
           |      row_number() OVER (PARTITION BY e.dst
           |        ORDER BY p.h DESC, e.src) AS r
           |    FROM edges e JOIN h${i - 1} p ON e.src = p.doc_id)
           |  GROUP BY dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |h0 AS (
         |  SELECT src AS doc_id, count(*)::BIGINT AS h
         |  FROM edges GROUP BY src),
         |$iters
         |SELECT doc_id, h AS coreness FROM h$KcoreOracleRounds
         |ORDER BY doc_id""".stripMargin
    },
    "neardup_triangles" ->
      s"""WITH sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n),
         |deg AS (
         |  SELECT doc_id, count(*)::BIGINT AS degree
         |  FROM (SELECT a_id AS doc_id FROM pairs
         |        UNION ALL SELECT b_id FROM pairs)
         |  GROUP BY doc_id),
         |st AS (SELECT count(*)::BIGINT AS n_nodes,
         |         sum(degree * (degree - 1) // 2)::BIGINT AS n_wedges
         |       FROM deg),
         |ed AS (SELECT count(*)::BIGINT AS n_edges FROM pairs),
         |tri AS (
         |  SELECT count(*)::BIGINT AS n_triangles
         |  FROM pairs e1 JOIN pairs e2 ON e1.b_id = e2.a_id
         |  WHERE EXISTS (SELECT 1 FROM pairs e3
         |                WHERE e3.a_id = e1.a_id AND e3.b_id = e2.b_id))
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |  CASE WHEN n_wedges > 0
         |    THEN 3 * n_triangles * 1000000 // n_wedges ELSE 0 END
         |    AS closure_ppm
         |FROM st, ed, tri""".stripMargin,
    "quality_drift_bins" -> {
      def binCte(src: String, name: String, cn: String) =
        s"""${name}_f AS (
           |  SELECT len(w)::BIGINT AS n_tokens,
           |    len(list_distinct(w))::BIGINT AS n_distinct,
           |    len(list_filter(w, t -> list_contains($StopL, t)))::BIGINT
           |      AS n_stop
           |  FROM (SELECT $Toks AS w FROM $src) WHERE len(w) > 0),
           |$name AS (
           |  SELECT least(greatest(
           |      (6 * (n_stop * 1000000 // n_tokens) // 1000
           |        + 4 * (n_distinct * 1000000 // n_tokens) // 1000
           |        + 2 * least(n_tokens, 400) - 3000) // 500, -8), 8)
           |      AS bin,
           |    count(*)::BIGINT AS $cn
           |  FROM ${name}_f GROUP BY bin)""".stripMargin
      s"""WITH snap AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 7 = 2 THEN text || ' [rev2]' ELSE text END
         |      AS text
         |  FROM documents WHERE doc_id % 11 <> 3
         |  UNION ALL
         |  SELECT doc_id + 1000000, source, text || ' [new]'
         |  FROM documents WHERE doc_id % 13 = 5),
         |${binCte("documents", "pbins", "prior_n")},
         |${binCte("snap", "nbins", "new_n")},
         |sp AS (SELECT unnest(generate_series(-8, 8))::BIGINT AS bin)
         |SELECT sp.bin,
         |  coalesce(p.prior_n, 0)::BIGINT AS prior_n,
         |  coalesce(nw.new_n, 0)::BIGINT AS new_n,
         |  (coalesce(p.prior_n, 0) * 1000000 //
         |    (SELECT sum(prior_n) FROM pbins))::BIGINT AS prior_ppm,
         |  (coalesce(nw.new_n, 0) * 1000000 //
         |    (SELECT sum(new_n) FROM nbins))::BIGINT AS new_ppm,
         |  ((coalesce(nw.new_n, 0) * 1000000 //
         |      (SELECT sum(new_n) FROM nbins))
         |    - (coalesce(p.prior_n, 0) * 1000000 //
         |      (SELECT sum(prior_n) FROM pbins)))::BIGINT AS delta_ppm
         |FROM sp
         |LEFT JOIN pbins p ON p.bin = sp.bin
         |LEFT JOIN nbins nw ON nw.bin = sp.bin
         |ORDER BY sp.bin""".stripMargin
    },
    "merge_upsert" ->
      """WITH snap AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 2 THEN text || ' [rev2]' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 11 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, text || ' [new]'
        |  FROM documents WHERE doc_id % 13 = 5),
        |m AS (
        |  SELECT
        |    CASE WHEN o.doc_id IS NULL THEN 'insert'
        |         WHEN n.doc_id IS NULL THEN 'delete'
        |         WHEN md5(o.text) <> md5(n.text) THEN 'update'
        |         ELSE 'keep' END AS action,
        |    coalesce(n.source, o.source) AS source,
        |    coalesce(len(n.text), len(o.text))::BIGINT AS n_chars
        |  FROM documents o FULL OUTER JOIN snap n ON o.doc_id = n.doc_id)
        |SELECT action, source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars
        |FROM m GROUP BY action, source ORDER BY action, source""".stripMargin,
    "neardup_quality_delta" ->
      s"""WITH ${TextAnalysis.sqlQualityFeatures},
         |sh AS (SELECT doc_id, $Sh AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE inter * 3 >= sa.n + sb.n),
         |deltas AS (
         |  SELECT abs(coalesce(fa.logit_milli, -3000)
         |    - coalesce(fb.logit_milli, -3000))::BIGINT AS delta
         |  FROM pairs
         |  LEFT JOIN feat fa ON fa.doc_id = a_id
         |  LEFT JOIN feat fb ON fb.doc_id = b_id)
         |SELECT least(7, delta // 500)::BIGINT AS bucket,
         |  count(*)::BIGINT AS n_pairs,
         |  sum(delta)::BIGINT AS sum_delta_milli
         |FROM deltas GROUP BY 1 ORDER BY 1""".stripMargin,
    "vocab_drift" ->
      s"""WITH snap AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 7 = 2 THEN text || ' [rev2]' ELSE text END
         |      AS text
         |  FROM documents WHERE doc_id % 11 <> 3
         |  UNION ALL
         |  SELECT doc_id + 1000000, source, text || ' [new]'
         |  FROM documents WHERE doc_id % 13 = 5),
         |ov AS (
         |  SELECT token, count(*)::BIGINT AS old_n
         |  FROM (SELECT unnest(${Fns.sqlTokens("text")}) AS token
         |        FROM documents)
         |  GROUP BY 1),
         |nv AS (
         |  SELECT token, count(*)::BIGINT AS new_n
         |  FROM (SELECT unnest(${Fns.sqlTokens("text")}) AS token
         |        FROM snap)
         |  GROUP BY 1),
         |tots AS (
         |  SELECT (SELECT sum(old_n)::BIGINT FROM ov) AS tot_old,
         |         (SELECT sum(new_n)::BIGINT FROM nv) AS tot_new),
         |j AS (
         |  SELECT coalesce(ov.token, nv.token) AS token,
         |    coalesce(old_n, 0)::BIGINT AS old_n,
         |    coalesce(new_n, 0)::BIGINT AS new_n
         |  FROM ov FULL OUTER JOIN nv ON ov.token = nv.token)
         |SELECT token, old_n, new_n,
         |  (old_n::HUGEINT * 1000000 // tot_old)::BIGINT AS old_ppm,
         |  (new_n::HUGEINT * 1000000 // tot_new)::BIGINT AS new_ppm,
         |  ((new_n::HUGEINT * 1000000 // tot_new)
         |    - (old_n::HUGEINT * 1000000 // tot_old))::BIGINT AS delta_ppm
         |FROM j, tots
         |ORDER BY abs((new_n::HUGEINT * 1000000 // tot_new)
         |  - (old_n::HUGEINT * 1000000 // tot_old)) DESC, token
         |LIMIT 20""".stripMargin
  )
  }
}
