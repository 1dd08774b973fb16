package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Fns, GraftConf, Parquet}
import graft.plans.GraftFunctions
import graft.sources.Tables

/** §2H — retrieval: the serving-side query surface a corpus engine
  * exposes once the pipeline has curated it. Lexical ranking (BM25),
  * hybrid lexical+vector fusion (reciprocal-rank fusion, the standard
  * way production search merges a keyword list with an ANN list), a
  * kNN label classifier (the "fasttext-style quality/domain tagger
  * as retrieval" pattern: tag by nearest labeled neighbours), and
  * chunking (fixed-size overlapping token windows — the unit both RAG
  * retrieval and sequence-packing training prep operate on).
  *
  * All four are ✅SQL: ranking math is either bit-stable (the
  * sequential-fold cosine, integer rank arithmetic) or folded in a
  * FIXED summand order on both engines (BM25's per-term conditional
  * sums), so DuckDB replays hash-exactly.
  */
object Retrieval {

  private def cos(a: Column, b: Column): Column =
    call_function(GraftFunctions.CosineName, a, b)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bm25_topk" -> bm25TopK,
    "bm25_from_index" -> bm25FromIndex,
    "bm25_delta_refresh" -> bm25DeltaRefresh,
    "bm25_append_refresh" -> bm25AppendRefresh,
    "phrase_append_refresh" -> phraseAppendRefresh,
    "bm25_prf" -> bm25Prf,
    "rrf_fusion" -> rrfFusion,
    "knn_classify" -> knnClassify,
    "text_chunk" -> textChunk,
    "phrase_search" -> phraseSearch,
    "phrase_from_index" -> phraseFromIndex,
    "phrase_delta_refresh" -> phraseDeltaRefresh,
    "snippet_extract" -> snippetExtract,
    "mmr_diversify" -> mmrDiversify,
    "rag_context_pack" -> ragContextPack,
    "retrieval_eval_mrr" -> retrievalEvalMrr,
    "retrieval_eval_recall" -> retrievalEvalRecall
  )

  /** Self-supervised retrieval evaluation (MRR) — the quality gate a
    * search deployment runs WITHOUT human labels: a FIXED-COUNT panel
    * of `graft.mrr.nProbes` documents (default 50, selected by
    * content-hash rank — md5(text) asc, doc_id tie-break, the
    * `sample_fixed_per_source` reservoir idiom, so the panel is
    * deterministic and reshard-stable) each donates a query (its 4
    * strongest non-stopword terms — tf desc, tie lexicographic), the
    * corpus is BM25-scored against each query, and the donor
    * document's own rank is the measurement (a healthy index ranks
    * the donor at/near 1; a slipping one — after a tokenizer change,
    * an index rebuild, a dedup pass that dropped the donor's
    * near-dups — shows up as falling reciprocal rank). Per probe:
    * scored-doc count, the donor's rank, reciprocal rank in exact
    * integer ppm, and the donor's score.
    *
    * Parity: per-(probe, doc) scores fold their ≤ 4 per-term summands
    * in LEXICOGRAPHIC term order on both engines (Spark:
    * `aggregate(sort_array(collect_list(struct(tok, ts))))` — the
    * [[bm25Prf]] argument generalized to per-probe term sets; DuckDB:
    * `list(ts ORDER BY tok)` indexed fold), so scores are
    * bit-identical and the rank COUNTS cannot drift. The rank itself
    * is computed as `1 + count(strictly better)` against the donor's
    * broadcast own-score — never a corpus-wide rank window per probe
    * (the scale-correct form: one aggregate, fine probe keys).
    *
    * Scale shape: the probe panel is a COUNT, not a rate — the
    * hash-rank select is a TakeOrdered (per-partition top-N heaps
    * merging N·partitions rows at the driver, never a global sort),
    * so the probe-term frame, the own-score frame, and both
    * broadcasts are ≤ nProbes rows at ANY corpus size (the round-8
    * mod-50 RATE grew them ∝ n and candidate volume toward n²/50 —
    * PlanAuditSpec pins the limit). Scoring work is Σ df over the
    * ≤ 4·nProbes query terms — the inverted-index postings bound, ∝
    * corpus only through those terms' document frequency (one corpus
    * token scan pruned by a broadcast semi join; the Stress receipt
    * records scored rows flat across K on the namespaced corpus). */
  def retrievalEvalMrr(s: SparkSession, d: String): DataFrame =
    mrrRanks(s, d)
      .select(col("probe_id"), col("n_scored"), col("own_rank"),
        expr("1000000 div own_rank").as("rr_ppm"), col("own_bm25"))
      .orderBy("probe_id")

  /** Hit-rate@k on the SAME probe panel as [[retrievalEvalMrr]] — the
    * serving-dashboard companion metric (how often does the donor make
    * the page, not just where it lands): for k ∈ {1, 3, 10} the probe
    * count, donors ranked ≤ k, and the exact-integer hit ppm. One
    * shared rank stage with MRR ([[mrrRanks]] — the two evals cannot
    * drift), a ×3 k-spine explode on the nProbes-row rank frame, and a
    * 3-row rollup: everything after the shared stage is metadata. */
  def retrievalEvalRecall(s: SparkSession, d: String): DataFrame =
    mrrRanks(s, d)
      .select(col("own_rank"),
        explode(array(lit(1L), lit(3L), lit(10L))).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("own_rank") <= col("k"), 1L).otherwise(0L))
          .as("hits"))
      .select(col("k"), col("n_probes"), col("hits"),
        expr("hits * 1000000 div n_probes").as("hit_ppm"))
      .orderBy("k")

  /** Shared per-probe rank stage of [[retrievalEvalMrr]] and
    * [[retrievalEvalRecall]]: (probe_id, n_scored, own_rank,
    * own_bm25). Rank = 1 + count(strictly better) against the donor's
    * broadcast own-score — one aggregate on fine probe keys, never a
    * per-probe corpus rank window. */
  private def mrrRanks(s: SparkSession, d: String): DataFrame = {
    val scored = mrrScored(s, d)
    val own = scored.filter(col("doc_id") === col("probe_id"))
      .select(col("probe_id"), col("score").as("own_score"))
    scored.join(broadcast(own), "probe_id")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_scored"),
        (lit(1L) + sum(when(col("score") > col("own_score")
            || (col("score") === col("own_score")
              && col("doc_id") < col("probe_id")), 1L).otherwise(0L)))
          .as("own_rank"),
        (round(max("own_score"), 4) + lit(0.0)).as("own_bm25"))
  }

  /** [[retrievalEvalMrr]]'s per-(probe, doc) BM25 score frame —
    * probe-panel select (content-hash rank top-nProbes), probe-term
    * derivation, and the postings-pruned scoring join. Package-private
    * so the Stress harness can count scored rows directly: the
    * receipt that the scoring volume follows the probe PANEL and the
    * query terms' postings, not the corpus row count.
    *
    * `graft.mrr.nProbes` (the panel-size knob) is ORACLE-CHECKABLE at
    * any setting since round 11: [[oracles]] is a def and
    * [[sqlMrrRanks]] interpolates the knob into the oracle text at
    * dump time (the round-10 verdict's stronger option — round 9 froze
    * the oracle at LIMIT 50 and declared non-default values a Verify
    * precondition). Both sides resolve through
    * [[GraftConf.MrrNProbes]], so the Spark plan and the dumped SQL can
    * never disagree on the panel size within one session;
    * RetrievalOracleSpec replays the full Verify → DuckDB comparison
    * at a non-default size. */
  private[graft] def mrrScored(s: SparkSession, d: String): DataFrame = {
    val nProbes = GraftConf.MrrNProbes(s)
    val c = Tables.documents(s, d)
      .select(col("doc_id"), Fns.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("dl"))
      .filter(col("dl") > 0)
    val g = c.agg(count(lit(1)).cast("double").as("n"),
      avg("dl").as("avgdl"))
    val probes = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("hk"),
        size(Fns.tokens(col("text"))).as("dl"))
      .filter(col("dl") > 0)
      .orderBy(col("hk"), col("doc_id")).limit(nProbes)
      .select(col("doc_id").as("probe_id"))
    // tokenize AFTER the broadcast panel join (the snippet_extract
    // join-before-tokenize rule): the query-term derivation pays the
    // regex split for nProbes documents, never the corpus
    val pt = Tables.documents(s, d)
      .join(broadcast(probes), col("doc_id") === col("probe_id"))
      .select(col("probe_id"), explode(Fns.tokens(col("text"))).as("tok"))
      .filter(!col("tok").isin(Fns.Stopwords: _*))
      .groupBy("probe_id", "tok").agg(count(lit(1)).as("ptf"))
      .withColumn("rk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("ptf").desc, col("tok"))))
      .filter(col("rk") <= 4)
      .select("probe_id", "tok")
    val tf = c.select(col("doc_id"), col("dl"), explode(col("w")).as("tok"))
      .join(broadcast(pt.select("tok").distinct()), Seq("tok"), "semi")
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfr), "tok").crossJoin(broadcast(g))
      .withColumn("ts",
        log(lit(1.0) + (col("n") - col("df") + lit(0.5))
          / (col("df") + lit(0.5)))
          * (col("tf") * lit(K1 + 1.0))
          / (col("tf")
            + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl") / col("avgdl")))))
      .join(broadcast(pt), "tok")
      .groupBy("probe_id", "doc_id")
      .agg(aggregate(
        sort_array(collect_list(struct(col("tok"), col("ts")))),
        lit(0.0), (acc, x) => acc + x.getField("ts")).as("score"))
  }

  /** RAG context packing — the step between retrieval and the prompt:
    * take the BM25 top-20 in rank order and admit documents while the
    * RUNNING token total stays within the context budget (256 tokens
    * here; rank-order prefix packing, the standard context-fill rule —
    * no skip-and-continue knapsack, which would re-order evidence
    * against relevance). Output, one row per ADMITTED document: rank,
    * score, its token count, and the running total the prompt builder
    * needs for offset bookkeeping.
    *
    * Scale shape: the ranking pass is [[bm25Scores]]' single corpus
    * scan; token counts are computed ONLY for the 20 survivors (join
    * before tokenize — the [[snippetExtract]] rule), and the
    * prefix-sum window runs post-limit over ≤ 20 metadata rows. */
  def ragContextPack(s: SparkSession, d: String): DataFrame = {
    val budget = 256L
    val top = bm25Scores(s, d)
      .select(col("doc_id"), (round(col("score"), 4) + lit(0.0)).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
    val w = Window.orderBy(col("bm25").desc, col("doc_id"))
    Tables.documents(s, d).select("doc_id", "text")
      .join(broadcast(top), "doc_id")
      .select(col("doc_id"), col("bm25"),
        size(Fns.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budget)
      .select("rank", "doc_id", "bm25", "n_tokens", "cum_tokens")
      .orderBy("rank")
  }

  /** MMR result diversification (Carbonell & Goldstein 1998) — the
    * re-rank between retrieval and the result page: from the cosine
    * top-50 to the standing probe, pick 10 results maximizing
    * `0.7·relevance − 0.3·max-similarity-to-already-picked`, so a
    * template family occupies ONE slot instead of ten (the near-dup
    * suite's diagnosis, applied at serving time). All scoring is exact
    * integer fixed-point: relevance and pairwise similarity floor onto
    * the 10⁻⁶ grid (both engines floor identical cosine bits), then
    * 70·rel − 30·maxsim in BIGINT — the oracle unrolls all 10
    * selection steps and replays hash-exactly.
    *
    * Scale shape: ONE corpus scan produces the top-50 shortlist
    * (distributed TakeOrdered); everything after operates on ≤50-row
    * metadata — the 50×49 pair matrix and the 9 sequential argmax
    * steps. Round 16 (verdict #2): the candidates and pair sims are
    * BOUNDED result-page metadata (≤ 50 and ≤ 2,450 rows at ANY
    * corpus size — the bound is the top-50 limit, not the data), so
    * the greedy selection runs DRIVER-LOCAL on the collected arrays
    * instead of 9 localCheckpoint'd Spark rounds (two joins + a
    * limit(1) + a checkpoint each ≈ 27 scheduler barriers over
    * ≤50-row frames — measured 4.5 s of pure stage-round overhead at
    * c32, 0.37 c8/c32). Same integer fixed-point math, same
    * tie-breaks, bit-identical output; this is exactly how production
    * MMR runs — the result page is driver-sized by definition. */
  def mmrDiversify(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val q = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rel_e6",
        floor(cos(col("embedding"), col("q_emb")) * lit(1000000.0)))
      .orderBy(col("rel_e6").desc, col("vec_id")).limit(50)
      .select("vec_id", "embedding", "rel_e6")
      .localCheckpoint()
    // rel: ≤ 50 rows; sim: ≤ 50·49 rows — bounded by the top-50
    // limit, collected once (the inline-bound-disclosure discipline)
    val rel = cand.select("vec_id", "rel_e6").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sim = cand.as("a")
      .join(cand.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        floor(cos(col("a.embedding"), col("b.embedding"))
          * lit(1000000.0)).as("sim_e6"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // greedy MMR, driver-local: rank 1 = max (rel_e6, smaller vec_id
    // wins ties); rank k = max (70·rel − 30·max-sim-to-selected),
    // vec_id tie-break — the exact argmax the per-round Spark plan ran
    val selected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
    if (rel.nonEmpty) {
      val first = rel.minBy { case (id, r) => (-r, id) }
      selected += ((first._1, 1, first._2, first._2 * 70))
      (2 to 10).foreach { k =>
        if (selected.size < rel.length) {
          val chosen = selected.map(_._1).toSet
          val next = rel.iterator
            .filter { case (id, _) => !chosen(id) }
            .map { case (id, r) =>
              val sims = chosen.iterator.flatMap(sid => sim.get((id, sid)))
              val ms = if (sims.isEmpty) 0L else sims.max
              (id, r, r * 70 - ms * 30)
            }
            .reduceLeft { (a, b) =>
              if (b._3 > a._3 || (b._3 == a._3 && b._1 < a._1)) b else a
            }
          selected += ((next._1, k, next._2, next._3))
        }
      }
    }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("rank", IntegerType),
      StructField("rel_e6", LongType),
      StructField("score_e6", LongType)))
    s.createDataFrame(
      java.util.Arrays.asList(selected.sortBy(_._2)
        .map(t => Row(t._1, t._2, t._3, t._4)).toArray: _*),
      schema)
  }

  /** Exact-phrase search — the positional-index lookup BM25's
    * bag-of-words scoring cannot answer: documents containing a literal
    * 3-token phrase, ranked by occurrence count. The phrase is derived
    * in-plan as the corpus's top trigram (count desc, lexicographic
    * tie) so the oracle replays it deterministically — the
    * [[TextAnalysis.mixtureResample]] in-query-derived-parameter
    * precedent; a production call passes the phrase as a constant and
    * skips that scan entirely.
    *
    * Scale shape: the positional gram stream is the POSITIONAL INVERTED
    * INDEX in relational form — the search itself is one equi-join of
    * that stream against a 1-row broadcast phrase (at 100 TB: a
    * point-lookup into the gram-keyed index layout, the
    * [[Similarity.annPqFromIndex]] materialization pattern), then a
    * per-doc count/min aggregate with map-side combine. No window, no
    * self-join; the phrase-derivation scan is the disclosed second
    * scan. */
  def phraseSearch(s: SparkSession, d: String): DataFrame = {
    // posexplode_OUTER + null-filter AFTER the Generate: plain
    // posexplode makes InferFiltersFromGenerate copy the whole
    // tokenize+shingle child into a size()/isnotnull Filter under the
    // Generate, evaluating it 3x per row (measured 2x wall on this
    // query); the outer variant takes no such filter and the null
    // rows it adds for short docs drop in the cheap column filter
    def grams = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode_outer(Fns.shingles3(Fns.tokens(col("text")))))
      .toDF("doc_id", "pos", "gram")
      .filter(col("gram").isNotNull)
    val top = grams.groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram")).limit(1).select("gram")
    grams.join(broadcast(top), "gram")
      .groupBy("doc_id")
      .agg(max("gram").as("phrase"), count(lit(1)).as("n_hits"),
        min("pos").as("first_pos"))
      .orderBy(col("n_hits").desc, col("doc_id"))
      .limit(20)
  }

  /** Snippet extraction — the serving feature after ranking: for the
    * BM25 top-5 docs, the best 16-token window by query-term hit count
    * (leftmost window on ties), emitted as (start, hits, window md5).
    * This is the "why did this doc match" highlight pass every search
    * UI runs over its result page.
    *
    * Parity: hit counts are integers over the shared tokenizer; the
    * window argmax folds left→right with a STRICT `>` (keeps the
    * earliest max) ≡ the oracle's `row_number() ORDER BY hits DESC, t`.
    *
    * Scale shape: ranking cost is [[bm25Scores]]'s (one corpus scan);
    * the snippet pass tokenizes ONLY the 5 surviving docs (the text
    * column joins against the broadcast top-5 frame BEFORE
    * tokenization), then runs one per-row codegen'd fold —
    * O(dl·16) integer adds on 5 rows. The term-flag array binds once
    * as a lambda variable (the [[TextAnalysis.winnowFingerprint]]
    * anti-inlining pattern). */
  def snippetExtract(s: SparkSession, d: String): DataFrame = {
    val terms = GraftConf.QTerms.active
    val top = bm25Scores(s, d)
      .select(col("doc_id"), (round(col("score"), 4) + lit(0.0)).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(5)
    def bestWindow(fb: Column, dl: Column): Column =
      aggregate(
        sequence(lit(0), greatest(lit(0), dl - 16)),
        struct(lit(-1).as("t"), lit(-1).as("h")),
        (acc, t) => {
          val h = aggregate(slice(fb, t + 1, lit(16)), lit(0),
            (a, x) => a + x)
          when(h > acc.getField("h"), struct(t.as("t"), h.as("h")))
            .otherwise(acc)
        })
    Tables.documents(s, d).select("doc_id", "text")
      .join(broadcast(top), "doc_id")
      .select(col("doc_id"), col("bm25"),
        Fns.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("bm25"), col("w"),
        element_at(transform(array(transform(col("w"),
          tok => when(tok.isin(terms: _*), 1).otherwise(0))),
          fb => bestWindow(fb, size(col("w")))), 1).as("best"))
      .select(col("doc_id"), col("bm25"),
        col("best.t").as("best_t"),
        col("best.h").as("n_hits"),
        md5(concat_ws(" ",
          slice(col("w"), col("best.t") + 1, lit(16)))).as("snippet_md5"))
      .orderBy(col("bm25").desc, col("doc_id"))
  }

  /** The fixed keyword query all lexical ranking runs against: one
    * rare term (`dup`, df ≈ 5% of docs — the discriminative signal)
    * plus three common ones, so scores mix an idf spike with tf/length
    * normalization. A FIXED query (not a per-row join) keeps the
    * operator shape = one corpus scan + tiny broadcast frames. The
    * default of [[GraftConf.QTerms]]; the oracles replay it. */
  private[graft] val QTerms = Seq("dup", "spark", "hash", "window")

  private val K1 = 1.2
  private val B = 0.75

  /** Per-document BM25 scores against [[QTerms]] (internal frame shared
    * by [[bm25TopK]] and [[rrfFusion]]). Okapi BM25, k1 = 1.2,
    * b = 0.75: score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl)), idf = ln(1 + (N − df + ½)/(df + ½)) (the
    * non-negative Robertson–Sparck-Jones form).
    *
    * Cross-engine parity: each (doc, term) contributes exactly one
    * scored row, so the per-term scores are lifted into FIXED-ORDER
    * summands (one conditional sum per query term, added left to
    * right) — both engines fold the identical four doubles in the
    * identical order, making the result bit-exact before the display
    * round, not round-absorbed (SURVEY §4).
    *
    * Scale shape: ONE corpus scan builds (doc, dl, tok) for query
    * tokens only (the `isin` prunes before the shuffle, so per-doc
    * shuffle volume is ≤ |Q| tiny rows, not the token stream); df and
    * the (N, avgdl) scalars are broadcast frames. No windows, no
    * self-joins; the final top-20 is a distributed TakeOrdered. At
    * 100 TB an inverted-index materialization would replace the scan,
    * but the per-query compute shape (tiny per-term frames × broadcast
    * stats) is already the right one. */
  private[graft] def bm25Scores(s: SparkSession, d: String): DataFrame =
    bm25ScoresWide(Tables.documents(s, d), GraftConf.QTerms.active)

  /** Wide-form BM25 scoring over a (doc_id, text) frame — the
    * shuffle-free rewrite of the explode+groupBy kernel (round 16;
    * guide §2.4 "remove shuffles outright", §2.3 "aggregate before
    * you shuffle"): per-doc term frequencies come from ONE bound-
    * lambda pass over the token array ([[bm25TfWide]] — no explode,
    * no (doc, tok) shuffle), the corpus globals (N, avgdl, per-term
    * df) collapse in ONE 1-row aggregate, and the per-doc score is
    * the same fixed-order per-term fold as [[bm25FromTf]] — identical
    * tf/dl/df/n/avgdl values through the identical IEEE operations in
    * the identical term order (a term the doc lacks contributes
    * `idf·(0·(k1+1))/(0+k1·…) = +0.0`, exactly the conditional-sum
    * form's empty summand), so results stay bit-equal to the
    * postings-kernel paths (ApproxSpec pins bm25_from_index ≡
    * bm25_topk across the rewrite). The has-a-term filter keeps the
    * row set identical to the explode form (docs with no query term
    * produced no tf rows there).
    *
    * Plan effect (plans/r16/bm25_topk_{before,after}.txt): 4
    * Exchanges (tf groupBy, df groupBy, doc_id groupBy, stats) → 1
    * (the 1-row stats aggregate); the scoring pass is map-only into
    * the TakeOrdered. */
  private def bm25ScoresWide(docs: DataFrame, terms: Seq[String])
      : DataFrame = {
    val c = bm25TfWide(docs, terms)
    val dfCols = terms.indices.map(i =>
      sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val g = c.agg(count(lit(1)).cast("double").as("n"),
      (avg("dl").as("avgdl") +: dfCols): _*)
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i")
      val dfr = col(s"df_$i")
      log(lit(1.0) + (col("n") - dfr + lit(0.5)) / (dfr + lit(0.5))) *
        (tf * lit(K1 + 1.0)) /
        (tf + lit(K1)
          * (lit(1.0 - B) + lit(B) * (col("dl") / col("avgdl"))))
    }.reduce(_ + _)
    c.filter(terms.indices.map(i => col(s"tf_$i")).reduce(_ + _) > 0)
      .crossJoin(broadcast(g))
      .select(col("doc_id"), score.as("score"))
  }

  /** (doc_id, dl, tf_0 … tf_{k-1}) in one map-only projection: the
    * token array binds once ([[Fns.bound]]) and each term counts via
    * an in-array filter — per-doc work is |w|·|terms| equality checks,
    * far below the regex tokenize the row already pays. dl stays INT
    * (= size(w), the explode form's type) and tf LONG (= the old
    * count()), so every downstream arithmetic sees the same types. */
  private def bm25TfWide(docs: DataFrame, terms: Seq[String])
      : DataFrame =
    docs.select(col("doc_id"),
      Fns.bound(Fns.tokens(col("text"))) { tk =>
        struct((size(tk).as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(tk, x => x === lit(t))).cast("long").as(s"tf_$i")
          }): _*)
      }.as("st"))
      .select(col("doc_id") +: col("st.dl").as("dl") +:
        terms.indices.map(i => col(s"st.tf_$i").as(s"tf_$i")): _*)
      .filter(col("dl") > 0)

  /** The BM25 scoring kernel over a (doc_id, dl, tok, tf) frame plus
    * the broadcast (n, avgdl) globals — the SERVING-side kernel
    * ([[bm25FromIndex]] / delta / append: tf point-read from the
    * materialized postings). Since round 16 the in-query twin scores
    * through [[bm25ScoresWide]] instead (one map-side tf pass, no
    * explode) — the parity pair is now wide-form vs this kernel over
    * postings: identical tf/dl/df/n/avgdl values through identical
    * fixed-order per-term IEEE summands keep the two paths bit-equal
    * (ApproxSpec pins it), which is the whole from-index contract. df
    * is derived from the tf frame itself (count of docs per term) —
    * the filtered postings ARE that term's full document list, so no
    * separate dictionary is needed. */
  private def bm25FromTf(tf: DataFrame, g: DataFrame,
      terms: Seq[String]): DataFrame = {
    val dfr = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val ts = tf.join(broadcast(dfr), "tok").crossJoin(broadcast(g))
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .withColumn("ts", col("idf") * (col("tf") * lit(K1 + 1.0))
        / (col("tf")
          + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl") / col("avgdl")))))
    val termSum = terms.map(t =>
      sum(when(col("tok") === t, col("ts")).otherwise(lit(0.0))).as("s_" + t))
    ts.groupBy("doc_id").agg(termSum.head, termSum.tail: _*)
      .select(col("doc_id"),
        terms.map(t => col("s_" + t)).reduce(_ + _).as("score"))
  }

  /** Resolve the materialized lexical index for corpus `d` — dual
    * mode, the `graft.dedup.pairsPath` precedent on the lexical side:
    *
    *  - `graft.lex.indexPath` SET → serving mode: the persisted
    *    [[graft.ops.Materialize.lexicalIndex]] (or
    *    `lexicalIndexDelta`) artifact at that path, tag-guarded so a
    *    session cannot serve one corpus with another corpus's
    *    postings. This is how a deployment routes `bm25_from_index` /
    *    `phrase_from_index` through a delta-refreshed index — and how
    *    the serving bench times the artifact path.
    *  - unset → build-once per JVM+corpus into scratch (the
    *    [[Similarity]] index guard; test-harness reality, and what
    *    the DuckDB oracle's hash gate replays). */
  private def lexIndexPath(s: SparkSession, d: String): String =
    GraftConf.LexIndexPath(s) match {
      case Some(p) =>
        graft.ops.ArtifactTag.require(s, p, d)
        p
      case None =>
        val path = graft.ops.BuildOnce.scratchPath("lex", d)
        graft.ops.BuildOnce.ensure(path, d) {
          graft.ops.Materialize.lexicalIndex(s, d, path)
        }
        path
    }

  /** BM25 served from the MATERIALIZED inverted index
    * ([[graft.ops.Materialize.lexicalIndex]]) — the read path a search
    * deployment actually runs, and the lexical counterpart of
    * `ann_pq_from_index`: the query touches ONLY the postings rows of
    * its own terms (the `isin` filter pushes into the tok-range-sorted
    * parquet, pruning row groups by min/max — PlanAuditSpec pins that
    * the text column is never read) plus the 1-row stats frame; the
    * corpus-wide tokenize/df/avgdl work happened once at build time.
    * Results are BIT-EQUAL to `bm25_topk` (same kernel over identical
    * inputs — ApproxSpec pins the equality), so the oracle SQL is the
    * in-query twin's, hash-exact. Build-once per JVM+corpus; the
    * deterministic build makes reuse result-invariant. */
  def bm25FromIndex(s: SparkSession, d: String): DataFrame =
    bm25Serve(s, lexIndexPath(s, d))

  /** [[bm25FromIndex]]'s read path over an EXPLICIT index location —
    * ONE definition shared with [[bm25DeltaRefresh]], so the
    * delta-refresh composition serves with exactly the plan the
    * steady-state twin runs (postings point-read + 1-row stats). */
  private def bm25Serve(s: SparkSession, path: String): DataFrame = {
    val terms = GraftConf.QTerms.active
    // chain-aware read: a merged artifact is a 1-element chain (one
    // scan — the pinned steady-state plan); an append chain unions
    // per-generation sorted scans, the term filter pruning row groups
    // inside each. stats reads the HEAD only — every writer stores
    // the cumulative (n, avgdl).
    val post = graft.ops.Materialize.chainRead(s, path,
        graft.ops.ArtifactTag.readTag(s, path), "postings",
        Seq("tok", "doc_id", "dl", "tf"))
      .filter(col("tok").isin(terms: _*))
    val g = Parquet.read(s, s"$path/stats")
    bm25FromTf(post, g, terms)
      .select(col("doc_id"), (round(col("score"), 4) + lit(0.0)).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** The lexical index refreshed INCREMENTALLY, then scored — the
    * registered end-to-end composition of [[graft.ops.Materialize
    * .lexicalIndexDelta]] (the `dedup_pairs_delta_refresh` shape on
    * the lexical side): the "previous cycle" indexes the old half of
    * the corpus (midpoint split — [[graft.operators.Dedup.idCut]],
    * the shared test-harness split rule), the refresh tokenizes ONLY
    * the new batch and merges old postings/grams as file scans plus
    * the additive (n, Σdl) BM25-global merge, and the query scores
    * from the REFRESHED artifact via [[bm25Serve]]. The oracle is the
    * in-query twin's full-corpus SQL, so the driver hash-gates the
    * old build → boundary cut → postings append → additive stats
    * merge → point-read score loop end to end. */
  def bm25DeltaRefresh(s: SparkSession, d: String): DataFrame =
    bm25Serve(s, lexDeltaPath(s, d))

  /** Build-once scratch composition behind the two delta-refresh
    * queries: old-half index + [[graft.ops.Materialize
    * .lexicalIndexDelta]] refresh to the full corpus
    * ([[Dedup.midpointRefresh]]). Returns the REFRESHED artifact's
    * path. */
  private def lexDeltaPath(s: SparkSession, d: String): String =
    Dedup.midpointRefresh(s, d, "lexdelta",
      graft.ops.Materialize.lexicalIndexOf,
      graft.ops.Materialize.lexicalIndexDelta)

  /** Exact-phrase search served from the MATERIALIZED positional gram
    * index — [[phraseSearch]]'s serving twin: the standing phrase is
    * derived from the vocabulary-sized `gramstats` artifact (top
    * occurrence count, lexicographic tie — ONE row read driver-side,
    * the `ann_ivf_from_index` centroid-metadata exception, so the
    * postings filter below is a LITERAL the scan prunes on), then the
    * gram-range-sorted postings are point-read for that gram only and
    * rolled up per doc exactly as the in-query twin does. Bit-equal to
    * `phrase_search` (ApproxSpec pins it); oracle SQL is the twin's. */
  def phraseFromIndex(s: SparkSession, d: String): DataFrame =
    phraseServe(s, lexIndexPath(s, d))

  /** The positional gram index refreshed INCREMENTALLY, then
    * phrase-searched — [[bm25DeltaRefresh]]'s sibling over the OTHER
    * two index parts: bm25 gates the delta-merged postings and the
    * additive stats row; this gates the delta-merged grams AND the
    * summed `gramstats` occurrence totals (the standing query derives
    * from the merged top row, so a wrong total merge surfaces as a
    * wrong phrase, not a silent rank shift). Same scratch artifact —
    * the composition builds once per JVM+corpus. */
  def phraseDeltaRefresh(s: SparkSession, d: String): DataFrame =
    phraseServe(s, lexDeltaPath(s, d))

  /** [[phraseFromIndex]]'s read path over an EXPLICIT index location
    * — shared with [[phraseDeltaRefresh]] (the [[bm25Serve]] rule).
    * gramstats reads the HEAD generation (cumulative by writer
    * contract); grams resolve the chain like postings do. */
  private def phraseServe(s: SparkSession, path: String): DataFrame = {
    val top = Parquet.read(s, s"$path/gramstats")
      .orderBy(col("n").desc, col("gram")).limit(1)
      .head().getString(0)
    graft.ops.Materialize.chainRead(s, path,
        graft.ops.ArtifactTag.readTag(s, path), "grams",
        Seq("doc_id", "pos", "gram"))
      .filter(col("gram") === top)
      .groupBy("doc_id")
      .agg(max("gram").as("phrase"), count(lit(1)).as("n_hits"),
        min("pos").as("first_pos"))
      .orderBy(col("n_hits").desc, col("doc_id"))
      .limit(20)
  }

  /** BM25 served from a GENERATIONAL (append-mode) refresh — the
    * [[bm25DeltaRefresh]] economics taken to their 100 TB endpoint:
    * [[graft.ops.Materialize.lexicalIndexAppend]] writes ONLY the
    * batch (plus vocabulary-sized merged stats), so refresh cost is
    * strictly ∝ batch — no old posting is decoded, re-sorted, or
    * rewritten — and the serve path unions the generation chain with
    * per-generation row-group pruning. Oracle = the full-corpus twin
    * SQL, so the driver hash-gates the chain-union read and the
    * additive stats merge end to end. */
  def bm25AppendRefresh(s: SparkSession, d: String): DataFrame =
    bm25Serve(s, lexAppendPath(s, d))

  /** [[bm25AppendRefresh]]'s sibling over grams/gramstats (the
    * [[phraseDeltaRefresh]] split of the index parts): gates that the
    * HEAD generation's cumulative gramstats still pick the corpus-wide
    * standing phrase and the chain union finds every positional hit. */
  def phraseAppendRefresh(s: SparkSession, d: String): DataFrame =
    phraseServe(s, lexAppendPath(s, d))

  /** Build-once scratch composition behind the append-refresh queries:
    * old-half index + [[graft.ops.Materialize.lexicalIndexAppend]]
    * generation for the rest ([[Dedup.midpointRefresh]]). Returns the
    * chain HEAD. */
  private[graft] def lexAppendPath(s: SparkSession, d: String): String =
    Dedup.midpointRefresh(s, d, "lexappend",
      graft.ops.Materialize.lexicalIndexOf,
      graft.ops.Materialize.lexicalIndexAppend)

  /** DuckDB mirror of the standing-phrase search — ONE definition for
    * `phrase_search`, `phrase_from_index`, and `phrase_delta_refresh`
    * (all three are defined to produce identical rows, so all three
    * replay the same SQL). */
  private lazy val sqlPhraseTop: String =
    s"""WITH t AS (SELECT doc_id, ${Fns.sqlTokens("text")} AS w
       |           FROM documents),
       |sh AS (SELECT doc_id, ${Fns.sqlShingles3("w")} AS gs FROM t),
       |g AS (SELECT doc_id, unnest(gs) AS gram,
       |        generate_subscripts(gs, 1) - 1 AS pos
       |      FROM sh),
       |top AS (SELECT gram FROM (
       |  SELECT gram, count(*) AS n FROM g GROUP BY 1
       |  ORDER BY n DESC, gram LIMIT 1))
       |SELECT doc_id, max(g.gram) AS phrase, count(*) AS n_hits,
       |  min(pos)::INT AS first_pos
       |FROM g JOIN top USING (gram)
       |GROUP BY doc_id
       |ORDER BY n_hits DESC, doc_id LIMIT 20""".stripMargin

  /** DuckDB mirror of [[bm25Scores]] as a CTE block ending in
    * `bm(doc_id, score)`. */
  private def sqlBm25: String = {
    val cases = QTerms.map(t =>
      s"sum(CASE WHEN tok = '$t' THEN ts ELSE 0.0 END)")
    s"""tokd AS (SELECT doc_id, ${Fns.sqlTokens("text")} AS w
       |         FROM documents),
       |c AS (SELECT doc_id, w, len(w)::BIGINT AS dl FROM tokd
       |      WHERE len(w) > 0),
       |g AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM c),
       |tf AS (SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       |       FROM (SELECT doc_id, dl, unnest(w) AS tok FROM c)
       |       WHERE tok IN (${QTerms.map("'" + _ + "'").mkString(", ")})
       |       GROUP BY 1, 2, 3),
       |dfr AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |scored AS (SELECT doc_id, tok,
       |    ln(1.0 + (n - df + 0.5) / (df + 0.5))
       |      * (tf * ${K1 + 1.0})
       |      / (tf + $K1 * (${1.0 - B} + $B * (dl / avgdl))) AS ts
       |  FROM tf JOIN dfr USING (tok), g),
       |bm AS (SELECT doc_id, ${cases.mkString(" + ")} AS score
       |       FROM scored GROUP BY doc_id)""".stripMargin
  }

  /** BM25 top-20 — the lexical retrieval query. See [[bm25Scores]] for
    * the ranking math, parity argument, and scale shape. */
  def bm25TopK(s: SparkSession, d: String): DataFrame =
    bm25Scores(s, d)
      .select(col("doc_id"), (round(col("score"), 4) + lit(0.0)).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)

  /** BM25 with PSEUDO-RELEVANCE FEEDBACK (RM3-style query expansion) —
    * the classic recall-repair loop between first-pass retrieval and
    * the result page: run the base query, treat its top-5 documents as
    * relevant, harvest their 3 strongest non-stopword non-query terms
    * (total tf, tie → lexicographic), and re-score the corpus against
    * the EXPANDED term set with the same Okapi kernel
    * ([[bm25FromTf]]). Output: expanded top-20 with an
    * `in_base_top20` flag, so the delta the expansion bought is
    * visible in the result itself.
    *
    * Parity: the expanded per-doc score folds its ≤ 7 per-term
    * summands in LEXICOGRAPHIC term order on both engines (Spark:
    * fixed-order conditional sums over the sorted literal term list;
    * DuckDB: left-to-right fold of `list(ts ORDER BY tok)`) — IEEE
    * addition of interleaved +0.0 summands is exact, so both engines
    * fold the identical doubles in the identical order (the
    * [[bm25Scores]] argument, generalized to a data-dependent term
    * set). The base ranking reuses the kernel's QTerms-order fold
    * verbatim.
    *
    * Scale shape: two wide-form scoring passes (base; expanded —
    * [[bm25ScoresWide]], 2 scans + 1 one-row exchange each) plus two
    * bounded driver collects (the ≤ 20-row base ranking and the
    * ≤ 3-row expansion terms) — the standing-query-derivation
    * exception ([[phraseFromIndex]]'s gramstats top-row precedent):
    * feedback ids and expansion terms must become plan LITERALS so
    * the filters push into the scans. Feedback-doc term harvesting is
    * a 5-literal-id pushed scan — constant work however large the
    * corpus. */
  def bm25Prf(s: SparkSession, d: String): DataFrame = {
    val terms = GraftConf.QTerms.active
    // base ranking: ONE wide-form pass; its top-20 (whose 5-row prefix
    // IS the feedback set — same (b4 desc, doc_id) order) is bounded
    // result-page metadata, collected once so the feedback-doc filter
    // and the in-base flag become literal predicates the scans prune
    // on (the expansion-term collect below was already this query's
    // disclosed driver step). Round 16: the previous form re-ran the
    // base-score subtree three times (fb semi join, base20 join, and
    // the exp harvest's semi join) — ~8 corpus passes and ~15
    // exchanges for one query; this is 5 passes, 3 exchanges, 3 jobs.
    val base20 = bm25Scores(s, d)
      .select(col("doc_id"), (round(col("score"), 4) + lit(0.0)).as("b4"))
      .orderBy(col("b4").desc, col("doc_id")).limit(20)
      .collect() // ≤ 20 rows by the limit: bounded ranking metadata
      .map(_.getLong(0)).toSeq
    val fbIds = base20.take(5)
    def inIds(c: Column, ids: Seq[Long]): Column =
      if (ids.isEmpty) lit(false) else c.isin(ids: _*)
    val exp = Tables.documents(s, d)
      .filter(inIds(col("doc_id"), fbIds))
      .select(explode(Fns.tokens(col("text"))).as("tok"))
      .filter(!col("tok").isin(Fns.Stopwords: _*)
        && !col("tok").isin(terms: _*))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(3)
      .select("tok")
      .collect() // 3 rows by the limit: bounded expansion-term metadata
      .map(_.getString(0)).toSeq
    val allTerms = (terms ++ exp).distinct.sorted
    bm25ScoresWide(Tables.documents(s, d), allTerms)
      .select(col("doc_id"),
        (round(col("score"), 4) + lit(0.0)).as("bm25_prf"),
        when(inIds(col("doc_id"), base20), 1).otherwise(0)
          .as("in_base_top20"))
      .orderBy(col("bm25_prf").desc, col("doc_id"))
      .limit(20)
  }

  /** Hybrid retrieval via reciprocal-rank fusion: the standard
    * production recipe for merging a LEXICAL ranking ([[bm25Scores]]
    * top-50) with a VECTOR ranking (cosine against the suite's
    * standing probe — the smallest vec_id — top-50; doc_id ≡ vec_id
    * in the corpus). RRF(d) = Σ_lists 1/(60 + rank_list(d)), here in
    * EXACT integer fixed-point: 10⁶ div (60 + rank), absent-from-list
    * contributes 0 — integer sums replay hash-exactly, no float fold
    * at all (the [[Dedup.pagerank]] precedent).
    *
    * Scale shape: each list is a distributed TakeOrdered(50) over its
    * scoring frame (one corpus scan each); the `row_number` windows
    * run AFTER the limit, over ≤ 50 rows of metadata — never a global
    * window over the corpus (the `window_decile_spend` rule). The
    * fusion join is 50×50 row metadata. k = 60 is the constant from
    * the original RRF paper (Cormack et al. 2009). */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val wLex = Window.orderBy(col("bm25").desc, col("doc_id"))
    val lex = bm25Scores(s, d)
      .select(col("doc_id"), (round(col("score"), 4) + lit(0.0)).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), row_number().over(wLex).as("r_lex"))
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val q = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val wVec = Window.orderBy(col("c").desc, col("vec_id"))
    val vec = e.crossJoin(broadcast(q))
      .withColumn("c", cos(col("embedding"), col("q_emb")))
      .orderBy(col("c").desc, col("vec_id")).limit(50)
      .select(col("vec_id").as("doc_id"), row_number().over(wVec).as("r_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_lex"), lit(0)).as("r_lex"),
        coalesce(col("r_vec"), lit(0)).as("r_vec"),
        (coalesce(expr("1000000 div (60 + r_lex)"), lit(0L))
          + coalesce(expr("1000000 div (60 + r_vec)"), lit(0L)))
          .as("rrf_e6"))
      .orderBy(col("rrf_e6").desc, col("doc_id"))
      .limit(20)
  }

  /** kNN label classification — nearest-labeled-neighbour tagging
    * (domain/quality tagging by embedding proximity, the retrieval
    * formulation of a corpus tagger): probes = vec_id < 50, train =
    * the labeled rest, k = 5 cosine neighbours, prediction = majority
    * label with ties to the smaller label. Emits per-probe prediction
    * + the probe's own label for confusion accounting.
    *
    * Parity: neighbour ranking compares unrounded cosines from the
    * bit-stable sequential fold (the [[Similarity.knnSelfJoin]]
    * precedent); votes are integers; the majority argmax is
    * `max_by(label, (votes, −label))` ≡ the oracle's windowed
    * first-row — both deterministic.
    *
    * Scale shape: probes broadcast (bounded probe set); scored rows
    * collapse per (probe, label) by map-side-combinable aggregates —
    * the k-selection is a partitioned window over probe_id (≤ |train|
    * rows per probe, never global); at real scale the train side
    * would be the LSH/IVF candidate set instead of the full corpus
    * (same composition as [[Similarity.annLsh]]). */
  def knnClassify(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, d).select("vec_id", "embedding", "label")
    val probes = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("label").as("true_label"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("c").desc, col("vec_id"))
    e.filter(col("vec_id") >= 50).crossJoin(broadcast(probes))
      .withColumn("c", cos(col("embedding"), col("p_emb")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .groupBy("probe_id", "true_label", "label")
      .agg(count(lit(1)).as("votes"))
      .groupBy("probe_id", "true_label")
      .agg(
        max_by(col("label"),
          struct(col("votes"), (lit(0) - col("label")).as("tb")))
          .as("pred_label"),
        max("votes").as("top_votes"))
      .select(col("probe_id"), col("true_label").cast("long").as("true_label"),
        col("pred_label").cast("long").as("pred_label"), col("top_votes"))
      .orderBy("probe_id")
  }

  /** Chunking: fixed 64-token windows at stride 48 (25% overlap) — the
    * retrieval/packing unit. Emits one row per chunk with its token
    * count and content digest; chunk count = max(1, ⌈(dl−64)/48⌉+1)
    * so every non-empty doc yields ≥ 1 chunk and the last window is
    * allowed to run short (standard RAG chunking).
    *
    * Parity: pure integer index math + md5 over the space-joined
    * slice; `greatest(1, …)` guards the div-vs-floor divergence for
    * dl < 17 (Spark `div` truncates toward zero, DuckDB `//` floors —
    * both reach the guard only when the true count is ≤ 0). Bit-exact.
    *
    * Scale shape: linear per-row expansion (explode over the per-doc
    * chunk count — output volume ≈ corpus × (1 + overlap), the
    * inherent cost of overlapping chunks), no shuffle at all until the
    * final presentation sort: chunking is a map-only stage that
    * pipelines into whatever consumes it. */
  def textChunk(s: SparkSession, d: String): DataFrame = {
    val size64 = 64
    val stride = 48
    Tables.documents(s, d)
      .select(col("doc_id"), Fns.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), org.apache.spark.sql.functions.size(col("w")).as("dl"))
      .filter(col("dl") > 0)
      .withColumn("n_chunks",
        greatest(lit(1L),
          expr(s"((dl - $size64 + ${stride - 1}) div $stride) + 1")))
      .select(col("doc_id"), col("w"), col("dl"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("w"), (col("chunk_id") * stride + 1).cast("int"),
          lit(size64)).as("cw"))
      .select(col("doc_id"), col("chunk_id"),
        org.apache.spark.sql.functions.size(col("cw")).cast("long")
          .as("n_tokens"),
        md5(concat_ws(" ", col("cw"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** The kNN classification replay as a reusable CTE block ending in
    * `pick` (prediction = rows with vr = 1) — shared by `knn_classify`
    * and [[Training]]'s `knn_eval_confusion`. */
  private[operators] def sqlKnnPick: String =
    s"""probes AS (
       |  SELECT vec_id AS probe_id, embedding AS p_emb,
       |    label AS true_label
       |  FROM embeddings WHERE vec_id < 50),
       |scored AS (
       |  SELECT probe_id, true_label, e.vec_id, e.label,
       |    ${Fns.sqlCosine("e.embedding", "p_emb")} AS c
       |  FROM embeddings e, probes WHERE e.vec_id >= 50),
       |ranked AS (
       |  SELECT probe_id, true_label, label,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY c DESC, vec_id) AS rk
       |  FROM scored),
       |votes AS (
       |  SELECT probe_id, true_label, label, count(*)::BIGINT AS votes
       |  FROM ranked WHERE rk <= 5 GROUP BY 1, 2, 3),
       |pick AS (
       |  SELECT probe_id, true_label, label AS pred_label, votes,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY votes DESC, label) AS vr,
       |    max(votes) OVER (PARTITION BY probe_id) AS top_votes
       |  FROM votes)""".stripMargin

  /** The MMR oracle unrolls all 10 greedy steps (the
    * [[Training]] unrolled-epoch precedent): selK-1 feeds step K's
    * argmax via a correlated max over the pair matrix. */
  private def sqlMmr: String = {
    val steps = (2 to 10).map { k =>
      s"""s$k AS (SELECT c.vec_id, $k::INT AS rank, c.rel_e6,
         |    c.rel_e6 * 70 - 30 * (
         |      SELECT max(p.sim_e6) FROM pairs p
         |      JOIN sel${k - 1} s ON p.b_id = s.vec_id
         |      WHERE p.a_id = c.vec_id) AS score_e6
         |  FROM cand c
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
         |  ORDER BY score_e6 DESC, c.vec_id LIMIT 1),
         |sel$k AS MATERIALIZED (SELECT * FROM sel${k - 1}
         |          UNION ALL SELECT * FROM s$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |           FROM embeddings ORDER BY vec_id LIMIT 1),
       |cand AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    floor(${Fns.sqlCosine("embedding", "q_emb")} * 1000000.0)::BIGINT
       |      AS rel_e6
       |  FROM embeddings, q WHERE vec_id <> q_id
       |  ORDER BY rel_e6 DESC, vec_id LIMIT 50),
       |pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    floor(${Fns.sqlCosine("a.embedding", "b.embedding")}
       |      * 1000000.0)::BIGINT AS sim_e6
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |sel1 AS MATERIALIZED (
       |  SELECT vec_id, 1::INT AS rank, rel_e6, rel_e6 * 70 AS score_e6
       |  FROM cand ORDER BY rel_e6 DESC, vec_id LIMIT 1),
       |$steps
       |SELECT vec_id, rank, rel_e6, score_e6 FROM sel10
       |ORDER BY rank""".stripMargin
  }

  /** Shared oracle prefix of the two panel evals — probe panel, BM25
    * scoring, and the per-probe rank CTEs, ending at `agg` (one text,
    * two rollups: MRR and hit-rate@k replay the identical ranks).
    * A def, not a val: the panel LIMIT interpolates from the live
    * session conf at every dump (see [[mrrScored]]'s knob note). */
  private def sqlMrrRanks: String = {
    val stop = Fns.Stopwords.map("'" + _ + "'").mkString(", ")
    s"""tokd AS (SELECT doc_id, ${Fns.sqlTokens("text")} AS w,
       |           md5(text) AS hk
       |         FROM documents),
       |c AS (SELECT doc_id, w, len(w)::BIGINT AS dl, hk FROM tokd
       |      WHERE len(w) > 0),
       |g AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM c),
       |probes AS (SELECT doc_id AS probe_id FROM c
       |           ORDER BY hk, doc_id LIMIT ${GraftConf.MrrNProbes.oracle}),
       |pt AS (
       |  SELECT probe_id, tok FROM (
       |    SELECT probe_id, tok, row_number() OVER (
       |        PARTITION BY probe_id ORDER BY ptf DESC, tok) AS rk
       |    FROM (SELECT doc_id AS probe_id, tok,
       |            count(*)::BIGINT AS ptf
       |          FROM (SELECT doc_id, unnest(w) AS tok FROM c
       |                WHERE doc_id IN (SELECT probe_id FROM probes))
       |          WHERE tok NOT IN ($stop) GROUP BY 1, 2))
       |  WHERE rk <= 4),
       |tf AS (SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       |       FROM (SELECT doc_id, dl, unnest(w) AS tok FROM c)
       |       WHERE tok IN (SELECT DISTINCT tok FROM pt)
       |       GROUP BY 1, 2, 3),
       |dfr AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id, tok,
       |    ln(1.0 + (n - df + 0.5) / (df + 0.5))
       |      * (tf * ${K1 + 1.0})
       |      / (tf + $K1 * (${1.0 - B} + $B * (dl / avgdl))) AS ts
       |  FROM tf JOIN dfr USING (tok), g),
       |ps AS (SELECT probe_id, doc_id, list(ts ORDER BY tok) AS l
       |       FROM pt JOIN sc USING (tok) GROUP BY 1, 2),
       |sco AS (SELECT probe_id, doc_id,
       |    coalesce(l[1], 0.0) + coalesce(l[2], 0.0)
       |      + coalesce(l[3], 0.0) + coalesce(l[4], 0.0) AS score
       |  FROM ps),
       |own AS (SELECT probe_id, score AS own_score FROM sco
       |        WHERE doc_id = probe_id),
       |agg AS (
       |  SELECT s.probe_id, count(*)::BIGINT AS n_scored,
       |    (1 + sum(CASE WHEN s.score > o.own_score
       |        OR (s.score = o.own_score AND s.doc_id < s.probe_id)
       |        THEN 1 ELSE 0 END))::BIGINT AS own_rank,
       |    round(max(o.own_score), 4) + 0.0 AS own_bm25
       |  FROM sco s JOIN own o USING (probe_id)
       |  GROUP BY s.probe_id)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "retrieval_eval_mrr" ->
      s"""WITH $sqlMrrRanks
         |SELECT probe_id, n_scored, own_rank,
         |  (1000000 // own_rank)::BIGINT AS rr_ppm, own_bm25
         |FROM agg ORDER BY probe_id""".stripMargin,
    "retrieval_eval_recall" ->
      s"""WITH $sqlMrrRanks,
         |ks AS (SELECT unnest([1, 3, 10]) AS k)
         |SELECT k::BIGINT AS k, count(*)::BIGINT AS n_probes,
         |  sum(CASE WHEN own_rank <= k THEN 1 ELSE 0 END)::BIGINT
         |    AS hits,
         |  (sum(CASE WHEN own_rank <= k THEN 1 ELSE 0 END)
         |    * 1000000 // count(*))::BIGINT AS hit_ppm
         |FROM agg CROSS JOIN ks GROUP BY k ORDER BY k""".stripMargin,
    "mmr_diversify" -> sqlMmr,
    "rag_context_pack" ->
      s"""WITH $sqlBm25,
         |top20 AS (
         |  SELECT doc_id, round(score, 4) + 0.0 AS bm25 FROM bm
         |  ORDER BY bm25 DESC, doc_id LIMIT 20),
         |wt AS (
         |  SELECT t.doc_id, t.bm25,
         |    len(${Fns.sqlTokens("d.text")})::BIGINT AS n_tokens
         |  FROM top20 t JOIN documents d ON d.doc_id = t.doc_id),
         |p AS (
         |  SELECT row_number() OVER win AS rank, doc_id, bm25, n_tokens,
         |    sum(n_tokens) OVER win AS cum_tokens
         |  FROM wt WINDOW win AS (ORDER BY bm25 DESC, doc_id))
         |SELECT rank, doc_id, bm25, n_tokens, cum_tokens::BIGINT
         |  AS cum_tokens
         |FROM p WHERE cum_tokens <= 256 ORDER BY rank""".stripMargin,
    "phrase_search" -> sqlPhraseTop,
    "snippet_extract" ->
      s"""WITH $sqlBm25,
         |top5 AS (SELECT doc_id, round(score, 4) + 0.0 AS bm25 FROM bm
         |         ORDER BY bm25 DESC, doc_id LIMIT 5),
         |tw AS (SELECT d.doc_id, bm25, ${Fns.sqlTokens("d.text")} AS w
         |       FROM documents d JOIN top5 USING (doc_id)),
         |fl AS (SELECT doc_id, bm25, w, len(w)::INT AS dl,
         |         unnest(w) AS tok, generate_subscripts(w, 1) - 1 AS pos
         |       FROM tw),
         |fb AS (SELECT doc_id, bm25, w, dl, pos,
         |         CASE WHEN tok IN (${QTerms.map("'" + _ + "'").mkString(", ")})
         |           THEN 1 ELSE 0 END AS f
         |       FROM fl),
         |hs AS (SELECT doc_id, bm25, w, dl, pos AS t,
         |    sum(f) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS hits
         |  FROM fb),
         |pick AS (SELECT doc_id, bm25, w, t, hits,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY hits DESC, t) AS rn
         |  FROM hs WHERE t <= greatest(0, dl - 16))
         |SELECT doc_id, bm25, t::INT AS best_t, hits::INT AS n_hits,
         |  md5(array_to_string(w[(t + 1)::INT : (t + 16)::INT], ' '))
         |    AS snippet_md5
         |FROM pick WHERE rn = 1
         |ORDER BY bm25 DESC, doc_id""".stripMargin,
    "bm25_topk" ->
      s"""WITH $sqlBm25
         |SELECT doc_id, round(score, 4) + 0.0 AS bm25 FROM bm
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    // the from-index twins are BIT-EQUAL to their in-query siblings
    // (same kernel over identical inputs, ApproxSpec-pinned), so the
    // oracle replays the same SQL — the hash gate then checks the
    // whole build → point-read → score loop end to end
    "bm25_from_index" ->
      s"""WITH $sqlBm25
         |SELECT doc_id, round(score, 4) + 0.0 AS bm25 FROM bm
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "bm25_prf" -> {
      val stop = Fns.Stopwords.map("'" + _ + "'").mkString(", ")
      val qt = QTerms.map("'" + _ + "'").mkString(", ")
      s"""WITH $sqlBm25,
         |fb AS (SELECT doc_id FROM bm
         |  ORDER BY round(score, 4) + 0.0 DESC, doc_id LIMIT 5),
         |exp AS (
         |  SELECT tok FROM (
         |    SELECT tok, count(*) AS n
         |    FROM (SELECT unnest(w) AS tok FROM c JOIN fb USING (doc_id))
         |    WHERE tok NOT IN ($stop) AND tok NOT IN ($qt)
         |    GROUP BY tok ORDER BY n DESC, tok LIMIT 3)),
         |tfx AS (SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, dl, unnest(w) AS tok FROM c)
         |  WHERE tok IN ($qt) OR tok IN (SELECT tok FROM exp)
         |  GROUP BY 1, 2, 3),
         |dfx AS (SELECT tok, count(*)::BIGINT AS df FROM tfx GROUP BY 1),
         |scx AS (SELECT doc_id, tok,
         |    ln(1.0 + (n - df + 0.5) / (df + 0.5))
         |      * (tf * ${K1 + 1.0})
         |      / (tf + $K1 * (${1.0 - B} + $B * (dl / avgdl))) AS ts
         |  FROM tfx JOIN dfx USING (tok), g),
         |lst AS (SELECT doc_id, list(ts ORDER BY tok) AS l
         |  FROM scx GROUP BY doc_id),
         |prf AS (SELECT doc_id,
         |  ${(1 to 7).map(i => s"coalesce(l[$i], 0.0)").mkString(" + ")}
         |    AS score FROM lst),
         |b20 AS (SELECT doc_id FROM bm
         |  ORDER BY round(score, 4) + 0.0 DESC, doc_id LIMIT 20)
         |SELECT p.doc_id, round(p.score, 4) + 0.0 AS bm25_prf,
         |  CASE WHEN b20.doc_id IS NULL THEN 0 ELSE 1 END AS in_base_top20
         |FROM prf p LEFT JOIN b20 ON b20.doc_id = p.doc_id
         |ORDER BY bm25_prf DESC, p.doc_id LIMIT 20""".stripMargin
    },
    "phrase_from_index" -> sqlPhraseTop,
    // the delta-refresh compositions are row-identical to a full
    // rebuild (the lexicalIndexDelta contract), so each oracle is its
    // steady-state twin's full-corpus SQL — the hash gate covers the
    // postings/stats merge (bm25) and the grams/gramstats merge
    // (phrase) end to end
    "bm25_delta_refresh" ->
      s"""WITH $sqlBm25
         |SELECT doc_id, round(score, 4) + 0.0 AS bm25 FROM bm
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "phrase_delta_refresh" -> sqlPhraseTop,
    // the append-mode chain must serve the same rows as a merged
    // rebuild (the lexicalIndexAppend contract), so the oracles are
    // the same twin SQL — hash-gating the chain-union read path
    "bm25_append_refresh" ->
      s"""WITH $sqlBm25
         |SELECT doc_id, round(score, 4) + 0.0 AS bm25 FROM bm
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "phrase_append_refresh" -> sqlPhraseTop,
    "rrf_fusion" ->
      s"""WITH $sqlBm25,
         |lex AS (SELECT doc_id, row_number() OVER
         |    (ORDER BY round(score, 4) + 0.0 DESC, doc_id) AS r_lex
         |  FROM bm ORDER BY round(score, 4) + 0.0 DESC, doc_id LIMIT 50),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb
         |      FROM embeddings ORDER BY vec_id LIMIT 1),
         |vsc AS (SELECT vec_id, ${Fns.sqlCosine("embedding", "q_emb")} AS c
         |        FROM embeddings, q),
         |vec AS (SELECT vec_id AS doc_id, row_number() OVER
         |    (ORDER BY c DESC, vec_id) AS r_vec
         |  FROM vsc ORDER BY c DESC, vec_id LIMIT 50)
         |SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         |  coalesce(r_lex, 0) AS r_lex, coalesce(r_vec, 0) AS r_vec,
         |  coalesce(1000000 // (60 + r_lex), 0)
         |    + coalesce(1000000 // (60 + r_vec), 0) AS rrf_e6
         |FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
         |ORDER BY rrf_e6 DESC, doc_id LIMIT 20""".stripMargin,
    "knn_classify" ->
      s"""WITH $sqlKnnPick
         |SELECT probe_id, true_label::BIGINT AS true_label,
         |  pred_label::BIGINT AS pred_label, top_votes
         |FROM pick WHERE vr = 1 ORDER BY probe_id""".stripMargin,
    "text_chunk" ->
      s"""WITH t AS (SELECT doc_id, ${Fns.sqlTokens("text")} AS w
         |           FROM documents),
         |c AS (SELECT doc_id, w, len(w)::BIGINT AS dl FROM t
         |      WHERE len(w) > 0),
         |n AS (SELECT doc_id, w, dl,
         |        greatest(1, ((dl - 64 + 47) // 48) + 1) AS n_chunks
         |      FROM c),
         |ch AS (SELECT doc_id, unnest(generate_series(0, n_chunks - 1))
         |         AS chunk_id, w FROM n)
         |SELECT doc_id, chunk_id,
         |  len(w[(chunk_id * 48 + 1)::INT :
         |        (chunk_id * 48 + 64)::INT])::BIGINT AS n_tokens,
         |  md5(array_to_string(
         |    w[(chunk_id * 48 + 1)::INT : (chunk_id * 48 + 64)::INT], ' '))
         |    AS chunk_md5
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin
  )
}
