package graft

import graft.operators.{Dedup, LogAnalytics, Relational, TextAnalysis}

/** The approx/LSH scale paths must stay close to their exact
  * counterparts on test data — catches a silently broken sketch or a
  * bucketing bug that exactness checks can't see (rows-only keys). */
class ApproxSpec extends SparkSpec {

  test("approx percentiles within 10% of exact") {
    val exact = LogAnalytics.percentiles(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = LogAnalytics.percentilesApprox(spark, sf0001).collect()
    approx.foreach { r =>
      val (p50, p90) = exact(r.getString(0))
      assert(math.abs(r.getDouble(1) - p50) <= 0.1 * p50 + 1.0)
      assert(math.abs(r.getDouble(2) - p90) <= 0.1 * p90 + 1.0)
    }
  }

  test("approx MAD outliers track the exact twin: median/MAD within " +
      "10%, census bounded by the threshold shift") {
    val exact = LogAnalytics.madOutliers(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val approx = LogAnalytics.madOutliersApprox(spark, sf0001).collect()
    assert(approx.length == exact.size, "one row per event type")
    approx.foreach { r =>
      val (med, mad, nOut) = exact(r.getString(0))
      assert(math.abs(r.getDouble(2) - med) <= 0.1 * math.abs(med) + 1.0,
        s"${r.getString(0)}: approx median ${r.getDouble(2)} vs $med")
      assert(math.abs(r.getDouble(3) - mad) <= 0.1 * mad + 1.0,
        s"${r.getString(0)}: approx MAD ${r.getDouble(3)} vs $mad")
      // a shifted threshold can only move the census by the mass near
      // the 3·MAD boundary — on the fixture that is a narrow band
      assert(math.abs(r.getLong(4) - nOut) <= math.max(2L, nOut / 5),
        s"${r.getString(0)}: approx census ${r.getLong(4)} vs $nOut")
    }
  }

  test("approx RFM segments: census conserved, score marginals track " +
      "the exact quintiles") {
    val exact = Relational.rfmSegments(spark, sf0001).collect()
    val approx = Relational.rfmSegmentsApprox(spark, sf0001).collect()
    def total(rs: Array[org.apache.spark.sql.Row]) =
      (rs.map(_.getLong(3)).sum, rs.map(_.getLong(4)).sum)
    // a boundary shift RELABELS customers, never drops one: the census
    // total and the revenue total are conserved exactly
    assert(total(approx) == total(exact),
      s"census totals drifted: ${total(approx)} vs ${total(exact)}")
    // per-measure marginals: a sketch boundary can only move the mass
    // sitting between the exact and approx boundary values — at the
    // default accuracy (10000) that band is a small fraction of the
    // n/5 bucket mass
    val n = exact.map(_.getLong(3)).sum.toDouble
    (0 to 2).foreach { m =>
      val em = exact.groupBy(_.getLong(m))
        .map { case (k, v) => k -> v.map(_.getLong(3)).sum }
      val am = approx.groupBy(_.getLong(m))
        .map { case (k, v) => k -> v.map(_.getLong(3)).sum }
      (1L to 5L).foreach { sc =>
        val e = em.getOrElse(sc, 0L)
        val a = am.getOrElse(sc, 0L)
        assert(math.abs(a - e) <= 0.15 * n / 5 + 2.0,
          s"measure $m score $sc: approx marginal $a vs exact $e")
      }
    }
  }

  test("approx fulfilment latency: counts/max identical, p50/p90 " +
      "within 10% of exact") {
    val exact = Relational.fulfilmentLatency(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    val approx = Relational.fulfilmentLatencyApprox(spark, sf0001).collect()
    assert(approx.length == exact.size, "one row per priority")
    approx.foreach { r =>
      val (nOrd, p50, p90, mx) = exact(r.getString(0))
      // count and max are exact aggregates in BOTH twins
      assert(r.getLong(1) == nOrd && r.getLong(4) == mx,
        s"${r.getString(0)}: exact aggregates drifted")
      assert(math.abs(r.getDouble(2) - p50) <= 0.1 * math.abs(p50) + 1.0,
        s"${r.getString(0)}: approx p50 ${r.getDouble(2)} vs $p50")
      assert(math.abs(r.getDouble(3) - p90) <= 0.1 * math.abs(p90) + 1.0,
        s"${r.getString(0)}: approx p90 ${r.getDouble(3)} vs $p90")
    }
  }

  test("approx table profile: null/min/max identical, NDV within 2% " +
      "per column, deterministic") {
    val exact = Relational.tableProfile(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = Relational.tableProfileApprox(spark, sf0001).collect()
    assert(approx.length == exact.size, "one row per profiled column")
    approx.foreach { r =>
      val e = exact(r.getString(0))
      // null count and typed min/max are exact aggregates in BOTH twins
      assert(r.getLong(1) == e.getLong(1),
        s"${r.getString(0)}: null count drifted")
      assert(r.get(3) == e.get(3) && r.get(4) == e.get(4)
        && r.get(5) == e.get(5) && r.get(6) == e.get(6),
        s"${r.getString(0)}: min/max drifted")
      val nd = e.getLong(2).toDouble
      assert(math.abs(r.getLong(2) - nd) <= 0.02 * nd + 1.0,
        s"${r.getString(0)}: approx NDV ${r.getLong(2)} vs exact $nd")
    }
    // determinism: HLL merge is associative; a rerun must land on the
    // identical estimates regardless of partition order
    val again = Relational.tableProfileApprox(spark, sf0001).collect()
    assert(approx.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("approx table profile RAW-HLL branch (NDV > 3.5m, sf0.1): " +
      "within 2% per column") {
    // sf0.001's NDVs all land in the linear-counting correction; the
    // raw Flajolet estimator branch (E > 3.5·16384 — the implemented
    // switch in approxProfileOf) only exercises at sf0.1 NDVs
    // (l_extendedprice ≈ 583k, l_orderkey ≈ 147k) — pin it in CI, not
    // in a one-off dev check. The fixture guard must clear the SWITCH
    // threshold with margin (round-10 advisor fix: the old 2.5m guard
    // admitted fixtures that only ever exercised the LC branch,
    // silently un-pinning the raw estimator): 1.2× keeps estimator
    // noise from landing a barely-above-switch NDV back in LC.
    val d = sf01
    val exact = Relational.tableProfile(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val approx = Relational.tableProfileApprox(spark, d).collect()
    assert(approx.exists(r => exact(r.getString(0)) > 1.2 * 3.5 * 16384),
      "fixture no longer reaches the raw-estimator regime")
    approx.foreach { r =>
      val nd = exact(r.getString(0)).toDouble
      assert(math.abs(r.getLong(2) - nd) <= 0.02 * nd + 1.0,
        s"${r.getString(0)}: approx NDV ${r.getLong(2)} vs exact $nd")
    }
  }

  test("HLL estimator synthetic NDV sweep through the LC/raw switch " +
      "band: within 2% everywhere") {
    // the linear-counting/raw switch (E ≈ 3.5m, m = 16384) is where a
    // naive HLL is most biased — drive known cardinalities through
    // approxProfileOf directly, densest around the band (the 2.5m
    // switch this replaced measured +1.84% at NDV 41k; the 3.5m
    // switch stays ≤ 0.7% across this sweep)
    import org.apache.spark.sql.functions.{col, lit}
    Seq(10000, 41000, 50000, 57000, 60000, 82000, 150000).foreach { n =>
      val melted = spark.range(n).select(
        lit("ndv").as("col_name"),
        (col("id") * 2654435761L + 123456789L).cast("double").as("vd"),
        lit(null).cast("string").as("vs"))
      val est = Relational.approxProfileOf(melted).collect()(0).getLong(2)
      assert(math.abs(est - n) <= 0.02 * n,
        s"NDV $n estimated as $est (${100.0 * (est - n).abs / n}%)")
    }
  }

  test("approx daily active within 5% of exact") {
    val exact = LogAnalytics.dailyActive(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    LogAnalytics.dailyActiveApprox(spark, sf0001).collect().foreach { r =>
      val e = exact(r.getLong(0)).toDouble
      assert(math.abs(r.getLong(1) - e) <= 0.05 * e + 2.0,
        s"day ${r.getLong(0)}: approx ${r.getLong(1)} vs exact $e")
    }
  }

  test("rolling HLL distinct tracks the exact 7-day twin per day") {
    val exact = LogAnalytics.rollingDistinct(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val est = LogAnalytics.rollingDistinctHll(spark, sf0001).collect()
    assert(est.length == exact.size, "sketch twin must cover every day")
    est.foreach { r =>
      val e = exact(r.getLong(0)).toDouble
      assert(math.abs(r.getLong(1) - e) <= 0.02 * e + 1.0,
        s"day ${r.getLong(0)}: HLL ${r.getLong(1)} vs exact $e")
    }
    // determinism: sketches merge associatively; a second run must
    // land on identical estimates regardless of partition order
    val again = LogAnalytics.rollingDistinctHll(spark, sf0001).collect()
    assert(est.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("mixture upsample repeats under-weight sources within floor/ceil bounds") {
    val rows = TextAnalysis.mixtureUpsample(spark, sf0001).collect()
    rows.foreach { r =>
      val (nb, rate, na, nu) =
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nu <= nb && nu <= na, "distinct docs bounded by both sides")
      assert(na >= (rate / 1000000L) * nb,
        s"${r.getString(0)}: every doc emits at least ⌊rate⌋ copies")
      assert(na <= (rate / 1000000L + 1) * nb,
        s"${r.getString(0)}: no doc emits more than ⌈rate⌉ copies")
    }
    assert(rows.exists(r => r.getLong(3) > 1000000L && r.getLong(4) > r.getLong(1)),
      "testdata should up-sample at least one under-weight source")
  }

  test("semantic dedup prunes only docs with a real cos≥0.45 smaller-id partner") {
    // cell bucketing may SPLIT a true pair (recall < 1, the accepted
    // trade) but must never invent one: every pruned vector needs a
    // genuine cosine partner of smaller id in the exact pair set
    val exact = Dedup.embeddingCosine(spark, sf0001)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prunable = exact.map(_._2)
    val out = Dedup.semantic(spark, sf0001).collect()
    val pruned = out.filter(_.getInt(2) == 1).map(_.getLong(0)).toSet
    assert(pruned.subsetOf(prunable),
      s"semantic pruned non-near-dup vectors: ${pruned -- prunable}")
    // output partitions the corpus: one row per vector
    val n = graft.sources.Tables.embeddings(spark, sf0001).count()
    assert(out.length.toLong === n)
  }

  test("semantic dedup production cell knob keeps the pruning invariant") {
    // graft.semantic.cellSize routes C to ⌈n/target⌉ (the linear-pair
    // production regime); the semantics contract is unchanged: pruned ⊆
    // exact prunable set, output still partitions the corpus, and the
    // cell-count rule itself resolves as documented
    import graft.operators.Dedup
    assert(Dedup.semanticCells(spark, 1000000L) === 256) // oracle cap
    try {
      spark.conf.set("graft.semantic.cellSize", "50")
      assert(Dedup.semanticCells(spark, 1000000L) === 20000) // n/target
      val exact = Dedup.embeddingCosine(spark, sf0001)
        .select("b_id").collect().map(_.getLong(0)).toSet
      val out = Dedup.semantic(spark, sf0001).collect()
      val pruned = out.filter(_.getInt(2) == 1).map(_.getLong(0)).toSet
      assert(pruned.subsetOf(exact),
        s"production-mode semantic pruned non-near-dups: ${pruned -- exact}")
      val n = graft.sources.Tables.embeddings(spark, sf0001).count()
      assert(out.length.toLong === n, "output must partition the corpus")
    } finally spark.conf.unset("graft.semantic.cellSize")
  }

  test("md5 gate mode: approx-profile + IVF mode-equivalence pins " +
      "(gate hashing vs xxhash64 scale default)") {
    import graft.operators.{Relational, Similarity}
    // the round-13 adjudication rule, extended to the round-14 flips:
    // ✅SQL certifies the md5 GATE mode; these pins tie the xxhash64
    // scale default to it on the fixture so the coverage claim cannot
    // silently diverge between modes.
    val defProf = Relational.tableProfileApprox(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    val m5 = withConf(graft.ops.GraftConf.Md5Mode.key -> "true") {
      val m5Prof = Relational.tableProfileApprox(spark, sf0001).collect()
      // IVF under the gate: the mode-tagged artifact must serve the
      // md5-mode build — from-index ≡ in-query in gate mode too
      val inq = Similarity.queries("ann_ivf_topk")(spark, sf0001)
        .collect().map(_.toString).toSeq
      val fi = Similarity.queries("ann_ivf_from_index")(spark, sf0001)
        .collect().map(_.toString).toSeq
      assert(inq === fi, "md5-mode from-index IVF diverged from in-query")
      assert(inq.length === 10)
      m5Prof
    }
    assert(m5.length === defProf.size, "one profile row per column")
    m5.foreach { r =>
      val d = defProf(r.getString(0))
      // exact facts are hash-mode-independent
      assert(r.getLong(1) === d.getLong(1), s"${r.getString(0)} n_null")
      (3 to 6).foreach { i =>
        assert(r.isNullAt(i) === d.isNullAt(i)
            && (r.isNullAt(i) || r.get(i) == d.get(i)),
          s"${r.getString(0)} min/max col $i drifted across hash modes")
      }
      // both NDV estimates target the same exact NDV (±0.8% rsd);
      // allow the two independent hash families 5% + slack between
      // each other
      val (a, b) = (r.getLong(2), d.getLong(2))
      assert(math.abs(a - b) <= math.max(4L, math.max(a, b) / 20),
        s"${r.getString(0)}: md5-mode NDV $a vs xxhash64 NDV $b")
    }
  }

  test("PQ ANN: index shape, bounded quantization error, recall vs exact IP") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import graft.ops.Fns
    import graft.sources.Tables
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Fns.asDouble(col("embedding")).as("emb"))
    val n = e.count()
    val (codes, cb) = Similarity.pqBuild(spark, sf0001)
    // index shape: exactly one code per (vector, subspace), codes are
    // nibbles, codebook is ≤ 8×16 metadata rows
    val k = Similarity.pqK(n)
    assert(codes.count() === n * 8L, "one code per (vec, sub)")
    assert(codes.filter(col("code") < 0 || col("code") >= k).count() === 0L)
    assert(codes.groupBy("vec_id", "sub").count()
      .filter(col("count") > 1).count() === 0L)
    assert(cb.count() <= 8L * 256L, "codebook is metadata-sized")
    // ADC vs exact: the reconstruction ERROR the codebook admits must
    // be bounded — mean |approx_ip − exact_ip| over the top-10 answer
    // small relative to the exact-IP spread of the corpus
    val q = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val exact = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"), Fns.dot(col("emb"), col("q_emb")).as("ip"))
      .orderBy(col("ip").desc, col("vec_id"))
    val exactTop = exact.limit(10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val approxTop = Similarity.annPq(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val recall = approxTop.map(_._1).toSet
      .intersect(exactTop.map(_._1).toSet).size
    info(s"PQ recall@10 vs exact IP: $recall/10")
    val exactIp = exact.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val meanErr = approxTop.map { case (id, aip) =>
      math.abs(aip - exactIp(id)) }.sum / approxTop.length
    val spread = exactIp.values.max - exactIp.values.min
    info(f"PQ mean ADC error on answer set: $meanErr%.3f, corpus IP spread: $spread%.3f")
    // measured on this deterministic corpus: err 0.044, spread 0.704
    // (6%), recall 5/10 — bounds carry headroom for the adversarial
    // input (uniform random directions have no cluster structure for
    // the codebook to exploit; real embedding corpora sit far above)
    assert(meanErr <= 0.15 * spread,
      f"ADC error $meanErr%.3f exceeds 15%% of corpus IP spread $spread%.3f")
    assert(recall >= 4,
      s"PQ recall@10 collapsed: $recall/10 vs exact IP top-10")
  }

  test("IVF-PQ: all-cells probe ≡ plain PQ; pruned probe keeps recall") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import graft.ops.Fns
    import graft.sources.Tables
    // probing EVERY cell makes the IVF stage a no-op filter, so the
    // composition must reduce exactly to ann_pq_topk (same codebooks,
    // same ADC arithmetic) — the equivalence that pins the composition
    // wiring, independent of data-dependent recall
    val all = Similarity.annIvfPqProbe(spark, sf0001, Some(Int.MaxValue))
      .collect().map(_.toString).toSeq
    val pq = Similarity.annPq(spark, sf0001).collect().map(_.toString).toSeq
    assert(all === pq, "IVF-PQ with all cells probed diverged from plain PQ")
    // default probe (nprobe = C/4): recall@10 vs exact IP must survive
    // BOTH approximations (cell pruning × ADC quantization)
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Fns.asDouble(col("embedding")).as("emb"))
    val q = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val exactTop = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"), Fns.dot(col("emb"), col("q_emb")).as("ip"))
      .orderBy(col("ip").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val ivfpq = Similarity.annIvfPq(spark, sf0001).collect()
      .map(_.getLong(0)).toSet
    val recall = ivfpq.intersect(exactTop).size
    info(s"IVF-PQ recall@10 vs exact IP: $recall/10")
    // the two approximations COMPOUND (cell pruning ~0.3 floor × ADC
    // ~0.4 floor on these structure-free uniform vectors — the
    // adversarial case; measured 2/10 here, real clustered corpora sit
    // far above both stages), so the composed floor is the product-ish
    // 2, with the wiring itself pinned exactly by the all-cells
    // equivalence above
    assert(recall >= 2,
      s"IVF-PQ recall@10 collapsed: $recall/10")
  }

  test("PQ re-rank: exact scores on the shortlist, recall recovered") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val rerank = Similarity.annPqRerank(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(rerank.length === 10)
    // re-ranked scores are EXACT cosine — identical values to the
    // brute-force frame for the same ids (the second stage never
    // approximates; only the shortlist membership is approximate)
    val exact = Similarity.annBruteforce(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val exactIds = exact.map(_._1).toSet
    val exactById = exact.toMap
    rerank.foreach { case (id, c) =>
      exactById.get(id).foreach(e => assert(e === c,
        s"re-ranked cosine for $id diverged from brute force")) }
    // recall@10 vs exact cosine: the 100-wide shortlist must recover
    // at least as much as the 10-wide pure-ADC answer does
    val pqIds = Similarity.annPq(spark, sf0001).collect()
      .map(_.getLong(0)).toSet
    val rrRecall = rerank.map(_._1).count(exactIds.contains)
    val pqRecall = pqIds.count(exactIds.contains)
    info(s"re-rank recall@10: $rrRecall/10, plain-PQ(IP) recall: $pqRecall/10")
    assert(rrRecall >= math.max(5, pqRecall),
      s"re-rank recall $rrRecall did not recover over plain PQ $pqRecall")
  }

  test("SQ top-k: exact rerank scores, near-lossless shortlist recall") {
    import graft.operators.Similarity
    val sq = Similarity.annSqTopk(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dot"),
        r.getAs[Double]("cos_sim")))
    assert(sq.length === 10)
    val exact = Similarity.annBruteforce(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val exactById = exact.toMap
    // stage 2 never approximates: re-ranked cosines equal brute force
    sq.foreach { case (id, _, c) =>
      exactById.get(id).foreach(e => assert(e === c,
        s"SQ re-ranked cosine for $id diverged from brute force")) }
    // 8-bit min-max quantization over a 100-wide shortlist should be
    // near-lossless at 10 wanted: pin a high floor (9/10 on fixture)
    val recall = sq.map(_._1).count(exact.map(_._1).toSet.contains)
    info(s"SQ re-rank recall@10: $recall/10")
    assert(recall >= 9, s"SQ shortlist lost too much: $recall/10")
    // integer shortlist scores bounded by the symmetric code range
    sq.foreach { case (_, dot, _) =>
      assert(math.abs(dot) <= 127L * 127L * 64L) }
  }

  test("SQ materialized index: serve equals in-query, plan reads codes") {
    import graft.operators.Similarity
    val inQuery = Similarity.annSqTopk(spark, sf0001).collect()
      .map(_.toString).toSeq
    val df = Similarity.annSqFromIndex(spark, sf0001)
    val served = df.collect().map(_.toString).toSeq
    assert(served === inQuery,
      "from-index SQ serve diverged from the in-query twin")
    // the shortlist side must actually read the code artifact
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains(graft.ops.BuildOnce.scratchPath("sq", sf0001)),
      "plan does not read the materialized SQ code files")
  }

  test("PQ materialized index: probe equals in-query PQ, codes are slim") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val fromIndex = Similarity.annPqFromIndex(spark, sf0001).collect()
    val inQuery = Similarity.annPq(spark, sf0001).collect()
    assert(fromIndex.map(_.toString).toSeq === inQuery.map(_.toString).toSeq,
      "materialized-index PQ probe diverged from the in-query build")
    // the serving path's only per-vector state: (vec_id, sub, code) —
    // never an embedding column on disk
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(sf0001.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val codes = spark.read
      .parquet(graft.ops.Scratch.dir("pq-" + key) + "/codes")
    assert(codes.columns.sorted.toSeq === Seq("code", "sub", "vec_id"),
      "codes table must carry byte codes only, no float vectors")
    // build-once: a second probe reuses the index (same scratch dir,
    // unchanged mtimes) — rebuilds would double every bench pass
    val dir = new java.io.File(graft.ops.Scratch.dir("pq-" + key))
    val before = dir.lastModified()
    Similarity.annPqFromIndex(spark, sf0001).collect()
    assert(dir.lastModified() === before, "PQ index was rebuilt on reuse")
  }

  test("lexical materialized index: serving twins equal in-query, build once") {
    import graft.operators.Retrieval
    // the from-index contract: BIT-equal results (same kernel over
    // identical inputs), not merely same top-k membership
    val bmIdx = Retrieval.bm25FromIndex(spark, sf0001).collect()
    val bmQ = Retrieval.bm25TopK(spark, sf0001).collect()
    assert(bmIdx.map(_.toString).toSeq === bmQ.map(_.toString).toSeq,
      "bm25_from_index diverged from the in-query bm25_topk")
    val phIdx = Retrieval.phraseFromIndex(spark, sf0001).collect()
    val phQ = Retrieval.phraseSearch(spark, sf0001).collect()
    assert(phIdx.map(_.toString).toSeq === phQ.map(_.toString).toSeq,
      "phrase_from_index diverged from the in-query phrase_search")
    // build-once: a second serve reuses the index (unchanged mtime) —
    // rebuilding per call would re-pay the corpus scan serving avoids
    val dir = new java.io.File(
      graft.ops.BuildOnce.scratchPath("lex", sf0001))
    val before = dir.lastModified()
    Retrieval.bm25FromIndex(spark, sf0001).collect()
    assert(dir.lastModified() === before, "lexical index rebuilt on reuse")
  }

  test("registered lexical delta-refresh compositions equal their " +
      "steady-state twins row-for-row") {
    import graft.operators.Retrieval
    // the registered queries pin the WHOLE composition (midpoint old
    // build → lexicalIndexDelta → serve), not just the writer the
    // MaterializeSpec equality covers — a drift in the scratch layout
    // or the serve routing would surface here before the oracle gate
    val bmD = Retrieval.bm25DeltaRefresh(spark, sf0001).collect()
    val bmQ = Retrieval.bm25TopK(spark, sf0001).collect()
    assert(bmD.map(_.toString).toSeq === bmQ.map(_.toString).toSeq,
      "bm25_delta_refresh diverged from the in-query bm25_topk")
    val phD = Retrieval.phraseDeltaRefresh(spark, sf0001).collect()
    val phQ = Retrieval.phraseSearch(spark, sf0001).collect()
    assert(phD.map(_.toString).toSeq === phQ.map(_.toString).toSeq,
      "phrase_delta_refresh diverged from the in-query phrase_search")
    // the append compositions share the scratch/serve-routing surface
    // (Dedup.midpointRefresh + chain serve) and get the same pin
    val bmA = Retrieval.bm25AppendRefresh(spark, sf0001).collect()
    assert(bmA.map(_.toString).toSeq === bmQ.map(_.toString).toSeq,
      "bm25_append_refresh diverged from the in-query bm25_topk")
    val phA = Retrieval.phraseAppendRefresh(spark, sf0001).collect()
    assert(phA.map(_.toString).toSeq === phQ.map(_.toString).toSeq,
      "phrase_append_refresh diverged from the in-query phrase_search")
  }

  test("approx top-k heavy hitters match the exact top users") {
    val exact = LogAnalytics.topUsers(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactAll = graft.sources.Tables.events(spark, sf0001)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = LogAnalytics.topUsersApprox(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(approx.length === math.min(20, exactAll.size))
    // test-SF user counts sit far under maxItemsTracked, so the sketch
    // is in its exact regime: every estimate equals the true count …
    approx.foreach { case (u, est) =>
      assert(est === exactAll(u), s"user $u: est $est != ${exactAll(u)}")
    }
    // … and every user strictly above the exact rank-20 boundary is
    // present (ties AT the boundary may legitimately differ)
    val boundary = exact.values.min
    val returned = approx.map(_._1).toSet
    exactAll.collect { case (u, n) if n > boundary =>
      assert(returned(u), s"heavy hitter $u (n=$n) missed")
    }
  }

  test("minhash-union source jaccard estimates track the exact values") {
    import org.apache.spark.sql.functions._
    // exact per-source shingle sets (sf0.001 is small enough to collect)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val sets = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        posexplode(graft.ops.Fns.tokens(col("text"))).as(Seq("pos", "word")))
      .withColumn("w2", lead("word", 1).over(w))
      .withColumn("w3", lead("word", 2).over(w))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"),
        xxhash64(concat_ws(" ", col("word"), col("w2"), col("w3"))).as("h"))
      .join(docs, "doc_id")
      .select("source", "h").collect()
      .groupBy(_.getString(0))
      .map { case (src, rows) => src -> rows.map(_.getLong(1)).toSet }
    val est = Dedup.sourceMinhash(spark, sf0001).collect()
    assert(est.nonEmpty)
    val devs = est.map { r =>
      val (a, b) = (sets(r.getString(0)), sets(r.getString(1)))
      val exact = (a & b).size.toDouble / (a | b).size
      math.abs(r.getDouble(4) - exact)
    }
    // 128 perms → sigma ~ 0.044; every pair within 4.5 sigma and the
    // mean deviation near the theoretical expectation
    assert(devs.max <= 0.2, s"max deviation ${devs.max}")
    assert(devs.sum / devs.length <= 0.06,
      s"mean deviation ${devs.sum / devs.length}")
  }

  test("tuning curves are semantically coherent: recall monotone " +
      "non-decreasing in probe width / rerank depth, the all-cells " +
      "IVF probe is perfect, candidates widen with nprobe") {
    import graft.operators.Similarity
    // IVF: widening the probe can only ADD candidates, so recall@10
    // and the candidate count are monotone; nprobe = C scans every
    // cell, which IS the brute force — recall must be exactly 10⁶ ppm
    val ivf = Similarity.annIvfTuningCurve(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(ivf.map(_._1).toSeq === ivf.map(_._1).sorted.toSeq)
    assert(ivf.sliding(2).forall {
      case Array((_, c1, r1), (_, c2, r2)) => c1 <= c2 && r1 <= r2
      case _ => true
    }, s"IVF curve not monotone: ${ivf.toSeq}")
    assert(ivf.last._3 === 1000000L,
      s"all-cells probe must have perfect recall: ${ivf.toSeq}")
    // PQ: a deeper shortlist is a superset, so exact rerank over it
    // can only improve recall
    val pq = Similarity.annPqTuningCurve(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(pq.map(_._1).toSeq === Seq(10, 25, 50, 100, 200))
    assert(pq.sliding(2).forall {
      case Array((_, r1), (_, r2)) => r1 <= r2
      case _ => true
    }, s"PQ curve not monotone: ${pq.toSeq}")
    // rerank-at-10 can at best return the ADC top-10 set itself; the
    // curve's floor is ≥ the raw-ADC agreement, its ceiling 10⁶
    assert(pq.forall { case (_, r) => r >= 0L && r <= 1000000L })
  }

  test("IVF ANN: valid scores, deterministic, useful recall vs brute force") {
    import graft.operators.Similarity
    val exact = Similarity.annBruteforce(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf1 = Similarity.annIvf(spark, sf0001).collect()
    val ivf2 = Similarity.annIvf(spark, sf0001).collect()
    assert(ivf1.map(_.toString).toSeq === ivf2.map(_.toString).toSeq,
      "IVF is nondeterministic")
    assert(ivf1.nonEmpty && ivf1.length <= 10)
    // scores descending and every returned score is the true cosine
    // (IVF approximates by pruning cells, never by approximating math)
    val scores = ivf1.map(_.getDouble(2))
    assert(scores.sameElements(scores.sorted.reverse))
    ivf1.foreach { r =>
      exact.get(r.getLong(0)).foreach { ex =>
        assert(math.abs(ex - r.getDouble(2)) < 1e-9)
      }
    }
    val recall = ivf1.count(r => exact.contains(r.getLong(0))) / 10.0
    assert(recall >= 0.3, s"IVF recall collapsed: $recall")
  }

  test("IVF from materialized index: pruned probe equals in-query IVF") {
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.FormattedMode
    val fromIdx = Similarity.annIvfFromIndex(spark, sf0001)
    // the literal cid IN (…) must reach the scan's PartitionFilters:
    // directory-level pruning at file-listing time, so the probe reads
    // only the nprobe cell partitions — the claimed nprobe/C read
    val plan = fromIdx.queryExecution.explainString(FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*cid[^\\]]*\\]".r
      .findFirstIn(plan).isDefined,
      s"cid probe filter not pushed to partitions:\n$plan")
    assert(!plan.contains("PartitionFilters: []"),
      s"empty partition filter — probe scans every cell:\n$plan")
    // the read-path probe returns exactly what the in-query operator
    // returns: same centroids (deterministic build, exact double
    // round-trip through parquet), same driver-vs-native fold for cell
    // ranking, same exact re-rank on the pruned candidates
    val got = fromIdx.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val want = Similarity.annIvf(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got === want, s"read-path probe diverged from in-query IVF")
  }

  test("IVF-PQ from materialized indexes equals the in-query composition") {
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.FormattedMode
    val fromIdx = Similarity.annIvfPqFromIndex(spark, sf0001)
    // cell pruning must reach the IVF index scan's PartitionFilters —
    // the serving probe reads nprobe/C of the id space, then 8 B/vector
    // of codes; no float vector on the corpus side
    val plan = fromIdx.queryExecution.explainString(FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*cid[^\\]]*\\]".r
      .findFirstIn(plan).isDefined,
      s"cid probe filter not pushed to partitions:\n$plan")
    // the pruned index read must be id-ONLY (candidate selection), and
    // the codes read byte-code columns — the corpus-side scans carry
    // no float vectors (the one embedding read left is the 1-row
    // query-vector fetch, which is query metadata)
    assert(plan.contains("ReadSchema: struct<vec_id:bigint>"),
      s"cell-pruned index read is not pruned to ids:\n$plan")
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,sub:int,code:int>"),
      s"codes scan does not read the byte-code layout:\n$plan")
    // deterministic builds both sides → the storage composition must
    // reproduce the in-query ann_ivfpq_topk rows exactly
    val got = fromIdx.collect().map(_.toString).toSeq
    val want = Similarity.annIvfPq(spark, sf0001).collect()
      .map(_.toString).toSeq
    assert(got === want, "from-index IVF-PQ diverged from in-query")
  }

  test("materialized IVF index is built once per corpus and reused") {
    import graft.operators.Similarity
    // the round-4 fix (build once per JVM+corpus) took the benched read
    // path from 3.85 s to 0.60 s; a regression back to rebuild-per-call
    // must fail loudly, not just re-measure slower. The index lives at
    // the md5-keyed scratch path; a second invocation must leave every
    // file byte-for-byte alone (same names, same mtimes).
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(sf0001.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val root = new java.io.File(graft.ops.Scratch.dir("ivf-" + key))
    def stamp(f: java.io.File): Map[String, Long] = {
      def walk(x: java.io.File): Seq[java.io.File] =
        if (x.isDirectory) Option(x.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(x)
      walk(f).map(x => x.getPath -> x.lastModified).toMap
    }
    val r1 = Similarity.annIvfFromIndex(spark, sf0001).collect()
    assert(root.exists, s"index not materialized at $root")
    val before = stamp(root)
    assert(before.nonEmpty)
    val r2 = Similarity.annIvfFromIndex(spark, sf0001).collect()
    assert(stamp(root) === before,
      "second invocation rewrote the materialized index — " +
        "rebuild-per-call regression")
    assert(r1.map(_.toString).toSeq === r2.map(_.toString).toSeq,
      "reused index changed the probe result")
  }

  test("pipeline-stage invariants: packing offsets, repetition counts, decontamination bounds") {
    import graft.operators.TextAnalysis
    // packing: within a shard, doc offsets are the exact prefix sums of
    // token counts in doc_id order, and pack spans are consistent
    val packs = TextAnalysis.packSequences(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    packs.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._1)
      var expect = 0L
      sorted.foreach { case (id, _, n, start, pf, pl) =>
        assert(start === expect, s"doc $id offset $start != $expect")
        assert(pf === start / 2048 && pl === (start + n - 1) / 2048)
        expect += n
      }
    }
    // repetition: per doc, 2-gram occurrences = n_tokens - 1 and the
    // duplicated mass can never exceed them
    graft.operators.TextAnalysis.repetition(spark, sf0001).collect()
      .foreach { r =>
        val (n, n2, dup) = (r.getLong(1), r.getLong(2), r.getLong(3))
        assert(n2 === math.max(0L, n - 1), s"doc ${r.getLong(0)}")
        assert(dup <= n2 && r.getLong(4) <= n)
      }
    // decontamination: benchmark docs never appear; shared count is
    // bounded by the doc's own distinct shingle count (= n_tokens - 4)
    TextAnalysis.decontaminate(spark, sf0001).collect().foreach { r =>
      assert(r.getLong(0) >= 20L)
      assert(r.getLong(1) >= 0L)
      assert(r.getInt(2) === (if (r.getLong(1) > 0) 1 else 0))
    }
  }

  test("curation-stage invariants: PII redaction, mixture weights, stratified sample") {
    import graft.operators.TextAnalysis
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    // PII: every rendered line carries exactly one email/phone/IP by
    // construction, so the counters must read 1/1/1 on every row — a
    // regex that over- or under-matches breaks this before the oracle
    val pii = TextAnalysis.piiRedact(spark, sf0001).collect()
    assert(pii.length.toLong === nDocs)
    pii.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((1L, 1L, 1L)),
        s"doc ${r.getLong(0)}: PII counts ${(r.getLong(1), r.getLong(2), r.getLong(3))}")
    }
    // mixture: doc counts partition the corpus; ppm shares are floored
    // so they sum to at most 1e6 and undershoot by less than one source
    // worth of flooring; every doc has ≥10 tokens (TESTDATA floor)
    val mix = TextAnalysis.corpusMixture(spark, sf0001).collect()
    assert(mix.map(_.getLong(1)).sum === nDocs)
    val ppm = mix.map(_.getLong(3)).sum
    assert(ppm <= 1000000L && ppm > 1000000L - mix.length,
      s"ppm shares sum to $ppm across ${mix.length} sources")
    mix.foreach(r => assert(r.getLong(2) >= 10L * r.getLong(1)))
    // stratified: one row per source even at zero survivors, the target
    // is the smallest stratum, and no source keeps more than it has
    val strat = TextAnalysis.sampleStratified(spark, sf0001).collect()
    assert(strat.length === mix.length)
    val target = strat.head.getLong(2)
    assert(target === strat.map(_.getLong(1)).min)
    strat.foreach { r =>
      assert(r.getLong(2) === target)
      assert(r.getLong(3) <= r.getLong(1),
        s"source ${r.getString(0)} kept ${r.getLong(3)} of ${r.getLong(1)}")
    }
  }

  test("sign-LSH plane count scales with corpus size, conf-overridable") {
    import graft.ops.{Fns, GraftConf}
    def planes(n: Long) = GraftConf.LshPlanes(spark).getOrElse(Fns.lshPlanes(n))
    assert(planes(500L) === 4) // test-SF corpora: clamped floor
    assert(planes(1000000L) === 14) // 1M rows → occupancy stays ~64
    assert(planes(1000000000L) === 24) // clamp ceiling at 1G rows
    withConf(GraftConf.LshPlanes.key -> "7") {
      assert(planes(1000000000L) === 7) // explicit override wins
    }
    // both sign-LSH operators use this same rule
    val lshRecall = {
      val exact = graft.operators.Similarity
        .annBruteforce(spark, sf0001).collect().map(_.getLong(0)).toSet
      val lsh = graft.operators.Similarity
        .annLsh(spark, sf0001).collect().map(_.getLong(0)).toSet
      lsh.count(exact.contains) / 10.0
    }
    assert(lshRecall >= 0.3, s"ANN LSH recall collapsed: $lshRecall")
  }

  test("embedding LSH pairs are a subset of exact cosine pairs") {
    val exact = Dedup.embeddingCosine(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"non-verified pairs: ${lsh -- exact}")
    assert(lsh.nonEmpty, "LSH path found no pairs (recall collapse)")
  }

  test("IVF kNN graph: full coverage, exact similarities, recall vs exact graph") {
    import org.apache.spark.sql.functions._
    import graft.ops.Fns
    import graft.sources.Tables
    val got = graft.operators.Similarity.knnGraphIvf(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Fns.asDouble(col("embedding")).as("emb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    // every vector gets rows, at most 3, ranks contiguous from 1
    val byProbe = got.groupBy(_._1)
    assert(byProbe.keySet === vecs.map(_._1).toSet,
      "graph does not cover every vector")
    byProbe.values.foreach { ns =>
      assert(ns.length <= 3 && ns.map(_._3).sorted.toSeq ===
        (1 to ns.length), s"bad rank structure: ${ns.toSeq}")
    }
    // reported cosines are EXACT (same sequential-fold arithmetic)
    def cosSeq(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1
      }
      dot / math.sqrt(aa * bb)
    }
    val emb = vecs.toMap
    got.foreach { case (p, nb, _, cs) =>
      val exact = BigDecimal(cosSeq(emb(p), emb(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(cs === exact, s"reported cos not exact for ($p,$nb)")
    }
    // recall@3 vs the exact graph (uniform random directions = the
    // adversarial no-cluster case; bound carries headroom)
    val ids = vecs.map(_._1)
    var hit = 0; var tot = 0
    ids.foreach { p =>
      val exactTop = ids.filter(_ != p)
        .map(o => (cosSeq(emb(p), emb(o)), o))
        .sortBy { case (c, o) => (-c, o) }.take(3).map(_._2).toSet
      val gotTop = byProbe(p).map(_._2).toSet
      hit += exactTop.intersect(gotTop).size; tot += 3
    }
    val recall = hit.toDouble / tot
    info(f"IVF kNN-graph recall@3: $recall%.3f")
    assert(recall >= 0.3, f"kNN graph recall collapsed: $recall%.3f")
  }

  test("IVF kNN graph recall is monotone in the nprobe conf") {
    import org.apache.spark.sql.functions._
    import graft.ops.Fns
    import graft.sources.Tables
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Fns.asDouble(col("embedding")).as("emb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cosSeq(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1
      }
      dot / math.sqrt(aa * bb)
    }
    val emb = vecs.toMap
    val ids = vecs.map(_._1)
    val exactTop = ids.map { p =>
      p -> ids.filter(_ != p)
        .map(o => (cosSeq(emb(p), emb(o)), o))
        .sortBy { case (c, o) => (-c, o) }.take(3).map(_._2).toSet
    }.toMap
    def recallAt(nprobe: Int): Double = {
      spark.conf.set("graft.knngraph.nprobe", nprobe.toString)
      try {
        val byProbe = graft.operators.Similarity.knnGraphIvf(spark, sf0001)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
        ids.map(p => exactTop(p)
          .intersect(byProbe.getOrElse(p, Set.empty)).size).sum /
          (3.0 * ids.length)
      } finally spark.conf.unset("graft.knngraph.nprobe")
    }
    val rs = Seq(1, 2, 4, 8).map(np => np -> recallAt(np))
    info(rs.map { case (np, r) => f"nprobe=$np r@3=$r%.3f" }.mkString("  "))
    rs.sliding(2).foreach { case Seq((np1, r1), (np2, r2)) =>
      assert(r2 >= r1,
        f"recall must not drop as probes widen: nprobe=$np1 $r1%.3f -> " +
          f"nprobe=$np2 $r2%.3f")
    }
    assert(rs.last._2 > rs.head._2 + 0.1,
      "widening 1 -> 8 probes should buy material recall on the fixture")
  }

  test("DBSCAN: roles partition the corpus and satisfy density definitions") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    graft.plans.GraftFunctions.register(spark)
    val out = Similarity.clusterDbscan(spark, sf0001).collect()
    val role = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    val cluster = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    // recompute the eps-graph independently (same native cosine path)
    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding")
    val pairs = e.toDF("a_id", "a_emb")
      .join(e.toDF("b_id", "b_emb"), col("a_id") < col("b_id"))
      .filter(call_function(graft.plans.GraftFunctions.CosineName,
        col("a_emb"), col("b_emb")) >= 0.35)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (pairs.map(p => p._1 -> p._2) ++
      pairs.map(p => p._2 -> p._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    out.foreach { r =>
      val (id, rl, cl) = (r.getLong(0), r.getString(1), r.getLong(2))
      val deg = nbrs.get(id).map(_.size).getOrElse(0)
      rl match {
        case "core" =>
          assert(deg >= 2, s"core $id has degree $deg")
          assert(cl >= 0 && cl <= id, s"core label not a component min: $r")
        case "border" =>
          assert(deg < 2, s"border $id is actually core (deg $deg)")
          val coreNbrLabels = nbrs(id).filter(role(_) == "core")
            .map(cluster)
          assert(coreNbrLabels.nonEmpty, s"border $id has no core neighbor")
          assert(cl === coreNbrLabels.min, s"border label not min: $r")
        case "noise" =>
          assert(cl === -1L)
          assert(nbrs.get(id).forall(_.forall(role(_) != "core")),
            s"noise $id touches a core")
        case other => fail(s"unknown role $other")
      }
    }
    // density-connectivity: every core-core edge is intra-cluster
    pairs.foreach { case (a, b) =>
      if (role(a) == "core" && role(b) == "core")
        assert(cluster(a) === cluster(b), s"core edge ($a,$b) split")
    }
    assert(out.map(_.getString(1)).toSet === Set("core", "border", "noise"))
  }
}
