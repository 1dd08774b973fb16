package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, Training}

class TrainingSpec extends SparkSpec {

  test("logreg trainer converges: final-epoch accuracy >= first and >= 70%") {
    val rows = Training.logregQualityTrain(spark, sf0001).collect()
    assert(rows.length === 4)
    val acc = rows.map(r =>
      r.getAs[Long]("epoch") -> r.getAs[Long]("acc_ppm")).toMap
    assert(acc(4L) >= acc(1L),
      s"accuracy fell across training: ${acc.toSeq.sortBy(_._1)}")
    assert(acc(4L) >= 700000L,
      s"final accuracy ${acc(4L)} ppm below the 70% floor")
    // weights actually moved off the zero init
    val last = rows.maxBy(_.getAs[Long]("epoch"))
    val ws = Seq("w0_micro", "w1_micro", "w2_micro", "w3_micro")
      .map(last.getAs[Long])
    assert(ws.exists(_ != 0L), "no weight moved in 4 epochs")
  }

  test("logreg trainer is deterministic (bit-identical re-run)") {
    val a = Training.logregQualityTrain(spark, sf0001).collect().toSeq
    val b = Training.logregQualityTrain(spark, sf0001).collect().toSeq
    assert(a === b)
  }

  test("NB lang model: smoothed log-likelihoods are negative and ranked by count") {
    val rows = Training.nbLangTrain(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("ll_micro") < 0L, "ln of a proper fraction")
      assert(r.getAs[Long]("c") >= 1L)
    }
    // within a lang, a higher count can never score a LOWER
    // log-likelihood (same denominator, monotone numerator)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      rs.sortBy(_.getAs[Long]("c")).toSeq.sliding(2).foreach {
        case Seq(lo, hi) =>
          assert(lo.getAs[Long]("ll_micro") <= hi.getAs[Long]("ll_micro")
            || lo.getAs[Long]("c") === hi.getAs[Long]("c"))
        case _ =>
      }
    }
  }

  test("NB lang classifier beats the majority-class baseline") {
    val rows = Training.nbLangApply(spark, sf0001).collect()
    val n = rows.length
    assert(n > 0)
    val correct = rows.count(_.getAs[Long]("correct") === 1L)
    val majority = rows.groupBy(_.getAs[String]("lang"))
      .values.map(_.size).max
    assert(correct > majority,
      s"NB accuracy $correct/$n does not beat majority class $majority/$n")
    // every doc classified exactly once, prediction from the label set
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length === n)
    val langs = rows.map(_.getAs[String]("lang")).toSet
    rows.foreach(r => assert(langs.contains(r.getAs[String]("pred_lang"))))
  }

  test("BPE merges are hierarchical and counts never increase rank-wise") {
    val rows = Training.bpeMerges(spark, sf0001).collect()
    assert(rows.length === 8)
    val byRank = rows.sortBy(_.getAs[Long]("merge_rank"))
    // merged symbol = left || right, every rank
    byRank.foreach { r =>
      assert(r.getAs[String]("merged") ===
        r.getAs[String]("left_sym") + r.getAs[String]("right_sym"))
      assert(r.getAs[Long]("pair_count") > 0L)
    }
    // the greedy property: each later merge was available earlier only
    // at a count <= the pick of its own round, so counts are
    // non-increasing unless a merge CREATED a better pair (left or
    // right symbol produced by a previous merge). Check the weaker
    // invariant that always holds: rank-1 count is the global max.
    val counts = byRank.map(_.getAs[Long]("pair_count"))
    assert(counts.head === counts.max,
      s"rank-1 merge is not the most frequent pair: $counts")
    // at least one later merge consumes an earlier merged symbol
    // (hierarchy actually formed on this corpus)
    val merged = byRank.map(_.getAs[String]("merged"))
    val consumesEarlier = byRank.zipWithIndex.exists { case (r, i) =>
      val earlier = merged.take(i).toSet
      earlier.contains(r.getAs[String]("left_sym")) ||
        earlier.contains(r.getAs[String]("right_sym"))
    }
    assert(consumesEarlier, s"no hierarchical merge among $merged")
  }

  test("BPE merge application shrinks total symbol count") {
    // total symbols = chars initially; every applied merge reduces the
    // weighted symbol count by its pair_count (each merged occurrence
    // collapses 2 symbols into 1) — the compression BPE exists for.
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val totalChars = docs
      .select(explode(graft.ops.Fns.tokens(col("text"))).as("w"))
      .agg(sum(length(col("w")))).collect()(0).getLong(0)
    val totalMergedAway = Training.bpeMerges(spark, sf0001)
      .agg(sum("pair_count")).collect()(0).getLong(0)
    assert(totalMergedAway > 0L && totalMergedAway < totalChars)
  }

  test("threshold sweep is monotone and anchored at the gate threshold") {
    val rows = Training.qualityThresholdSweep(spark, sf0001).collect()
      .sortBy(_.getAs[Long]("thr_milli"))
    assert(rows.length === 10)
    // raising the threshold never keeps more docs or tokens
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("docs_kept") >= hi.getAs[Long]("docs_kept"))
      assert(lo.getAs[Long]("toks_kept") >= hi.getAs[Long]("toks_kept"))
    }
    // the -700 row is the trainer's label split: docs_kept there equals
    // the positive-label count the trainer sees
    val at700 = rows.find(_.getAs[Long]("thr_milli") === -700L).get
    val pos = graft.operators.TextAnalysis
      .qualityFeatures(graft.sources.Tables.documents(spark, sf0001))
      .filter(col("logit_milli") > -700).count()
    assert(at700.getAs[Long]("docs_kept") === pos)
  }

  test("BPE encode: token counts sit between words and chars, fertility sane") {
    val rows = Training.bpeApply(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, c, b) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("n_bpe_tokens"))
      // each word encodes to >= 1 and <= its character count of symbols
      assert(b >= w, s"doc ${r.get(0)}: fewer BPE tokens than words")
      assert(b <= c, s"doc ${r.get(0)}: merges cannot exceed char count")
      assert(r.getAs[Long]("fertility_milli") === b * 1000 / w)
    }
    // the 8 learned merges must actually compress: corpus-wide BPE
    // tokens strictly below raw character count
    val (tb, tc) = rows.foldLeft((0L, 0L)) { case ((b, c), r) =>
      (b + r.getAs[Long]("n_bpe_tokens"), c + r.getAs[Long]("n_chars"))
    }
    assert(tb < tc, "trained merges produced no compression at all")
  }

  test("index upsert: masses reconcile with the base/batch split") {
    val rows = Similarity.annIndexUpsert(spark, sf0001).collect()
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val nBatch = e.filter(col("vec_id") % 8 === 0).count()
    val nBase = e.filter(col("vec_id") % 8 =!= 0).count()
    assert(rows.map(_.getAs[Long]("n_added")).sum === nBatch,
      "every batch vector must land in exactly one cell")
    assert(rows.map(_.getAs[Long]("n_base")).sum === nBase,
      "every base vector must be indexed in exactly one cell")
    rows.foreach { r =>
      val (b, a) = (r.getAs[Long]("n_base"), r.getAs[Long]("n_added"))
      assert(r.getAs[Long]("growth_ppm") === a * 1000000L / math.max(b, 1L))
    }
  }

  test("build manifest: attrition is monotone and mixture caps hold") {
    val rows = graft.operators.TextAnalysis
      .corpusBuildManifest(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (raw, clean, fin) = (r.getAs[Long]("n_raw"),
        r.getAs[Long]("n_clean"), r.getAs[Long]("n_final"))
      assert(clean <= raw, s"${r.get(0)}: cleaning grew the corpus")
      assert(fin <= clean, s"${r.get(0)}: mixture accept grew the corpus")
      assert(r.getAs[Long]("toks_final") <= r.getAs[Long]("toks_clean"))
      assert(r.getAs[Long]("accept_ppm") <= 1000000L)
    }
    // the pipeline as a whole must actually gate something at sf0.001
    assert(rows.map(_.getAs[Long]("n_final")).sum
      < rows.map(_.getAs[Long]("n_raw")).sum)
  }

  test("curation overlap: cells partition the corpus, shares sum to ~1e6") {
    val rows = graft.operators.TextAnalysis.curationOverlap(spark, sf0001)
      .collect()
    val corpus = graft.sources.Tables.documents(spark, sf0001)
      .filter(col("doc_id") >= 20).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === corpus,
      "census cells must partition the gated corpus exactly")
    val shares = rows.map(_.getAs[Long]("share_ppm")).sum
    // each cell truncates its ppm: total undershoots by < #cells
    assert(shares > 1000000L - rows.length && shares <= 1000000L,
      s"share ppm sum $shares out of range for ${rows.length} cells")
    // flags are strictly 0/1
    rows.foreach { r =>
      Seq("survivor", "kept_quality", "clean").foreach { cn =>
        assert(Set(0, 1).contains(r.getAs[Int](cn)))
      }
    }
  }

  test("PIT feature join is leakage-free: features replay as strictly-prior-day stats") {
    val got = Training.featurePitJoin(spark, sf0001).collect()
    assert(got.nonEmpty, "no purchase examples at sf0.001")
    // brute-force expected features from the raw stream
    val dayUs = 86400L * 1000000L
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr(s"ts_us div $dayUs").as("day"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    got.foreach { r =>
      val (eid, uid, day) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val prior = ev.filter(e => e._2 == uid && e._4 < day)
      assert(r.getLong(3) === prior.length.toLong, s"n_events_prior $eid")
      assert(r.getLong(4) ===
        prior.count(_._3 == "purchase").toLong, s"n_purchases_prior $eid")
      assert(r.getLong(5) === prior.map(_._5).sum, s"value_centi_prior $eid")
      assert(r.getLong(6) ===
        prior.map(_._4).distinct.length.toLong, s"days_active_prior $eid")
    }
    // the structural guarantee: a user's first-day purchases see zeros
    val firstDay = ev.groupBy(_._2).view.mapValues(_.map(_._4).min).toMap
    val firstDayRows = got.filter(r =>
      firstDay(r.getLong(1)) == r.getLong(2))
    assert(firstDayRows.nonEmpty, "no first-day purchase in the fixture")
    firstDayRows.foreach { r =>
      assert((3 to 6).forall(r.getLong(_) == 0L),
        s"first-day features must be all-zero: $r")
    }
  }

  test("waterfilling budget plan: level is maximal and the allocation max-min fair") {
    val rows = graft.operators.TextAnalysis
      .mixtureTokenBudgetPlan(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val t = rows.map(_.getAs[Long]("n_tokens"))
    val alloc = rows.map(_.getAs[Long]("alloc_tokens"))
    val level = rows.map(_.getAs[Long]("level_tokens")).distinct
    assert(level.length === 1, "level must be one corpus-wide value")
    val lv = level(0)
    val budget = t.sum * 60L / 100L
    def spend(l: Long): Long = t.map(math.min(_, l)).sum
    // the closed-form level is the brute-force maximal feasible level
    assert(spend(lv) === alloc.sum, "alloc rows disagree with min(T, L)")
    assert(spend(lv) <= budget, "allocation exceeds the budget")
    assert(spend(lv + 1) > budget,
      "level is not maximal: one more token per capped source still fits")
    // max-min fairness: every uncapped source keeps everything
    rows.foreach { r =>
      if (r.getAs[Int]("capped") === 0)
        assert(r.getAs[Long]("alloc_tokens") === r.getAs[Long]("n_tokens"))
      else assert(r.getAs[Long]("alloc_tokens") === lv)
    }
    // at least one source must actually be capped at sf0.001 (60% cut)
    assert(rows.exists(_.getAs[Int]("capped") === 1),
      "degenerate fixture: budget did not bind")
  }

  test("PIT from the materialized feature store: row-identical, no window recompute") {
    val inQuery = Training.featurePitJoin(spark, sf0001).collect()
    val df = Training.featurePitFromIndex(spark, sf0001)
    val fromIndex = df.collect()
    assert(fromIndex.map(_.toString).toSeq ===
      inQuery.map(_.toString).toSeq,
      "from-index PIT join must be row-identical to the in-query twin")
    // serving contract: the stored snapshot is JOINED, never re-derived
    // — the plan must contain no window (the cumulative sums) at all
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"),
      "from-index plan recomputes the cumulative feature windows")
    assert(plan.contains("featstore"),
      "from-index plan does not read the materialized feature store")
  }

  test("feature store delta refresh ≡ full rebuild; the PIT join " +
      "serves row-identical off the delta artifact") {
    import graft.ops.Materialize
    val ev = Training.pitEvents(spark, sf0001)
    val b = ev.agg(min("day"), max("day")).head()
    val cutDay = (b.getLong(0) + b.getLong(1)) / 2
    val base = java.nio.file.Files
      .createTempDirectory("graft-featdelta").toString
    Materialize.featureStoreOf(spark,
      ev.filter(col("day") <= cutDay), s"$base/old", sf0001)
    Materialize.featureStoreDelta(spark, sf0001,
      s"$base/old", s"$base/new")
    Materialize.featureStore(spark, sf0001, s"$base/full")
    def part(root: String, p: String, keys: Seq[String]): Seq[String] =
      spark.read.parquet(s"$root/$p").orderBy(keys.map(col): _*)
        .collect().map(_.toString).toSeq
    Seq(("snapshots", Seq("user_id", "day")),
        ("totals", Seq("user_id"))).foreach { case (p, keys) =>
      assert(part(s"$base/new", p, keys) === part(s"$base/full", p, keys),
        s"store part '$p' diverged between delta refresh and rebuild")
    }
    assert(graft.ops.ArtifactTag.readProps(spark, s"$base/new") ===
      graft.ops.ArtifactTag.readProps(spark, s"$base/full"),
      "delta store provenance must equal the rebuild's")
    // the fixture must actually exercise the seed path: some user
    // active before AND after the cut (otherwise the merge is a
    // trivial concatenation)
    val straddlers = spark.read.parquet(s"$base/old/totals")
      .select("user_id")
      .join(Training.pitDaily(ev.filter(col("day") > cutDay))
        .select("user_id"), "user_id")
      .count()
    assert(straddlers > 0, "degenerate fixture: no user straddles the cut")
    // serving: the registered from-index twin routes through the
    // delta artifact via graft.features.storePath
    def strs(d: String): Seq[String] =
      SparkEntry.queries("feature_pit_from_index")(spark, d)
        .collect().map(_.toString).toSeq
    val expected = strs(sf0001)
    withConf("graft.features.storePath" -> s"$base/new") {
      assert(strs(sf0001) === expected,
        "feature_pit_from_index diverged off the delta artifact")
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("feature_pit_from_index")(
          spark, "/root/testdata/sf0.01").collect()
      }
      assert(e.getMessage.contains("built for corpus"), e.getMessage)
    }
  }

  test("registered feature_pit_delta_refresh equals feature_pit_join " +
      "row-for-row") {
    // pins the REGISTERED composition (midpoint-day old build →
    // featureStoreDelta → PIT join), not just the writer equality the
    // test above covers — a drift in the scratch layout or the serve
    // routing would surface here before the oracle gate
    val d = Training.featurePitDeltaRefresh(spark, sf0001).collect()
    val q = Training.featurePitJoin(spark, sf0001).collect()
    assert(d.map(_.toString).toSeq === q.map(_.toString).toSeq,
      "feature_pit_delta_refresh diverged from the in-query PIT join")
  }

  test("feature store append generation: chain join ≡ in-query PIT; " +
      "merge over the chain head compacts it") {
    import graft.ops.Materialize
    // registered composition (midpoint-day old store → append
    // generation → chain-union PIT join) ≡ the in-query twin
    val a = Training.featurePitAppendRefresh(spark, sf0001).collect()
    val q = Training.featurePitJoin(spark, sf0001).collect()
    assert(a.map(_.toString).toSeq === q.map(_.toString).toSeq,
      "feature_pit_append_refresh diverged from the in-query PIT join")
    // compaction: featureStoreDelta over the chain head collapses the
    // chain into one merged store whose parts equal a full rebuild's
    val ev = Training.pitEvents(spark, sf0001)
    val b = ev.agg(min("day"), max("day")).head()
    val cutDay = (b.getLong(0) + b.getLong(1)) / 2
    val base = java.nio.file.Files
      .createTempDirectory("graft-featappend").toString
    Materialize.featureStoreOf(spark,
      ev.filter(col("day") <= cutDay), s"$base/old", sf0001)
    Materialize.featureStoreAppend(spark, sf0001,
      s"$base/old", s"$base/gen1")
    assert(graft.ops.ArtifactTag.readProps(spark, s"$base/gen1")
      .get("parent").contains(s"$base/old"),
      "append generation must point at its predecessor")
    Materialize.featureStoreDelta(spark, sf0001,
      s"$base/gen1", s"$base/compacted")
    Materialize.featureStore(spark, sf0001, s"$base/full")
    def part(root: String, p: String, keys: Seq[String]): Seq[String] =
      spark.read.parquet(s"$root/$p").orderBy(keys.map(col): _*)
        .collect().map(_.toString).toSeq
    Seq(("snapshots", Seq("user_id", "day")),
        ("totals", Seq("user_id"))).foreach { case (p, keys) =>
      assert(part(s"$base/compacted", p, keys) ===
        part(s"$base/full", p, keys),
        s"compacted store part '$p' diverged from the rebuild")
    }
    assert(!graft.ops.ArtifactTag.readProps(spark, s"$base/compacted")
      .contains("parent"), "compacted store must end the chain")
    // ADDITIVE provenance (round-12 advisor fix): the append head's
    // sidecar merges parent ⊕ batch without re-hashing stored events,
    // and must be bit-equal to a full rebuild's full-scan facts (the
    // compaction's admission above already replayed the checksum
    // against it; this pins the props themselves)
    locally {
      val gp = graft.ops.ArtifactTag.readProps(spark, s"$base/gen1")
      val fp = graft.ops.ArtifactTag.readProps(spark, s"$base/full")
      Seq("n_events", "events_xor", "max_day").foreach { k =>
        assert(gp.get(k) === fp.get(k),
          s"append-head prop $k (additive) diverged from the full " +
            "rebuild's full-scan value")
      }
    }
    // the generation holds ONLY the batch days (no history rewrite)
    val genDays = spark.read.parquet(s"$base/gen1/snapshots")
      .agg(min("day")).head().getLong(0)
    assert(genDays > cutDay,
      "append generation must contain no pre-cut snapshot rows")
  }

  test("PPS token sampling: inclusion monotone in targetDocs, size sane") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.samplePpsTokens(spark, sf0001).collect()
    // expected size ≈ k = 50 (content-hash Bernoulli, so the realized
    // count is a deterministic fixture property — band, not equality)
    assert(rows.length >= 20 && rows.length <= 150,
      s"realized PPS sample ${rows.length} far from its target 50")
    // the inclusion threshold scales with k, so the k=50 set must be a
    // strict subset of the k=200 set — the property that makes
    // progressive sample widening reproducible (no resample churn)
    val k50 = rows.map(_.getAs[Long]("doc_id")).toSet
    val k200 = withConf("graft.pps.targetDocs" -> "200") {
      TextAnalysis.samplePpsTokens(spark, sf0001).collect()
        .map(_.getAs[Long]("doc_id")).toSet
    }
    assert(k50.subsetOf(k200), "inclusion must be monotone in targetDocs")
    assert(k200.size > k50.size, "degenerate fixture: k=200 added nothing")
  }

  test("temperature mixture plan: flattens the extremes, conserves mass") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.mixtureTemperaturePlan(spark, sf0001).collect()
    assert(rows.length > 1, "degenerate fixture: one source")
    val tempSum = rows.map(_.getAs[Long]("temp_share_ppm")).sum
    assert(tempSum <= 1000000L && tempSum >= 1000000L - rows.length,
      s"temp shares sum $tempSum outside the floor-slack band")
    // sqrt-temperature flattening: the largest raw source must lose
    // share, the smallest must gain (q_max ≤ p_max and q_min ≥ p_min —
    // exact for T=2; the ±1 ppm floor slack is absorbed by the
    // fixture's wide share spread)
    val byShare = rows.sortBy(_.getAs[Long]("share_ppm"))
    assert(byShare.last.getAs[Long]("temp_share_ppm")
        <= byShare.last.getAs[Long]("share_ppm"),
      "largest source did not flatten down")
    assert(byShare.head.getAs[Long]("temp_share_ppm")
        >= byShare.head.getAs[Long]("share_ppm"),
      "smallest source did not flatten up")
    assert(rows.map(_.getAs[Long]("planned_tokens")).sum <= 1000000L,
      "planned allocation exceeds the budget")
  }

  test("feature store delta guards: late-arriving events below the " +
      "cut, provenance-format drift, and missing max_day are refused") {
    import spark.implicits._
    import graft.ops.Materialize
    val dayNs = 86400L * 1000000L * 1000L
    def dirOf(rows: Seq[(Long, Long, String, Long, Double)]): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-featguard").toString
      rows.toDF("event_id", "user_id", "event_type", "ts", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val rows = Seq(
      (0L, 1L, "click", 0L * dayNs, 1.0),
      (1L, 1L, "purchase", 1L * dayNs, 5.0),
      (2L, 2L, "click", 1L * dayNs, 2.0),
      (3L, 1L, "click", 2L * dayNs, 3.0),
      (4L, 2L, "purchase", 3L * dayNs, 7.0))
    val dir = dirOf(rows)
    val base = java.nio.file.Files
      .createTempDirectory("graft-featguardi").toString
    val oldP = s"$base/old"
    Materialize.featureStoreOf(spark,
      Training.pitEvents(spark, dir).filter(col("day") <= 1L), oldP, dir)
    // a LATE event lands on an already-stored day (day 1): its
    // snapshot and every later prior would silently understate
    val dirLate = dirOf(rows :+ (5L, 2L, "click", 1L * dayNs, 9.0))
    graft.ops.ArtifactTag.write(spark, oldP, dirLate)
    val e = intercept[IllegalArgumentException] {
      Materialize.featureStoreDelta(spark, dirLate, oldP, s"$base/n1")
    }
    assert(e.getMessage.contains("checksum"), e.getMessage)
    graft.ops.ArtifactTag.write(spark, oldP, dir)
    val props = graft.ops.ArtifactTag.readProps(spark, oldP)
    graft.ops.ArtifactTag.writeProps(spark, oldP, props - "prov_ver")
    val e2 = intercept[IllegalArgumentException] {
      Materialize.featureStoreDelta(spark, dir, oldP, s"$base/n2")
    }
    assert(e2.getMessage.contains("provenance format"), e2.getMessage)
    graft.ops.ArtifactTag.writeProps(spark, oldP, props - "max_day")
    val e3 = intercept[IllegalArgumentException] {
      Materialize.featureStoreDelta(spark, dir, oldP, s"$base/n3")
    }
    assert(e3.getMessage.contains("max_day"), e3.getMessage)
    graft.ops.ArtifactTag.writeProps(spark, oldP, props)
    // healthy delta ≡ full rebuild on the tiny fixture too
    Materialize.featureStoreDelta(spark, dir, oldP, s"$base/n4")
    Materialize.featureStore(spark, dir, s"$base/full")
    def snap(p: String): Seq[String] =
      spark.read.parquet(s"$p/snapshots").orderBy("user_id", "day")
        .collect().map(_.toString).toSeq
    assert(snap(s"$base/n4") === snap(s"$base/full"))
    val e4 = intercept[IllegalArgumentException] {
      Materialize.featureStoreDelta(spark, dir, oldP, s"$base/n4")
    }
    assert(e4.getMessage.contains("write-once"), e4.getMessage)
    // trust mode (graft.artifact.trustOldContent): a same-count
    // in-place edit of a stored event passes the count guard, but the
    // new sidecar is parent ⊕ batch — it keeps the STORED xor, so the
    // edit is not laundered into fresh provenance and the next
    // checked-mode admission still refuses it
    val dirEdit = dirOf(rows.updated(1, (1L, 1L, "purchase", 1L * dayNs, 6.0)))
    graft.ops.ArtifactTag.write(spark, oldP, dirEdit)
    withConf("graft.artifact.trustOldContent" -> "true") {
      Materialize.featureStoreDelta(spark, dirEdit, oldP, s"$base/n5")
    }
    Materialize.featureStore(spark, dirEdit, s"$base/fullEdit")
    def xorOf(p: String) =
      graft.ops.ArtifactTag.readProps(spark, p).get("events_xor")
    assert(xorOf(s"$base/n5") === xorOf(s"$base/full"),
      "trust-mode delta must record parent ⊕ batch, not the edited events")
    assert(xorOf(s"$base/n5") !== xorOf(s"$base/fullEdit"))
    val e5 = intercept[IllegalArgumentException] {
      Materialize.featureStoreDelta(spark, dirEdit, s"$base/n5", s"$base/n6")
    }
    assert(e5.getMessage.contains("checksum mismatch"), e5.getMessage)
  }

  test("each feature-store refresh writer reads the events in exactly " +
      "two actions: the fused admission/provenance aggregate and the " +
      "one batch checkpoint") {
    import graft.ops.Materialize
    val ev = Training.pitEvents(spark, sf0001)
    val b = ev.agg(min("day"), max("day")).head()
    val base = java.nio.file.Files
      .createTempDirectory("graft-featscans").toString
    Materialize.featureStoreOf(spark,
      ev.filter(col("day") <= (b.getLong(0) + b.getLong(1)) / 2),
      s"$base/old", sf0001)
    val append = tableScans("events.parquet") {
      Materialize.featureStoreAppend(spark, sf0001, s"$base/old",
        s"$base/g1")
    }
    assert(append === 2, s"featureStoreAppend read the events $append times")
    val delta = tableScans("events.parquet") {
      Materialize.featureStoreDelta(spark, sf0001, s"$base/old",
        s"$base/d1")
    }
    assert(delta === 2, s"featureStoreDelta read the events $delta times")
  }
}
