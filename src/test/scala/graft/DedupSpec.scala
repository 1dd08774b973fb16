package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("minhash-LSH pairs are a subset of exact jaccard pairs") {
    val exact = Dedup.ngramJaccard(spark, sf0001)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sf0001)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact),
      s"LSH produced non-verified pairs: ${lsh -- exact}")
    assert(lsh.nonEmpty)
  }

  test("simhash near-dup pairs have small hamming and a_id < b_id") {
    val rows = Dedup.simhash(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
      assert(r.getAs[Int]("hamming") <= 3)
    }
  }

  test("cluster roots are cluster minima and pairs share clusters") {
    val labels = Dedup.clusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.ngramJaccard(spark, sf0001)
      .select("a_id", "b_id").collect()
    pairs.foreach { r =>
      assert(labels(r.getLong(0)) === labels(r.getLong(1)),
        s"pair ${r.getLong(0)},${r.getLong(1)} in different clusters")
    }
    labels.foreach { case (doc, root) => assert(root <= doc) }
    // roots are their own cluster id
    labels.values.toSet.foreach { root: Long =>
      assert(labels(root) === root)
    }
  }

  /** Write a synthetic documents.parquet and return its dir. */
  private def docsDir(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Letters-only id (the tokenizer drops digits): 0→"a", 27→"bb", … */
  private def alpha(i: Int): String = {
    val sb = new StringBuilder
    var n = i
    do { sb.append(('a' + n % 26).toChar); n /= 26 } while (n > 0)
    sb.toString
  }

  /** Exact Jaccard ≥ 0.5 pairs verified over the df-capped index. */
  private def cappedPairs(dir: String): Array[org.apache.spark.sql.Row] = {
    val (cands, sizes) = Dedup.ngramCandidateStage(spark, dir)
    Dedup.jaccardVerify(cands, sizes).collect()
  }

  test("df-cap drops hot shingles from candidates AND sizes") {
    // 6 docs that all share one hot shingle ("hot hot hot") but are
    // otherwise disjoint, plus one genuine near-dup pair (6, 7)
    val hot = "hot hot hot"
    val uniq = (0 until 6).map(i => {
      val s = alpha(i)
      s"$hot ua$s ub$s uc$s ud$s ue$s"
    })
    val nearDup = Seq(
      "alpha beta gamma delta epsilon zeta eta",
      "alpha beta gamma delta epsilon zeta theta")
    val dir = docsDir(uniq ++ nearDup)
    // cap 5 < df 6: the df-capped index (dedup_containment's and
    // dedup_incremental's) drops the hot shingle; the only surviving
    // pair is the near-dup one, with sizes that EXCLUDE capped shingles
    withConf("graft.dedup.maxShingleDf" -> "5") {
      val rows = cappedPairs(dir)
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((6L, 7L)))
      // 7 tokens → 5 shingles each, all df ≤ cap, 4 shared
      assert(rows(0).getAs[Long]("inter") === 4L)
      assert(rows(0).getAs[Long]("na") === 5L)
    }
    // the pair stage (prefix filter): hot-shingle pairs appear iff
    // jaccard ≥ 0.5 — docs 0-5 share 1 of 4+4-1 shingles, so still no
    // pair; the near-dup pair remains, with UNCAPPED sizes
    val rows = Dedup.ngramJaccard(spark, dir).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((6L, 7L)))
    assert(rows(0).getAs[Long]("inter") === 4L)
    assert(rows(0).getAs[Long]("na") === 5L)
  }

  test("prefix-filter jaccard ≡ inverted-index jaccard on real data") {
    // at sf0.001 the df-cap drops nothing, so the pairs verified over
    // the df-capped index (the one dedup_incremental verifies over)
    // must equal the prefix filter's — full-row equality including
    // inter/na/nb
    val exact = cappedPairs(sf0001)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val pfx = Dedup.ngramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(pfx === exact)
    assert(pfx.nonEmpty)
  }

  test("prefix filter keeps the hot-shingle pair the df-cap loses") {
    // docs 0-5: boilerplate B (6 tokens → 4 shingles, df = 8 > cap) +
    // 4 unique tokens each (8 shingles total → J vs anything < 0.5);
    // docs 6, 7: B + 2 unique tokens (6 shingles, 4 shared = all hot)
    // → J(6,7) = 4/8 = 0.5 exactly, carried ONLY by hot shingles
    val b = "alpha beta gamma delta epsilon zeta"
    val long = (0 until 6).map { i =>
      val s = alpha(i)
      s"$b ua$s ub$s uc$s ud$s"
    }
    val short = Seq(s"$b xa ya", s"$b xb yb")
    val dir = docsDir(long ++ short)
    withConf("graft.dedup.maxShingleDf" -> "5") {
      // the capped index drops all four B-shingles → pair (6,7) lost
      val capped = cappedPairs(dir)
      assert(capped.isEmpty, "df-cap should lose the hot-only pair")
      // the pair stage is the prefix filter: each doc indexes its
      // rarest ⌊n/2⌋+1 shingles — the lemma guarantees the (6,7)
      // prefixes collide (inter = 4 ≥ ⌈n/2⌉ = 3) — and the uncapped
      // verify recovers the exact row even with the df-cap conf SET
      // (the cap is inert on the prefix filter)
      val pfx = Dedup.ngramJaccard(spark, dir).collect()
      assert(pfx.map(r => (r.getLong(0), r.getLong(1))).toSeq
        === Seq((6L, 7L)))
      assert(pfx(0).getAs[Long]("inter") === 4L)
      assert(pfx(0).getAs[Long]("na") === 6L)
      assert(pfx(0).getAs[Long]("nb") === 6L)
    }
  }

  test("prefix index is smaller than the full index but complete") {
    // candidate volume: every candidate pair must come from a prefix
    // collision, and the prefix index holds ≤ ⌊n/2⌋+1 rows per doc —
    // strictly less than the full inverted index for any doc with ≥ 2
    // shingles; completeness is the two tests above
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val (arr, cands) = Dedup.jaccardPrefixStage(spark, docs)
    val nAll = arr.agg(sum("n")).collect()(0).getLong(0)
    // re-derive prefix row bound from sizes: Σ (⌊n/2⌋ + 1)
    val bound = arr
      .agg(sum(expr("n div 2 + 1"))).collect()(0).getLong(0)
    assert(bound < nAll, "prefix bound should undercut the full index")
    val verified = Dedup.ngramJaccard(spark, sf0001)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val candSet = cands.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(candSet),
      "every verified pair must be a prefix candidate (completeness)")
  }

  /** The 30-doc chain: doc i = 12 consecutive words of a rolling
    * vocabulary, so consecutive docs share 9/11 shingles (jaccard ≥ 0.5
    * up to distance 3) → one 30-doc component with ~10-hop diameter. */
  private def chainDir(): String = {
    val words = (0 until 45).map(i => "w" + alpha(i))
    docsDir((0 until 30).map(i => words.slice(i, i + 12).mkString(" ")))
  }

  /** [[Dedup.ccLoop]] forced onto its distributed rounds over the
    * corpus's verified pair graph — the round cap only binds there. */
  private def distributedCc(dir: String, maxIters: Int): DataFrame =
    Dedup.ccLoop(graft.sources.Tables.documents(spark, dir).select("doc_id"),
      Dedup.verifiedPairs(spark, dir).select("a_id", "b_id"), maxIters,
      localBound = -1)

  test("CC pointer jumping converges on a 30-doc chain in few rounds") {
    // 6 rounds suffice only because of the label(label) jump (one-hop
    // propagation needs ~diameter rounds)
    val out = distributedCc(chainDir(), 6).collect()
    assert(out.length === 30)
    assert(out.forall(_.getLong(1) === 0L), "all docs in root-0 cluster")
    assert(out.count(r => r.getLong(0) === r.getLong(1)) === 1)
  }

  test("CC fails loudly when the iteration cap is too low") {
    val e = intercept[IllegalStateException] {
      distributedCc(chainDir(), 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("the CC loop launches no job per round: a 2-doc graph and the " +
      "30-doc chain take the same number of jobs") {
    val pair = docsDir(Seq("alpha beta gamma delta epsilon zeta eta",
      "alpha beta gamma delta epsilon zeta theta"))
    val chain = chainDir()
    val listener = Tool.listener(spark)
    try {
      // the corpus and pair stages run first, off the count: how many
      // jobs they take depends on the corpus, not on the loop
      def jobs(dir: String, localBound: Int): Int = {
        val nodes = graft.sources.Tables.documents(spark, dir)
          .select("doc_id").localCheckpoint()
        val pairs = Dedup.verifiedPairs(spark, dir).select("a_id", "b_id")
          .localCheckpoint()
        listener.measure(spark)(
          Dedup.ccLoop(nodes, pairs, 50, localBound).collect())._3.jobs
      }
      val (nPair, nChain) =
        (jobs(pair, Dedup.CcMaxEdges), jobs(chain, Dedup.CcMaxEdges))
      assert(nPair === nChain, s"2 docs: $nPair jobs, 30-doc chain: $nChain")
      // the count does see rounds: the distributed loop needs more of
      // them on the chain
      assert(jobs(chain, -1) > jobs(pair, -1))
    } finally listener.close()
  }

  test("bestSurvivor keeps token-less docs with the default −3000 logit") {
    // doc 0 has NO [a-z] tokens — qualityLogitScore defines no score for
    // it (ratio features divide by n_tokens) — yet it must stay in the
    // partition with the all-features-zero logit, not silently vanish
    val dir = docsDir(Seq(
      "1234 5678 !!!", // 0: token-less singleton
      "alpha beta gamma delta epsilon zeta eta", // 1: near-dup pair …
      "alpha beta gamma delta epsilon zeta theta", // 2: … with 1
      "one two three four five six seven" // 3: scored singleton
    ))
    val rows = Dedup.bestSurvivor(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.keySet === Set(0L, 1L, 3L),
      "survivor partition must cover every cluster, token-less included")
    assert(rows(0L) === ((1L, 0L, -3000L)),
      "token-less singleton survives itself at the default logit")
    assert(rows(1L)._1 === 2L, "near-dup pair forms one 2-member cluster")
  }

  test("incremental dedup flags new-batch docs against corpus + batch") {
    // ids 0-5, cut = (0+5)/2 = 2: corpus = {0,1}, new batch = {2,3,4,5}
    val dir = docsDir(Seq(
      "alpha beta gamma delta epsilon zeta eta", // 0: corpus
      "one two three four five six seven", // 1: corpus
      "alpha beta gamma delta epsilon zeta eta", // 2: exact dup of 0
      "one two three four five six eight", // 3: near dup of 1
      "red orange yellow green blue indigo violet", // 4: novel
      "red orange yellow green blue indigo violet" // 5: exact dup of 4
    ))
    val got = Dedup.incremental(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(got.keySet === Set(2L, 3L, 4L, 5L))
    assert(got(2L) === ((1, 1, 0)), "exact dup of corpus doc")
    assert(got(3L) === ((0, 1, 0)), "near dup of corpus doc")
    assert(got(4L) === ((0, 0, 1)), "novel doc survives")
    assert(got(5L) === ((1, 1, 0)), "exact dup of an EARLIER new doc")
  }

  test("nightly cycle: survivors materialized to disk feed incrementalFrames") {
    import spark.implicits._
    // the production loop: tonight's run writes the survivor corpus via
    // Materialize.survivorCorpus; tomorrow's batch dedups against the
    // ON-DISK corpus. Flags must match dedup against the in-memory
    // survivor frame exactly — storage round-trip (partition directories
    // included) is not allowed to move results.
    val dir = docsDir(Seq(
      "alpha beta gamma delta epsilon zeta eta", // 0: survivor
      "alpha beta gamma delta epsilon zeta eta", // 1: exact dup of 0 — NOT in survivors
      "one two three four five six seven" // 2: survivor
    ))
    val path = graft.ops.Scratch.dir("cycle-survivors")
    graft.ops.Materialize.survivorCorpus(spark, dir, path)
    val fromDisk = spark.read.parquet(path).select("doc_id", "text")
    assert(fromDisk.count() === 2, "exact dup must not survive to disk")
    val fresh = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta"), // exact dup of survivor 0
      (101L, "one two three four five six eight"), // near dup of survivor 2
      (102L, "red orange yellow green blue indigo violet") // novel
    ).toDF("doc_id", "text")
    def flags(corpus: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalFrames(fresh, corpus).collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    val disk = flags(fromDisk)
    val mem = flags(graft.ops.Materialize.survivorFrame(spark, dir)
      .select("doc_id", "text"))
    assert(disk === mem,
      "on-disk survivor corpus flagged differently than in-memory frame")
    assert(disk(100L) === ((1, 1, 0)), "exact dup of persisted survivor")
    assert(disk(101L) === ((0, 1, 0)), "near dup of persisted survivor")
    assert(disk(102L) === ((0, 0, 1)), "novel doc survives the cycle")
  }

  test("nightly cycle with the BEST-SURVIVOR corpus: quality winner persists") {
    import spark.implicits._
    // near-dup pair {0,1}: doc 1 carries the stopword "the" → higher
    // logit (1871 vs 1014 milli) → best-survivor keeps 1 where min-id
    // would keep 0. The persisted corpus must contain the WINNER, and
    // tomorrow's batch must dedup against disk exactly as in-memory.
    val dir = docsDir(Seq(
      "alpha beta gamma delta epsilon zeta eta", // 0: loses on logit
      "alpha beta gamma delta epsilon zeta the", // 1: near-dup of 0, wins
      "one two three four five six seven" // 2: singleton survivor
    ))
    val path = graft.ops.Scratch.dir("cycle-best-survivors")
    graft.ops.Materialize.bestSurvivorCorpus(spark, dir, path)
    val fromDisk = spark.read.parquet(path).select("doc_id", "text")
    assert(fromDisk.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L),
      "cluster {0,1} must persist its higher-logit member 1, not min-id 0")
    val fresh = Seq(
      (100L, "alpha beta gamma delta epsilon zeta the"), // exact dup of kept 1
      (101L, "one two three four five six eight"), // near dup of kept 2
      (102L, "red orange yellow green blue indigo violet") // novel
    ).toDF("doc_id", "text")
    def flags(corpus: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalFrames(fresh, corpus).collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    val disk = flags(fromDisk)
    val mem = flags(graft.ops.Materialize.bestSurvivorFrame(spark, dir)
      .select("doc_id", "text"))
    assert(disk === mem,
      "on-disk best-survivor corpus flagged differently than in-memory")
    assert(disk(100L) === ((1, 1, 0)), "exact dup of the persisted winner")
    assert(disk(101L) === ((0, 1, 0)), "near dup of persisted survivor")
    assert(disk(102L) === ((0, 0, 1)), "novel doc survives the cycle")
  }

  test("incrementalFrames dedupes two separate frames, never old×old") {
    import spark.implicits._
    // corpus: docs 10,11 are near-dups OF EACH OTHER (the old×old pair
    // must cost nothing and appear nowhere), 12 is standalone
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta"),
      (11L, "alpha beta gamma delta epsilon zeta theta"),
      (12L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    // new batch: ids NOT contiguous with the corpus (production ids)
    val fresh = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta"), // exact dup of 10
      (101L, "one two three four five six eight"), // near dup of 12
      (102L, "red orange yellow green blue indigo violet"), // novel
      (103L, "red orange yellow green blue indigo maroon") // near dup of 102
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalFrames(fresh, corpus)
    val got = out.collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(got.keySet === Set(100L, 101L, 102L, 103L),
      "output covers exactly the new batch — old×old rows never surface")
    assert(got(100L) === ((1, 1, 0)), "exact dup of corpus doc")
    assert(got(101L) === ((0, 1, 0)), "near dup of corpus doc")
    assert(got(102L) === ((0, 0, 1)), "novel doc survives")
    assert(got(103L) === ((0, 1, 0)), "near dup of an EARLIER new doc")
    // the candidate join's b-side is restricted to the new batch in the
    // OPTIMIZED plan (the is_new = 1 filter survives optimization), so
    // the inverted-index join can never generate old×old pairs
    val plan = out.queryExecution.optimizedPlan.toString
    assert("is_new#\\d+ = 1".r.findFirstIn(plan).isDefined,
      s"b-side new-batch filter missing from optimized plan:\n$plan")
  }

  test("pagerank and k-core compute an unmaterialized pair frame once") {
    import spark.implicits._
    // an unmaterialized pair frame (the oracle-mode verifiedPairs shape)
    // re-runs its whole subplan for every branch that reads it: the
    // accumulator counts the rows each kernel pulls through it
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    Seq[(String, DataFrame => Any)](
      "pagerank" -> (Dedup.pagerankOf(_, 3).collect()),
      "kcore" -> (Dedup.kcoreWithRounds(_, 30)._1.collect())
    ).foreach { case (name, run) =>
      val rows = spark.sparkContext.longAccumulator
      run(pairs.toDS().map { p => rows.add(1); p }.toDF("a_id", "b_id"))
      assert(rows.value === pairs.size.toLong,
        s"$name computed its pair frame ${rows.value / pairs.size}×")
    }
  }

  test("pagerank iteration knob honored; mass conserved at any depth") {
    import spark.implicits._
    // a 5-node CHAIN (diameter 4) — the under-convergence shape the
    // clique-shaped testdata cannot exhibit (there every component is
    // a symmetric clique whose fixed point is reached in one round,
    // which is why the default 3 rounds suffice for hub RANKING)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a_id", "b_id").localCheckpoint()
    def run(iters: Int): Map[Long, (Long, Long)] =
      Dedup.pagerankOf(chain, iters).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val r3 = run(3)
    val r6 = run(6)
    assert(r3.keySet === r6.keySet
      && r3.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(r3.view.mapValues(_._1).toMap ===
      r6.view.mapValues(_._1).toMap,
      "extra rounds must not change the node/degree structure")
    // rank mass conserved up to integer flooring at any depth (no
    // dangling nodes: every graph node has degree >= 1)
    Seq(r3, r6).foreach { rs =>
      val tot = rs.values.map(_._2).sum
      assert(tot <= 1000000000000L && tot >= 1000000000000L - 500L,
        s"mass not conserved: $tot")
    }
    // on a diameter-4 chain mass is STILL PROPAGATING at round 3 —
    // deeper runs must move scores (the knob is real), and the default
    // query honors the conf (same kernel, spec'd via the wrapper)
    assert(r3.view.mapValues(_._2).toMap !=
      r6.view.mapValues(_._2).toMap,
      "6-round scores identical to 3-round on a chain — knob inert")
    // the conf is plumbed through the driver query: 1 round differs
    // from the default 3 (integer flooring sheds ~1 unit per round
    // even on the clique-converged testdata graph)
    var viaConf: Map[Long, (Long, Long)] = null
    withConf("graft.pagerank.iters" -> "1") {
      viaConf = Dedup.pagerank(spark, sf0001).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val dflt = Dedup.pagerank(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viaConf.keySet === dflt.keySet)
    assert(viaConf !== dflt, "graft.pagerank.iters not honored")
  }

  test("semantic incremental: frozen cells, batch-scoped output, no old×old") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // corpus: 10 ≈ 11 near-identical (old×old — must cost nothing and
    // appear nowhere); 12 distant. batch: 100 ≈ 10 (pruned by an OLD
    // vector), 101 novel direction (survives), 102 ≈ 101 (pruned by an
    // EARLIER NEW vector)
    def v(seed: Int): Seq[Double] =
      (0 until 64).map(j => if (j % 8 == seed % 8) 1.0 else 0.02 * seed)
    val corpus = Seq(
      (10L, v(1)), (11L, v(1).updated(63, 0.03)), (12L, v(5))
    ).toDF("vec_id", "emb")
    val fresh = Seq(
      (100L, v(1).updated(62, 0.04)), (101L, v(3)),
      (102L, v(3).updated(61, 0.05))
    ).toDF("vec_id", "emb")
    val out = Dedup.semanticIncrementalFrames(fresh, corpus)
    val got = out.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got.keySet === Set(100L, 101L, 102L),
      "output covers exactly the new batch")
    assert(got(100L) === 1, "batch vector near an OLD vector is pruned")
    assert(got(101L) === 0, "novel-direction batch vector survives")
    assert(got(102L) === 1, "batch vector near an EARLIER NEW one is pruned")
    // the pair join's b-side is the batch only in the OPTIMIZED plan
    // (the incrementalFrames pin): old×old pairs can never form
    val plan = out.queryExecution.optimizedPlan.toString
    assert("is_new#\\d+ = 1".r.findFirstIn(plan).isDefined,
      s"b-side new-batch filter missing from optimized plan:\n$plan")
  }

  test("bruteforce baseline refuses to run over the row bound") {
    // sf0.001 has 500 embeddings; a bound of 10 must trip the gate …
    withConf("graft.bruteforce.maxRows" -> "10") {
      val e = intercept[IllegalArgumentException] {
        Dedup.embeddingCosine(spark, sf0001)
      }
      assert(e.getMessage.contains("dedup_embedding_lsh"),
        "gate message must point at the scale path")
    }
    // … and the default bound (1e5) lets the oracle baseline run
    assert(Dedup.embeddingCosine(spark, sf0001).collect().nonEmpty)
  }

  test("exact dedup survivors are unique and cover all distinct texts") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val nDistinctTexts = docs.select(countDistinct(md5(col("text"))))
      .collect()(0).getLong(0)
    val survivors = Dedup.exactSurvivors(spark, sf0001).collect()
    assert(survivors.length.toLong === nDistinctTexts)
    assert(survivors.map(_.getLong(0)).distinct.length === survivors.length)
  }

  test("minhash from materialized index equals the in-query twin, reads no text") {
    val inQuery = Dedup.minhashLsh(spark, sf0001).collect()
    val df = Dedup.minhashFromIndex(spark, sf0001)
    val fromIndex = df.collect()
    assert(fromIndex.map(_.toString).toSeq ===
      inQuery.map(_.toString).toSeq,
      "from-index pairs must be row-identical to the in-query LSH")
    // serving contract: the plan touches ONLY the index files — no
    // documents scan, no tokenize/shingle/signature recompute
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "from-index plan re-reads the corpus")
    assert(!plan.contains("minhash_sig"),
      "from-index plan recomputes signatures")
  }

  test("simhash from materialized index equals the in-query twin, reads no text") {
    val inQuery = Dedup.simhash(spark, sf0001).collect()
    val df = Dedup.simhashFromIndex(spark, sf0001)
    val fromIndex = df.collect()
    assert(fromIndex.map(_.toString).toSeq ===
      inQuery.map(_.toString).toSeq,
      "from-index pairs must be row-identical to the in-query simhash")
    // serving contract: the plan touches ONLY the index files — no
    // documents scan, no tokenize/bit-vote recompute
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "from-index plan re-reads the corpus")
    assert(!plan.contains("simhash_sig"),
      "from-index plan recomputes signatures")
    val idx = new java.io.File(
      graft.ops.BuildOnce.scratchPath("simhash", sf0001))
    assert(idx.exists(), "simhash index not materialized")
  }

  test("clusters from materialized labels equal the in-query loop, read only the artifact") {
    val inQuery = Dedup.clusters(spark, sf0001).collect()
    val df = Dedup.clustersFromIndex(spark, sf0001)
    val fromIndex = df.collect()
    assert(fromIndex.map(_.toString).toSeq ===
      inQuery.map(_.toString).toSeq,
      "from-index labels must be row-identical to the CC loop's")
    // serving contract: the plan is one scan of the label artifact —
    // no corpus read, no shingle/candidate recompute, no loop
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "from-index plan re-reads the corpus")
    assert(plan.contains("cclabels"),
      "from-index plan does not read the label artifact")
    // the artifact really was materialized on disk
    val idx = new java.io.File(
      graft.ops.BuildOnce.scratchPath("cclabels", sf0001))
    assert(idx.exists(), "cc label artifact not materialized")
  }

  test("cluster family serving mode (graft.cc.labelsPath): all four " +
      "queries ≡ loop mode, plans free of loop machinery") {
    // oracle mode first (conf unset): the loop results
    val loopMode = Seq("dedup_clusters", "dedup_best_survivor",
      "dedup_soft_weights", "dedup_cluster_size_dist")
      .map(k => k -> Dedup.queries(k)(spark, sf0001).collect()
        .map(_.toString).toSeq).toMap
    // materialize the label artifact (the clustersFromIndex path)
    val path = graft.ops.BuildOnce.scratchPath("cclabels", sf0001)
    graft.ops.BuildOnce.ensure(path, sf0001) {
      graft.ops.Materialize.ccLabels(spark, sf0001, path)
    }
    spark.conf.set("graft.cc.labelsPath", path)
    try loopMode.foreach { case (k, expected) =>
      val df = Dedup.queries(k)(spark, sf0001)
      assert(df.collect().map(_.toString).toSeq === expected,
        s"$k: serving mode drifted from the loop")
      // serving contract: labels come from the artifact scan; the
      // loop's localCheckpoint lineage (ExistingRDD scans) is gone
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("cclabels"),
        s"$k: serving plan does not read the label artifact")
      assert(!plan.contains("ExistingRDD"),
        s"$k: serving plan still carries loop-checkpoint scans")
    } finally spark.conf.unset("graft.cc.labelsPath")
    // the artifact's corpus sidecar refuses a wrong-corpus serve —
    // the two-corpora-one-conf footgun fails loudly, never silently
    spark.conf.set("graft.cc.labelsPath", path)
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.clusterLabels(spark, "/not/the/labelled/corpus").collect()
      }
      assert(e.getMessage.contains("built for corpus"))
    } finally spark.conf.unset("graft.cc.labelsPath")
  }

  test("incremental simhash probes the stored index: ≡ full simhash on new pairs, no old recompute") {
    val cut = Dedup.idCut(graft.sources.Tables.documents(spark, sf0001))
    val full = Dedup.simhash(spark, sf0001)
      .filter(col("b_id") >= cut).collect().map(_.toString).toSeq
    val df = Dedup.simhashIncremental(spark, sf0001)
    val inc = df.collect().map(_.toString).toSeq
    assert(inc === full,
      "incremental simhash != full simhash restricted to new-batch pairs")
    assert(inc.nonEmpty, "degenerate fixture: no pairs touch the batch")
    // serving contract (the minhashIncremental pin style): the pair
    // join reads the persisted old-corpus band index + the
    // checkpointed new bands — never the old text, never an old-side
    // signature recompute
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "final plan re-reads the corpus")
    assert(!plan.contains("simhash_sig"),
      "final plan recomputes signatures")
    val idx = new java.io.File(
      graft.ops.BuildOnce.scratchPath("simhash-old", sf0001))
    assert(new java.io.File(idx, "bands").exists(),
      "old-corpus simhash band index not materialized")
  }

  test("incremental minhash probes the stored index: ≡ full LSH on new pairs, no old recompute") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val b = docs.agg(min("doc_id"), max("doc_id")).head()
    val cut = (b.getLong(0) + b.getLong(1)) / 2
    val full = Dedup.minhashLsh(spark, sf0001)
      .filter(col("b_id") >= cut).collect().map(_.toString).toSeq
    val df = Dedup.minhashIncremental(spark, sf0001)
    val inc = df.collect().map(_.toString).toSeq
    assert(inc === full,
      "incremental minhash != full LSH restricted to new-batch pairs")
    assert(inc.nonEmpty, "degenerate fixture: no pairs touch the batch")
    // serving contract (the minhashFromIndex pin style): the final
    // verify stage reads the persisted index + the checkpointed new
    // arrays — never the corpus text, never a signature recompute
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "final plan re-reads the corpus")
    assert(!plan.contains("minhash_sig"),
      "final plan recomputes signatures")
    // the old-corpus index really was materialized on disk
    val idx = new java.io.File(
      graft.ops.BuildOnce.scratchPath("minhash-old", sf0001))
    assert(new java.io.File(idx, "bands").exists()
        && new java.io.File(idx, "sigs").exists(),
      "old-corpus band index not materialized")
  }

  test("k-core h-index fixpoint equals brute-force peeling, and is deterministic") {
    val got = Dedup.kcore(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = Dedup.kcore(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === again, "k-core result not deterministic across runs")
    // brute-force min-degree peeling on the same verified pair graph
    val pairs = Dedup.ngramJaccard(spark, sf0001)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var adj = pairs.flatMap(p => Seq(p, p.swap))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val brute = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (adj.nonEmpty) {
      val minDeg = adj.values.map(_.size).min.toLong
      k = math.max(k, minDeg)
      val v = adj.filter(_._2.size == minDeg).keys.min
      brute(v) = k
      // keep isolated leftovers: their coreness is the k at isolation
      adj = (adj - v).map { case (u, s) => u -> (s - v) }
    }
    assert(got === brute.toMap, "h-index fixpoint != peeling coreness")
    assert(got.values.max >= 1L, "degenerate graph: no core structure")
  }

  test("md5 oracle hash mode ≡ xxhash64 scale mode: same verified " +
      "sketch pairs on the fixture") {
    // graft.Verify gates the sketch family in md5 hash mode (DuckDB
    // can replay md5; it cannot replay xxhash64); production runs the
    // scale default. This pins that the mode swaps HASHES, not
    // semantics: the verified near-dup pair sets agree on the fixture
    // corpus (minhash verification is exact Jaccard on candidates, so
    // only a recall miss could differ — both families band 128 sigs
    // at j ≥ 0.5 recall ≈ 1−1e-8; simhash sigs differ by mode, so the
    // pin is evidence the planted structure survives either family).
    def pairSet(q: String) = Dedup.queries(q)(spark, sf0001)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mhXx = pairSet("dedup_minhash_lsh")
    val shXx = pairSet("dedup_simhash")
    // exact-duplicate pairs (identical text ⇒ identical tokens ⇒
    // identical signature in EVERY mode ⇒ hamming 0 ⇒ same buckets):
    // the structural floor both simhash modes must recover
    val dupPairs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(col("text")).as("m"),
        size(graft.ops.Fns.tokens(col("text"))).as("nt"))
      .filter(col("nt") > 0) // token-less docs sign nothing
      .collect().map(r => r.getString(1) -> r.getLong(0))
      .groupBy(_._1).values.filter(_.length > 1)
      .flatMap(_.map(_._2).sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet
    withConf(graft.ops.GraftConf.Md5Mode.key -> "true") {
      // MinHash: verification is EXACT Jaccard on candidates, so the
      // two modes can only differ by a banding recall miss
      // (≈ 1e-8 at j ≥ 0.5) — pin full equality on the fixture
      assert(pairSet("dedup_minhash_lsh") === mhXx,
        "minhash verified pair set differs between hash modes")
      // SimHash: the signature ITSELF is mode-dependent (different
      // token hashes → different bit votes), so hamming ≤ 3 boundary
      // pairs may legitimately flip; the pinned invariant is the
      // structural floor — every exact-dup pair is found by BOTH
      // modes (and each mode's pairs all verified hamming ≤ 3 in the
      // suite's own invariant test)
      val shMd5 = pairSet("dedup_simhash")
      assert(dupPairs.subsetOf(shMd5) && dupPairs.subsetOf(shXx),
        "an exact-duplicate pair escaped a simhash mode")
      // and the md5-mode minhash verification facts are the exact
      // gram-set facts the oracle computes from strings: spot-pin
      // inter*3 ≥ na+nb row shape survives the 52-bit hash
      Dedup.queries("dedup_minhash_lsh")(spark, sf0001)
        .collect().foreach { r =>
          assert(r.getLong(2) * 3 >= r.getLong(3) + r.getLong(4))
        }
    }
  }

  test("signature append generation: chain serve ≡ full rebuild; " +
      "compaction collapses the chain; generation holds batch only") {
    import graft.ops.Materialize
    // the registered compositions ≡ their full in-query twins
    assert(Dedup.queries("dedup_minhash_append_refresh")(spark, sf0001)
        .collect().map(_.toString).toSeq ===
      Dedup.minhashLsh(spark, sf0001).collect().map(_.toString).toSeq,
      "minhash append-refresh diverged from the in-query pair set")
    assert(Dedup.queries("dedup_simhash_append_refresh")(spark, sf0001)
        .collect().map(_.toString).toSeq ===
      Dedup.simhash(spark, sf0001).collect().map(_.toString).toSeq,
      "simhash append-refresh diverged from the in-query pair set")
    // explicit chain mechanics on a scratch copy: generation holds
    // ONLY batch docs; compaction = pure columnar collapse whose
    // parts equal a from-scratch full index's, parent pointer gone
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text")
    val cut = Dedup.idCut(docs)
    val base = java.nio.file.Files
      .createTempDirectory("graft-sigappend").toString
    Materialize.minhashIndexOf(spark,
      docs.filter(col("doc_id") < cut), s"$base/g0", sf0001)
    Materialize.minhashIndexAppend(spark, sf0001, s"$base/g0",
      s"$base/g1")
    assert(spark.read.parquet(s"$base/g1/sigs")
        .agg(min("doc_id")).head().getLong(0) >= cut,
      "append generation must contain no pre-cut signature rows")
    // additive provenance ≡ a full writer's full-scan facts
    Materialize.minhashIndexOf(spark, docs, s"$base/full", sf0001)
    val gp = graft.ops.ArtifactTag.readProps(spark, s"$base/g1")
    val fp = graft.ops.ArtifactTag.readProps(spark, s"$base/full")
    Seq("n_docs", "content_xor", "max_doc_id").foreach { k =>
      assert(gp.get(k) === fp.get(k),
        s"append-head prop $k (additive) diverged from full-scan")
    }
    Materialize.sigIndexCompact(spark, sf0001, s"$base/g1",
      s"$base/compacted", Materialize.MinhashParts)
    def sorted(path: String, cols: Seq[String]): Seq[String] =
      spark.read.parquet(path).select(cols.map(col): _*)
        .orderBy(col(cols.head)).collect().map(_.toString).toSeq
        .sorted
    Seq("bands" -> Seq("doc_id", "band", "band_sig"),
        "sigs" -> Seq("doc_id", "n")).foreach { case (part, cols) =>
      assert(sorted(s"$base/compacted/$part", cols) ===
        sorted(s"$base/full/$part", cols),
        s"compacted $part diverged from the full rebuild")
    }
    assert(!graft.ops.ArtifactTag.readProps(spark, s"$base/compacted")
      .contains("parent"), "compacted index must end the chain")
    // simhash side: same chain mechanics through its one-part layout
    Materialize.simhashIndexOf(spark,
      docs.filter(col("doc_id") < cut), s"$base/sh-g0", sf0001)
    Materialize.simhashIndexAppend(spark, sf0001, s"$base/sh-g0",
      s"$base/sh-g1")
    Materialize.simhashIndexOf(spark, docs, s"$base/sh-full", sf0001)
    Materialize.sigIndexCompact(spark, sf0001, s"$base/sh-g1",
      s"$base/sh-compacted", Materialize.SimhashParts)
    assert(sorted(s"$base/sh-compacted/bands",
        Seq("doc_id", "sig", "k", "bh")) ===
      sorted(s"$base/sh-full/bands", Seq("doc_id", "sig", "k", "bh")),
      "compacted simhash bands diverged from the full rebuild")
  }

  test("oracle dump refuses while an incremental sketch query is " +
      "artifact-routed (the false-oracle guard)") {
    // the incremental sketch oracles replay the self-contained
    // midpoint cut; with graft.{minhash,simhash}.oldIndexPath set,
    // the ARTIFACT defines the cut and the dumped SQL would be a
    // false oracle — building the oracle map must refuse loudly
    // rather than emit it (GraftConf's dump-time rule).
    withConf("graft.minhash.oldIndexPath" -> "/tmp/nowhere") {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.oracleSql
      }
      assert(e.getMessage.contains("oldIndexPath"), e.getMessage)
    }
    // and with the confs clear the map builds (sanity)
    assert(SparkEntry.oracleSql.contains("dedup_minhash_incremental"))
  }

  test("k-core oracle unroll depth covers the gate SF's convergence") {
    // the neardup_kcore DuckDB oracle is a STATIC unroll of
    // KcoreOracleRounds h-index rounds: it equals the true fixpoint
    // exactly when the graph converges within the unroll (the
    // sequence is monotone non-increasing). This pins that soundness
    // condition at the SF the driver gate actually runs (sf0.01) — a
    // driver corpus change that needed deeper iteration would fail
    // HERE with the remedy, not as a silent oracle hash mismatch.
    // Parameterized on the gate dir (round-13 advisor low): a driver
    // that gates at another SF exports SPARK_GRAFT_GATE_SF and this
    // pin follows it — the per-SF soundness requirement lives in
    // Verify's scaladoc next to the md5-mode contract.
    val gateSf = sys.env.getOrElse("SPARK_GRAFT_GATE_SF",
      "/root/testdata/sf0.01")
    val (_, rounds) = Dedup.kcoreWithRounds(
      Dedup.ngramJaccard(spark, gateSf).select("a_id", "b_id"), 30)
    assert(rounds <= Dedup.KcoreOracleRounds,
      s"gate-SF k-core took $rounds rounds > oracle unroll " +
        s"${Dedup.KcoreOracleRounds} — raise KcoreOracleRounds")
  }

  test("incremental CC: row-identical to full recompute, loop scoped to the contracted delta") {
    val full = Dedup.clusters(spark, sf0001).collect().map(_.toString).toSeq
    val inc = Dedup.queries("cc_incremental")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(inc === full,
      "incremental maintenance diverged from full recompute")
    // working-set pin: the contracted loop sees new docs + touched
    // super-nodes ONLY — strictly fewer nodes than the corpus, and
    // touched super-nodes are a subset of old component roots
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val cut = Dedup.idCut(docs)
    val pairs = Dedup.ngramJaccard(spark, sf0001).select("a_id", "b_id")
      .localCheckpoint()
    val oldLabels = Dedup.ccLoop(
      docs.filter(col("doc_id") < cut).select("doc_id"),
      pairs.filter(col("b_id") < cut), 50)
    val (touched, cPairs) = Dedup.contractDelta(
      oldLabels, pairs.filter(col("b_id") >= cut), cut)
    val touchedIds = touched.collect().map(_.getLong(0)).toSet
    val oldRoots = oldLabels.collect().map(_.getLong(1)).toSet
    assert(touchedIds.subsetOf(oldRoots),
      "a contracted endpoint is not an old component root")
    val nNew = docs.filter(col("doc_id") >= cut).count()
    val nOld = docs.filter(col("doc_id") < cut).count()
    assert(touchedIds.size < nOld,
      "contraction admitted (nearly) every old doc — no working-set win")
    // contracted pairs never connect two old super-nodes both < cut on
    // both ends unless merged through a new doc — every contracted pair
    // must touch the delta: at least one endpoint is a new doc OR the
    // pair came from a delta edge by construction; check edge count
    // stays <= delta pair count
    val nDelta = pairs.filter(col("b_id") >= cut).count()
    assert(cPairs.count() <= nDelta,
      "contraction grew the edge set")
    assert(nNew > 0 && nDelta > 0, "degenerate fixture: empty delta")
  }

  test("incremental CC from persisted old labels (graft.cc.oldLabelsPath): " +
      "≡ in-query derivation, artifact read in-plan") {
    val expected = Dedup.queries("cc_incremental")(spark, sf0001)
      .collect().map(_.toString).toSeq
    // persist the previous cycle's labels exactly as production does:
    // Materialize.ccLabelsOf over the OLD corpus slice (the same
    // sub-cut split the in-query derivation replays — Dedup.idCut,
    // the one shared rule)
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val cut = Dedup.idCut(docs)
    val path = graft.ops.BuildOnce.scratchPath("cclabels-old", sf0001)
    graft.ops.BuildOnce.ensure(path, sf0001) {
      graft.ops.Materialize.ccLabelsOf(spark,
        docs.filter(col("doc_id") < cut).select("doc_id", "text"), path,
        sf0001)
    }
    spark.conf.set("graft.cc.oldLabelsPath", path)
    try {
      val df = Dedup.queries("cc_incremental")(spark, sf0001)
      assert(df.collect().map(_.toString).toSeq === expected,
        "artifact-backed incremental CC diverged from in-query mode")
      // the old-state side of the plan is the artifact scan, not a
      // re-derived loop
      assert(df.queryExecution.executedPlan.toString.contains("cclabels-old"),
        "old labels did not come from the persisted artifact")
    } finally spark.conf.unset("graft.cc.oldLabelsPath")
  }

  test("incremental CC artifact guard: slice substitution is refused " +
      "at read time") {
    // a dedicated corpus: 8 docs, ids 0-7, midpoint cut = 3 → old
    // slice = {0,1,2} (docsDir texts need ≥ 3 letter tokens to shingle)
    val texts = (0 until 8).map { i =>
      val t = alpha(i); s"alpha$t beta$t gamma$t delta$t epsilon$t"
    }
    val dir = docsDir(texts)
    val docs = graft.sources.Tables.documents(spark, dir)
    val cut = Dedup.idCut(docs)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ccguard").toString + "/labels"
    graft.ops.Materialize.ccLabelsOf(spark,
      docs.filter(col("doc_id") < cut).select("doc_id", "text"),
      path, dir)
    spark.conf.set("graft.cc.oldLabelsPath", path)
    try {
      // sanity: the artifact serves its own corpus
      assert(Dedup.queries("cc_incremental")(spark, dir).count() === 8)
      // slice substitution: same ids, one old doc's text edited
      // in-place — count-equality guards pass, the checksum must not
      val edited = texts.updated(1, "omega psi chi phi upsilon")
      val dir2 = docsDir(edited)
      // rebind the corpus tag so only the CONTENT guard is under test
      graft.ops.ArtifactTag.write(spark, path, dir2)
      val e2 = intercept[IllegalArgumentException] {
        Dedup.queries("cc_incremental")(spark, dir2).collect()
      }
      assert(e2.getMessage.contains("checksum"), e2.getMessage)
      // with graft.artifact.trustOldContent=true the downgraded
      // id-level guard accepts the substitution (disclosed: it cannot
      // see it)
      withConf("graft.artifact.trustOldContent" -> "true") {
        assert(Dedup.queries("cc_incremental")(spark, dir2).count() === 8)
      }
    } finally spark.conf.unset("graft.cc.oldLabelsPath")
  }

  test("pair-graph artifact (graft.dedup.pairsPath): all ten pair " +
      "consumers ≡ in-query mode, serving reads the artifact") {
    val consumers = Seq("neardup_degree_dist", "neardup_pagerank",
      "neardup_triangles", "neardup_kcore", "neardup_quality_delta",
      "dedup_cross_source_rate",
      // beyond the six graph metrics: the inter/na/nb reader, the
      // funnel's drop set, the CC loop, and cc_incremental's
      // midpoint branch all route through the same source
      "minhash_tuning_curve", "curation_funnel", "dedup_clusters",
      "cc_incremental")
    val expected = consumers.map { q =>
      q -> SparkEntry.queries(q)(spark, sf0001)
        .collect().map(_.toString).toSeq
    }.toMap
    val path = graft.ops.BuildOnce.scratchPath("pairs", sf0001)
    graft.ops.BuildOnce.ensure(path, sf0001) {
      graft.ops.Materialize.pairGraph(spark, sf0001, path)
    }
    withConf("graft.dedup.pairsPath" -> path) {
      consumers.foreach { q =>
        val df = SparkEntry.queries(q)(spark, sf0001)
        assert(df.collect().map(_.toString).toSeq === expected(q),
          s"$q: artifact-served pairs diverged from in-query mode")
      }
      // the serving-mode pair source is ONE parquet scan of the
      // artifact — no documents scan, no shingle/candidate machinery
      // (consumers with their own doc-side joins — degree spine,
      // source dims, quality scores — still read documents, but the
      // PAIR subplan must not)
      val plan = Dedup.verifiedPairs(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(plan.contains("pairs-"),
        "serving mode did not read the pair artifact")
      assert(!plan.contains("documents.parquet"),
        "serving-mode pair source still scans the corpus")
      // a consumer without private checkpointing shows the artifact
      // scan in its own executed plan
      val qd = Dedup.queries("neardup_quality_delta")(spark, sf0001)
      assert(qd.queryExecution.executedPlan.toString.contains("pairs-"),
        "quality_delta did not serve pairs from the artifact")
    }
    // the REGISTERED from-index twin (conf-independent, scratch-built
    // via BuildOnce): row-identical to the in-query stage — the same
    // equality the DuckDB oracle hash-gates — and its plan reads only
    // pair files, never the corpus
    val pfi = Dedup.queries("dedup_pairs_from_index")(spark, sf0001)
    assert(pfi.collect().map(_.toString).toSeq ===
      Dedup.ngramJaccard(spark, sf0001).collect().map(_.toString).toSeq,
      "pairs_from_index diverged from the in-query pair stage")
    val pPlan = pfi.queryExecution.executedPlan.toString
    assert(pPlan.contains("pairs-") && !pPlan.contains("documents.parquet"),
      "pairs_from_index plan should read only the pair artifact")
  }

  test("pair-graph artifact guards: a wrong corpus is refused at read " +
      "time") {
    val dir = docsDir(Seq(
      "alpha beta gamma delta epsilon zeta eta",
      "alpha beta gamma delta epsilon zeta theta",
      "iota kappa lambda mu nu xi omicron"))
    val path = java.nio.file.Files
      .createTempDirectory("graft-pairguard").toString + "/pairs"
    graft.ops.Materialize.pairGraph(spark, dir, path)
    withConf("graft.dedup.pairsPath" -> path) {
      // sanity: the artifact serves its own corpus
      assert(Dedup.queries("neardup_triangles")(spark, dir).count() === 1)
      // wrong corpus: the sidecar tag names `dir`, not sf0001
      val e = intercept[IllegalArgumentException] {
        Dedup.queries("neardup_degree_dist")(spark, sf0001).collect()
      }
      assert(e.getMessage.contains("built for corpus"), e.getMessage)
    }
    // write-once: reusing the pair path throws
    val e3 = intercept[IllegalArgumentException] {
      graft.ops.Materialize.pairGraph(spark, dir, path)
    }
    assert(e3.getMessage.contains("write-once"), e3.getMessage)
  }

  test("pair-stage stamp: another stage's or no stamp is refused by " +
      "all three readers") {
    val texts = (0 until 8).map { i =>
      val t = alpha(i); s"alpha$t beta$t gamma$t delta$t epsilon$t"
    }
    val dir = docsDir(texts)
    val docs = graft.sources.Tables.documents(spark, dir)
    val old = docs.filter(col("doc_id") < Dedup.idCut(docs))
      .select("doc_id", "text")
    val base = java.nio.file.Files
      .createTempDirectory("graft-pairstage").toString
    graft.ops.Materialize.pairGraphOf(spark, old, s"$base/pairs", dir)
    graft.ops.Materialize.ccLabelsOf(spark, old, s"$base/labels", dir)
    var refreshes = 0
    // (reader, the artifact it reads, one read)
    val readers: Seq[(String, String, () => Unit)] = Seq(
      ("verifiedPairs", s"$base/pairs", () =>
        withConf("graft.dedup.pairsPath" -> s"$base/pairs") {
          Dedup.queries("neardup_degree_dist")(spark, dir).collect()
        }),
      ("cc_incremental", s"$base/labels", () =>
        withConf("graft.cc.oldLabelsPath" -> s"$base/labels") {
          Dedup.queries("cc_incremental")(spark, dir).collect()
        }),
      ("pairGraphDelta", s"$base/pairs", () => {
        refreshes += 1
        graft.ops.Materialize.pairGraphDelta(spark, dir, s"$base/pairs",
          s"$base/new$refreshes")
      }))
    readers.foreach { case (reader, path, read) =>
      val props = graft.ops.ArtifactTag.readProps(spark, path)
      assert(props.get("pair_stage").contains("prefix"), reader)
      read() // the writers' own stamp is admitted
      Seq(props + ("pair_stage" -> "dfcap"), props - "pair_stage")
        .foreach { stamped =>
          graft.ops.ArtifactTag.writeProps(spark, path, stamped)
          val e = intercept[IllegalArgumentException](read())
          assert(e.getMessage.contains("pair stage"),
            s"$reader: ${e.getMessage}")
        }
      graft.ops.ArtifactTag.writeProps(spark, path, props)
    }
  }

  test("signature incremental artifact-boundary mode: the index " +
      "defines the cut, output ≡ full run filtered to new-touching") {
    // docs 0,1,2 identical; 4,5 identical; rest unique — so the pair
    // (1,2) STRADDLES an artifact boundary at 2 but not the midpoint
    // boundary at 3: the two modes must visibly disagree, proving the
    // cut comes from the index, not the table's id range
    val same = "alpha beta gamma delta epsilon"
    val dup2 = "lambda mu nu xi omicron"
    val texts = Seq(same, same, same, "zeta eta theta iota kappa",
      dup2, dup2, "pi rho sigma tau upsilon", "phi chi psi omega alef")
    val dir = docsDir(texts)
    val docs = graft.sources.Tables.documents(spark, dir)
    val simPath = java.nio.file.Files
      .createTempDirectory("graft-sigold").toString + "/simhash"
    val mhPath = java.nio.file.Files
      .createTempDirectory("graft-sigold").toString + "/minhash"
    val old = docs.filter(col("doc_id") < 2).select("doc_id", "text")
    graft.ops.Materialize.simhashIndexOf(spark, old, simPath, dir)
    graft.ops.Materialize.minhashIndexOf(spark, old, mhPath, dir)
    def strs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    // midpoint mode first (conf unset): cut = (0+7)/2 = 3 → only
    // pairs with b_id >= 3 survive
    val mid = strs(Dedup.queries("dedup_simhash_incremental")(spark, dir))
    withConf("graft.simhash.oldIndexPath" -> simPath,
        "graft.minhash.oldIndexPath" -> mhPath) {
      val art = strs(Dedup.queries("dedup_simhash_incremental")(spark, dir))
      assert(art === strs(
        Dedup.simhash(spark, dir).filter(col("b_id") >= 2)),
        "artifact-boundary simhash ≠ full run filtered at the " +
          "index-defined cut")
      assert(art !== mid,
        "fixture failed to distinguish the artifact boundary (2) " +
          "from the midpoint (3)")
      assert(strs(Dedup.queries("dedup_minhash_incremental")(spark, dir))
        === strs(Dedup.minhashLsh(spark, dir).filter(col("b_id") >= 2)),
        "artifact-boundary minhash ≠ full run filtered at the " +
          "index-defined cut")
    }
  }

  test("signature incremental accepts a CHAIN head: the append " +
      "generation's cumulative provenance defines the cut") {
    // three-corpus growth story (the lexical-chain fixture shape):
    // g0 signs {0,1}, an append generation covers {2}, then the
    // corpus grows to {0..4} with docs 3,4 near-dupping 0,2 — the
    // incremental probe must read BOTH generations (a doc-2 signature
    // lives only in g1) and cut at the chain head's cumulative
    // max_doc_id + 1 = 3
    val same = "alpha beta gamma delta epsilon"
    val dup2 = "lambda mu nu xi omicron"
    val d01 = Seq(same, "zeta eta theta iota kappa")
    val d2 = d01 :+ dup2
    val d3 = d2 ++ Seq(same, dup2)
    val (dirA, dirB, dirC) = (docsDir(d01), docsDir(d2), docsDir(d3))
    val base = java.nio.file.Files
      .createTempDirectory("graft-sigchain").toString
    graft.ops.Materialize.minhashIndexOf(spark,
      graft.sources.Tables.documents(spark, dirA)
        .select("doc_id", "text"), s"$base/g0", dirA)
    // generations are corpus-tag-bound; fixture dirs cannot grow in
    // place, so the tag moves with the corpus (the lexchain rule)
    graft.ops.ArtifactTag.write(spark, s"$base/g0", dirB)
    graft.ops.Materialize.minhashIndexAppend(spark, dirB,
      s"$base/g0", s"$base/g1")
    graft.ops.ArtifactTag.write(spark, s"$base/g0", dirC)
    graft.ops.ArtifactTag.write(spark, s"$base/g1", dirC)
    withConf("graft.minhash.oldIndexPath" -> s"$base/g1") {
      val art = Dedup.queries("dedup_minhash_incremental")(spark, dirC)
        .collect().map(_.toString).toSeq
      val full = Dedup.minhashLsh(spark, dirC)
        .filter(col("b_id") >= 3).collect().map(_.toString).toSeq
      assert(art === full,
        "chain-head incremental ≠ full run filtered at the chain cut")
      assert(art.nonEmpty, "fixture must plant cross-cut near-dups")
      // both pairs require a generation each: (0,3) needs g0's sig,
      // (2,4) needs g1's — losing either chain element would drop one
      assert(art.size >= 2, "a generation's signatures went unread")
    }
  }

  test("signature incremental artifact guards: wrong corpus, edited " +
      "old slice, and missing provenance are refused") {
    val texts = Seq("alpha beta gamma delta epsilon",
      "alpha beta gamma delta zeta", "eta theta iota kappa lambda",
      "mu nu xi omicron pi")
    val dir = docsDir(texts)
    val docs = graft.sources.Tables.documents(spark, dir)
    val path = java.nio.file.Files
      .createTempDirectory("graft-sigguard").toString + "/simhash"
    graft.ops.Materialize.simhashIndexOf(spark,
      docs.filter(col("doc_id") < 2).select("doc_id", "text"), path, dir)
    withConf("graft.simhash.oldIndexPath" -> path) {
      // sanity: serves its own corpus
      assert(Dedup.queries("dedup_simhash_incremental")(spark, dir)
        .count() >= 0)
      // wrong corpus: the sidecar tag names `dir`
      val e = intercept[IllegalArgumentException] {
        Dedup.queries("dedup_simhash_incremental")(spark, sf0001)
          .collect()
      }
      assert(e.getMessage.contains("built for corpus"), e.getMessage)
      // in-place edit of an already-indexed doc: rebind the tag so
      // only the CONTENT guard is under test (the cc-guard pattern)
      val dir2 = docsDir(texts.updated(1, "omega psi chi phi upsilon"))
      graft.ops.ArtifactTag.write(spark, path, dir2)
      val e2 = intercept[IllegalArgumentException] {
        Dedup.queries("dedup_simhash_incremental")(spark, dir2).collect()
      }
      assert(e2.getMessage.contains("checksum"), e2.getMessage)
    }
    // an index with no provenance (or an empty slice: the writer
    // records no max_doc_id) has no incremental mode
    val empty = java.nio.file.Files
      .createTempDirectory("graft-sigguard").toString + "/empty"
    graft.ops.Materialize.simhashIndexOf(spark,
      docs.filter(col("doc_id") < 0).select("doc_id", "text"), empty, dir)
    withConf("graft.minhash.oldIndexPath" -> empty) {
      val e3 = intercept[IllegalArgumentException] {
        Dedup.queries("dedup_minhash_incremental")(spark, dir).collect()
      }
      assert(e3.getMessage.contains("max_doc_id"), e3.getMessage)
    }
  }

  test("slice checksum mixes doc_id even for null-text docs") {
    // round-10 advisor fix: the old concat-based hash was NULL for a
    // null-text doc (concat propagates null), so xxhash64 degenerated
    // to the constant seed and doc_id never mixed in — id substitution
    // confined to null-text docs passed the content guard. The
    // separate-args form must flip the xor on exactly that edit.
    import spark.implicits._
    val base = Seq((1L, Option("x")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val idSwap = Seq((1L, Option("x")), (99L, Option.empty[String]))
      .toDF("doc_id", "text")
    val emptyText = Seq((1L, Option("x")), (2L, Option("")))
      .toDF("doc_id", "text")
    val (nB, xB) = graft.ops.Materialize.ccSliceChecksum(base)
    val (nS, xS) = graft.ops.Materialize.ccSliceChecksum(idSwap)
    assert(nB === nS, "counts must agree — only the xor can refuse this")
    assert(xB !== xS,
      "doc_id substitution on a null-text doc went undetected")
    // the null sentinel keeps a null text distinct from an empty one
    assert(xB !== graft.ops.Materialize.ccSliceChecksum(emptyText)._2,
      "null text collided with empty text")
  }

  test("write-once artifacts: reusing a label path throws") {
    val dir = docsDir(Seq("alpha beta gamma delta",
      "epsilon zeta eta theta"))
    val path = java.nio.file.Files
      .createTempDirectory("graft-once").toString + "/labels"
    graft.ops.Materialize.ccLabelsOf(spark,
      graft.sources.Tables.documents(spark, dir)
        .select("doc_id", "text"), path, dir)
    val e = intercept[IllegalArgumentException] {
      graft.ops.Materialize.ccLabelsOf(spark,
        graft.sources.Tables.documents(spark, dir)
          .select("doc_id", "text"), path, dir)
    }
    assert(e.getMessage.contains("write-once"), e.getMessage)
  }

  test("embedding threshold sweep is monotone and anchored at the 0.45 gate") {
    val rows = Dedup.embeddingThresholdSweep(spark, sf0001).collect()
    assert(rows.length === 9, "expected the 9-threshold spine")
    val byThr = rows.map(r =>
      (r.getLong(0), (r.getLong(1), r.getLong(2)))).sortBy(_._1)
    // counts are non-increasing in the threshold
    byThr.sliding(2).foreach { case Array((t1, (p1, f1)), (t2, (p2, f2))) =>
      assert(p1 >= p2 && f1 >= f2, s"sweep not monotone at $t1 -> $t2")
    }
    // the 450-permil row replays the committed gate exactly
    val n45 = Dedup.embeddingCosine(spark, sf0001).count()
    assert(byThr.toMap.apply(450L)._1 === n45,
      "sweep row at 450 permil != dedup_embedding_bruteforce pair count")
  }

  test("compaction plan: two-level prefix equals the naive global prefix") {
    import org.apache.spark.sql.expressions.Window
    val twoLevel = Dedup.compactionPlan(spark, sf0001).collect()
    // reference semantics: ONE window over the whole partition — the
    // form that does not scale but is trivially correct
    val target = 8192L
    val naive = graft.ops.Materialize.survivorFrame(spark, sf0001)
      .withColumn("prior", coalesce(sum("n_chars").over(
        Window.partitionBy("split", "lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("file_idx", expr(s"prior div $target"))
      .groupBy("split", "lang", "file_idx")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("file_chars"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
      .orderBy("split", "lang", "file_idx")
      .collect()
    assert(twoLevel.map(_.toString).toSeq === naive.map(_.toString).toSeq,
      "bucketed prefix-sum decomposition diverged from the global prefix")
    // every planned file except a partition's last must come within
    // one max-doc of the target (a doc can spill past a boundary but
    // never leave the file shorter than target - max_doc_chars)
    val maxDoc = graft.ops.Materialize.survivorFrame(spark, sf0001)
      .agg(max("n_chars")).collect()(0).getLong(0)
    val byPart = twoLevel.groupBy(r => (r.getString(0), r.getString(1)))
    byPart.values.foreach { files =>
      files.sortBy(_.getLong(2)).dropRight(1).foreach { r =>
        assert(r.getLong(4) > target - maxDoc,
          s"non-final planned file far below target: $r")
      }
    }
  }

  test("substring runs: planted shared paragraph yields one exact run") {
    // 12 shared tokens embedded at different offsets in two docs whose
    // surrounding tokens are globally unique; a third doc is all-unique
    val shared = (0 until 12).map(i => s"sh${alpha(i)}").mkString(" ")
    val dir = docsDir(Seq(
      s"pa pb pc pd pe $shared qa qb qc qd qe", // 5 + 12 + 5 = 22 tokens
      s"ra rb rc $shared sa sb",                // 3 + 12 + 2 = 17 tokens
      "ta tb tc td te tf tg th ti tj tk tl"))   // 12 unique tokens
    val rows = Dedup.substringRuns(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L)) // doc 2 absent
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    // the merged interval is exactly the 12 shared tokens: 5 dup span
    // starts (12 − 8 + 1) coalesce into ONE run of 12 covered tokens
    assert(byId(0L).getAs[Long]("n_runs") === 1L)
    assert(byId(0L).getAs[Long]("dup_tokens") === 12L)
    assert(byId(0L).getAs[Long]("max_run_tokens") === 12L)
    assert(byId(0L).getAs[Long]("n_tokens") === 22L)
    assert(byId(0L).getAs[Long]("dup_ppm") === 12L * 1000000 / 22)
    assert(byId(1L).getAs[Long]("dup_tokens") === 12L)
    assert(byId(1L).getAs[Long]("n_tokens") === 17L)
  }

  test("substring runs: disjoint shared regions stay separate runs") {
    // two 12-token shared regions split by ONE unique token — the
    // interval merge must NOT bridge the gap (pos > prev_end + 1)
    val s1 = (0 until 12).map(i => s"xa${alpha(i)}").mkString(" ")
    val s2 = (0 until 12).map(i => s"xb${alpha(i)}").mkString(" ")
    val dir = docsDir(Seq(
      s"$s1 gap $s2",          // 12 + 1 + 12 = 25 tokens
      s"ya yb $s1 yc",         // donor for s1
      s"za $s2 zb zc"))        // donor for s2
    val r0 = Dedup.substringRuns(spark, dir).collect()
      .find(_.getLong(0) == 0L).get
    assert(r0.getAs[Long]("n_runs") === 2L)
    assert(r0.getAs[Long]("dup_tokens") === 24L)
    assert(r0.getAs[Long]("max_run_tokens") === 12L)
    assert(r0.getAs[Long]("n_tokens") === 25L)
  }

  test("minhash tuning curve: recall monotone in band length; 64×2 near-perfect") {
    val rows = Dedup.minhashTuningCurve(spark, sf0001).collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ===
      Seq((2, 64), (4, 32), (8, 16), (16, 8)))
    // same verified-pair population under every config
    assert(rows.map(_.getAs[Long]("n_pairs")).distinct.length === 1)
    assert(rows(0).getAs[Long]("n_pairs") > 0)
    // longer bands = steeper cliff: mean catch must fall monotonically
    val means = rows.map(_.getAs[Long]("mean_catch_ppm")).toSeq
    means.sliding(2).foreach { w =>
      assert(w(0) >= w(1), s"catch not monotone in r: $means")
    }
    // the 64×2 operating point catches essentially every j ≥ 0.5 pair
    // (worst case j = 0.5 exactly: 1 − 0.75^64 ≈ 1 − 1e-8)
    assert(rows(0).getAs[Long]("min_catch_ppm") >= 999999L,
      s"64×2 should be near-lossless at j ≥ 0.5: ${rows(0)}")
  }

  test("dbscan production (LSH) pairs are a subset of the exact eps-graph " +
      "with pinned fixture recall, and the role census survives routing") {
    import graft.operators.Similarity
    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding")
    def pairSet(): Set[(Long, Long)] =
      Similarity.dbscanPairs(spark, e).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet()
    assert(exact.nonEmpty)
    withConf("graft.dbscan.lshPlanes" -> "2",
        // the routing must bypass the all-pairs guard entirely: a
        // 10-row bound would throw if the oracle branch ever ran
        "graft.bruteforce.maxRows" -> "10") {
      val prod = pairSet()
      assert(prod.subsetOf(exact),
        "exact verify on candidates ⇒ production edges ⊆ ε-graph")
      val recall = prod.size.toDouble / exact.size
      info(s"fixture recall = $recall (${prod.size}/${exact.size})")
      assert(recall >= 0.90,
        s"8 bands × 2 planes must catch ≥90% of ε-edges: $recall")
      // end-to-end: production-mode DBSCAN runs and labels every vector
      val out = Similarity.clusterDbscan(spark, sf0001).collect()
      assert(out.length == e.count())
      val roles = out.map(_.getAs[String]("role")).toSet
      assert(roles.subsetOf(Set("core", "border", "noise")))
    }
  }

  test("substring runs invariants on testdata") {
    val rows = Dedup.substringRuns(spark, sf0001).collect()
    rows.foreach { r =>
      val dup = r.getAs[Long]("dup_tokens")
      val n = r.getAs[Long]("n_tokens")
      val mx = r.getAs[Long]("max_run_tokens")
      assert(r.getAs[Long]("n_runs") >= 1L)
      assert(mx >= 8L, s"a run covers at least one 8-token span: $r")
      assert(mx <= dup && dup <= n, s"interval-union bounds violated: $r")
      assert(r.getAs[Long]("dup_ppm") === dup * 1000000 / n)
    }
  }

  test("pair-graph delta refresh ≡ full rebuild row-for-row, with the " +
      "stored artifact's max_doc_id defining the cut") {
    // docs 0,1 are the OLD cycle (near-dup pair (0,1)); doc 2 joins
    // their cluster in the new batch — the delta TOUCHES old pairs
    // ((0,2) and (1,2) straddle the cut); doc 3 is unique
    val same = "alpha beta gamma delta epsilon"
    val texts = Seq(same, same, same, "zeta eta theta iota kappa")
    val dir = docsDir(texts)
    val docs = graft.sources.Tables.documents(spark, dir)
    val base = java.nio.file.Files
      .createTempDirectory("graft-pairdelta").toString
    graft.ops.Materialize.pairGraphOf(spark,
      docs.filter(col("doc_id") < 2).select("doc_id", "text"),
      s"$base/old", dir)
    graft.ops.Materialize.pairGraphDelta(spark, dir,
      s"$base/old", s"$base/new")
    graft.ops.Materialize.pairGraph(spark, dir, s"$base/full")
    def rows(p: String): Seq[String] = spark.read.parquet(p)
      .orderBy("a_id", "b_id").collect().map(_.toString).toSeq
    assert(rows(s"$base/old").size === 1,
      "fixture must have exactly the (0,1) old pair")
    assert(rows(s"$base/new") === rows(s"$base/full"),
      "delta-refreshed pair artifact diverged from a full rebuild")
    assert(rows(s"$base/new").size === 3,
      "expected pairs (0,1) from the old artifact + (0,2),(1,2) delta")
    // the merged artifact's provenance records FULL-corpus facts,
    // identical to the rebuild's — so the next cycle deltas from it
    assert(graft.ops.ArtifactTag.readProps(spark, s"$base/new") ===
      graft.ops.ArtifactTag.readProps(spark, s"$base/full"),
      "delta artifact provenance must equal the rebuild's")
  }

  test("pair-graph delta guards: wrong corpus, edited slice, format " +
      "drift, no max_doc_id") {
    val texts = Seq("alpha beta gamma delta epsilon",
      "alpha beta gamma delta zeta", "eta theta iota kappa lambda",
      "mu nu xi omicron pi")
    val dir = docsDir(texts)
    val docs = graft.sources.Tables.documents(spark, dir)
    val base = java.nio.file.Files
      .createTempDirectory("graft-pairdeltag").toString
    val oldP = s"$base/old"
    graft.ops.Materialize.pairGraphOf(spark,
      docs.filter(col("doc_id") < 2).select("doc_id", "text"), oldP, dir)
    val e = intercept[IllegalArgumentException] {
      graft.ops.Materialize.pairGraphDelta(spark, sf0001, oldP, s"$base/n1")
    }
    assert(e.getMessage.contains("built for corpus"), e.getMessage)
    // in-place edit BELOW the cut (same ids, doc 0's text changed):
    // rebind the tag so only the content guard is under test
    val dir2 = docsDir(texts.updated(0, "omega psi chi phi upsilon"))
    graft.ops.ArtifactTag.write(spark, oldP, dir2)
    val e3 = intercept[IllegalArgumentException] {
      graft.ops.Materialize.pairGraphDelta(spark, dir2, oldP, s"$base/n3")
    }
    assert(e3.getMessage.contains("checksum"), e3.getMessage)
    graft.ops.ArtifactTag.write(spark, oldP, dir)
    // provenance-format drift: the version gate must name the REAL
    // cause (round-11 advisor finding), before any checksum replay
    val props = graft.ops.ArtifactTag.readProps(spark, oldP)
    graft.ops.ArtifactTag.writeProps(spark, oldP, props - "prov_ver")
    val e4 = intercept[IllegalArgumentException] {
      graft.ops.Materialize.pairGraphDelta(spark, dir, oldP, s"$base/n4")
    }
    assert(e4.getMessage.contains("provenance format"), e4.getMessage)
    // pre-delta artifact: no max_doc_id → no incremental mode
    graft.ops.ArtifactTag.writeProps(spark, oldP, props - "max_doc_id")
    val e5 = intercept[IllegalArgumentException] {
      graft.ops.Materialize.pairGraphDelta(spark, dir, oldP, s"$base/n5")
    }
    assert(e5.getMessage.contains("max_doc_id"), e5.getMessage)
    graft.ops.ArtifactTag.writeProps(spark, oldP, props)
    // write-once on the target
    graft.ops.Materialize.pairGraphDelta(spark, dir, oldP, s"$base/n6")
    val e6 = intercept[IllegalArgumentException] {
      graft.ops.Materialize.pairGraphDelta(spark, dir, oldP, s"$base/n6")
    }
    assert(e6.getMessage.contains("write-once"), e6.getMessage)
  }

  test("all ten pair consumers serve ≡ in-query off a DELTA-refreshed " +
      "pair artifact") {
    val consumers = Seq("neardup_degree_dist", "neardup_pagerank",
      "neardup_triangles", "neardup_kcore", "neardup_quality_delta",
      "dedup_cross_source_rate", "minhash_tuning_curve",
      "curation_funnel", "dedup_clusters", "cc_incremental")
    def strs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val expected = consumers.map { q =>
      q -> strs(SparkEntry.queries(q)(spark, sf0001))
    }.toMap
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val cut = Dedup.idCut(docs)
    val base = java.nio.file.Files
      .createTempDirectory("graft-pairdelta-sf").toString
    graft.ops.Materialize.pairGraphOf(spark,
      docs.filter(col("doc_id") < cut).select("doc_id", "text"),
      s"$base/old", sf0001)
    graft.ops.Materialize.pairGraphDelta(spark, sf0001,
      s"$base/old", s"$base/new")
    withConf("graft.dedup.pairsPath" -> s"$base/new") {
      consumers.foreach { q =>
        assert(strs(SparkEntry.queries(q)(spark, sf0001)) === expected(q),
          s"$q diverged when served off the delta-refreshed artifact")
      }
    }
  }

  test("all ten pair consumers run on a pair-free corpus, in-query and " +
      "artifact-served") {
    val consumers = Seq("neardup_degree_dist", "neardup_pagerank",
      "neardup_triangles", "neardup_kcore", "neardup_quality_delta",
      "dedup_cross_source_rate", "minhash_tuning_curve",
      "curation_funnel", "dedup_clusters", "cc_incremental")
    // sf0.001's first 8 documents, every column kept, each text
    // rewritten so no shingle is shared by any two: the verified pair
    // graph is empty (the other tables are sf0.001's own)
    val tmp = java.nio.file.Files.createTempDirectory("graft-pairfree")
    new java.io.File(sf0001).listFiles()
      .filter(_.getName != "documents.parquet")
      .foreach(f => java.nio.file.Files.createSymbolicLink(
        tmp.resolve(f.getName), f.toPath))
    val dir = tmp.toString
    val texts = (0 until 8).map { i =>
      val t = alpha(i); s"alpha$t beta$t gamma$t delta$t epsilon$t"
    }
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .orderBy("doc_id").limit(8).collect()
    spark.createDataFrame(
        java.util.Arrays.asList(docs.zip(texts).map { case (r, t) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(
            r.fieldIndex("text"), t))
        }: _*), docs.head.schema)
      .write.parquet(s"$dir/documents.parquet")
    assert(Dedup.ngramJaccard(spark, dir).count() === 0,
      "degenerate fixture: a pair was planted")
    def strs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val inQuery = consumers.map { q =>
      q -> strs(SparkEntry.queries(q)(spark, dir))
    }.toMap
    assert(inQuery("neardup_pagerank").isEmpty,
      "a pair-free graph has no node to rank")
    val path = java.nio.file.Files
      .createTempDirectory("graft-pairfree-art").toString + "/pairs"
    graft.ops.Materialize.pairGraph(spark, dir, path)
    withConf("graft.dedup.pairsPath" -> path) {
      consumers.foreach { q =>
        assert(strs(SparkEntry.queries(q)(spark, dir)) === inQuery(q),
          s"$q: artifact-served rows diverged from in-query mode")
      }
    }
  }

  test("opt-in pair content audit (graft.dedup.verifyPairsContent) " +
      "refuses a corpus that changed under an unchanged pairsPath") {
    val texts = Seq("alpha beta gamma delta epsilon",
      "alpha beta gamma delta zeta", "eta theta iota kappa lambda")
    val dir = docsDir(texts)
    val path = java.nio.file.Files
      .createTempDirectory("graft-pairaudit").toString + "/pairs"
    graft.ops.Materialize.pairGraph(spark, dir, path)
    // corpus "regenerated in place": same tag target, different
    // content (simulated with a second dir + rebound tag, the
    // cc-guard pattern — parquet fixtures cannot be edited in place)
    val dir2 = docsDir(texts.updated(2, "mu nu xi omicron pi"))
    withConf("graft.dedup.pairsPath" -> path,
        "graft.dedup.verifyPairsContent" -> "true") {
      // matching corpus: the audit passes and the artifact serves
      assert(SparkEntry.queries("neardup_degree_dist")(spark, dir)
        .count() >= 0)
      graft.ops.ArtifactTag.write(spark, path, dir2)
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("neardup_degree_dist")(spark, dir2).collect()
      }
      assert(e.getMessage.contains("content audit"), e.getMessage)
    }
    // default mode cannot see the drift — the documented trade the
    // opt-in knob exists to close (tag matches, checksum not replayed)
    withConf("graft.dedup.pairsPath" -> path) {
      assert(SparkEntry.queries("neardup_degree_dist")(spark, dir2)
        .count() >= 0)
    }
  }

  test("novelty ratio invariants: first doc fully novel, seen bounded, " +
      "fixture exercises the seen path") {
    val rows = graft.operators.TextAnalysis.noveltyRatio(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_seen_before") <= r.getAs[Long]("n_shingles"))
      val ppm = r.getAs[Long]("novelty_ppm")
      assert(ppm >= 0L && ppm <= 1000000L)
    }
    // ingest order: the lowest-id doc has nothing earlier to be seen in
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("n_seen_before") === 0L)
    assert(first.getAs[Long]("novelty_ppm") === 1000000L)
    assert(rows.exists(_.getAs[Long]("n_seen_before") > 0L),
      "degenerate fixture: no shingle reuse across docs")
  }

  test("delta/append compositions cold-start on a tiny corpus " +
      "(full-build fallback instead of a boundary refusal)") {
    // 2 docs: the midpoint cut is 0, so the old half is EMPTY — the
    // compositions must degrade to the full build (a production first
    // night), not refuse with "no max_doc_id provenance"
    val dir = docsDir(Seq("alpha beta gamma delta epsilon",
      "alpha beta gamma delta zeta"))
    val viaDelta = Dedup.pairsDeltaRefresh(spark, dir)
      .collect().map(_.toString).toSeq
    val full = Dedup.pairsFromIndex(spark, dir)
      .collect().map(_.toString).toSeq
    assert(viaDelta === full,
      "cold-start fallback diverged from the full pair build")
    assert(viaDelta.nonEmpty, "degenerate fixture: no planted pair")
    // the lexical compositions share the fallback rule via
    // Dedup.midpointRefresh
    assert(graft.operators.Retrieval.bm25AppendRefresh(spark, dir)
      .collect().map(_.toString).toSeq ===
      graft.operators.Retrieval.bm25TopK(spark, dir)
        .collect().map(_.toString).toSeq,
      "lexical cold-start fallback diverged from the in-query twin")
  }

  test("registered dedup_pairs_delta_refresh equals dedup_pairs_from_index " +
      "row-for-row") {
    // pins the REGISTERED composition (midpoint old build →
    // pairGraphDelta → serve), not just the writer equality the
    // sf-fixture test above covers — a drift in the scratch layout or
    // the serve projection would surface here before the oracle gate
    val d = Dedup.pairsDeltaRefresh(spark, sf0001).collect()
    val f = Dedup.pairsFromIndex(spark, sf0001).collect()
    assert(d.map(_.toString).toSeq === f.map(_.toString).toSeq,
      "dedup_pairs_delta_refresh diverged from the full-build artifact")
  }

  test("ccLabels refuses to launder a stale pair artifact into a " +
      "fresh label checksum; the slice writer stays exempt") {
    val texts = Seq("alpha beta gamma delta epsilon",
      "alpha beta gamma delta zeta", "eta theta iota kappa lambda")
    val dir = docsDir(texts)
    val dir2 = docsDir(texts.updated(2, "mu nu xi omicron pi"))
    val base = java.nio.file.Files
      .createTempDirectory("graft-cclaunder").toString
    graft.ops.Materialize.pairGraph(spark, dir, s"$base/pairs")
    withConf("graft.dedup.pairsPath" -> s"$base/pairs") {
      // healthy cycle: labels persist off the matching pair artifact
      graft.ops.Materialize.ccLabels(spark, dir, s"$base/labels-ok")
      // stale cycle: the corpus changed but the pair artifact did not
      // (tag rebound to isolate the content comparison) — the writer
      // must refuse, or the labels would carry a FRESH corpus
      // checksum derived from STALE pairs (provenance laundering)
      graft.ops.ArtifactTag.write(spark, s"$base/pairs", dir2)
      val e = intercept[IllegalArgumentException] {
        graft.ops.Materialize.ccLabels(spark, dir2, s"$base/labels-stale")
      }
      assert(e.getMessage.contains("STALE pairs"), e.getMessage)
      // the refusal left no half-written artifact behind
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$base/labels-stale")),
        "guard failure must not leave label files on disk")
      // the slice writer derives its pairs in-query (never reads
      // pairsPath), so it persists fine under the same stale conf
      graft.ops.Materialize.ccLabelsOf(spark,
        graft.sources.Tables.documents(spark, dir2)
          .filter(col("doc_id") < 2).select("doc_id", "text"),
        s"$base/labels-slice", dir2)
    }
  }
}
