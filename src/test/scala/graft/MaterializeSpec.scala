package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.ops.Materialize

/** The materialized-output surface must round-trip exactly AND produce
  * the layout its scale story claims: partition pruning in the read
  * plan, disjoint sorted files within a partition, shuffle-free joins
  * from the bucketed layout. */
class MaterializeSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("out").toString

  private def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go)); f.delete()
    }
    go(new java.io.File(path).getParentFile)
  }

  test("survivorCorpus round-trips: row parity with dedup survivors") {
    val path = tmp("graft-mat-surv")
    try {
      Materialize.survivorCorpus(spark, sf0001, path)
      val back = spark.read.parquet(path)
      val expected = Dedup.exactSurvivors(spark, sf0001).collect()
        .map(_.getLong(0)).toSet
      val got = back.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === expected, "read-back doc_ids != survivor set")
      // the split partition column survives the directory round-trip
      val splits = back.select("split").distinct().collect()
        .map(_.getString(0)).toSet
      assert(splits.subsetOf(Set("train", "valid", "test")) && splits("train"))
    } finally rm(path)
  }

  test("partitioned write prunes partitions and sorts within files") {
    val path = tmp("graft-mat-prune")
    try {
      Materialize.survivorCorpus(spark, sf0001, path)
      // (a) partition pruning: the split filter must reach the scan's
      // PartitionFilters (directory-level pruning, not a post-scan filter)
      val filtered = spark.read.parquet(path)
        .filter(col("split") === "valid").select("doc_id")
      val plan = filtered.queryExecution.explainString(FormattedMode)
      val pf = "PartitionFilters: \\[[^\\]]*split[^\\]]*\\]".r
        .findFirstIn(plan)
      assert(pf.isDefined, s"split filter not pushed to partitions:\n$plan")
      // (b) each data file within a partition holds a SORTED doc_id run
      // and files are disjoint ranges (repartitionByRange + sort) — the
      // precondition for row-group min/max pruning
      val trainFiles = Option(
        new java.io.File(s"$path/split=train").listFiles).get
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      assert(trainFiles.nonEmpty)
      val ranges = trainFiles.map { f =>
        val ids = spark.read.parquet(f).select("doc_id").collect()
          .map(_.getLong(0))
        assert(ids.sameElements(ids.sorted), s"unsorted file $f")
        (ids.head, ids.last)
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo, _)) =>
          assert(hi < lo, "file doc_id ranges overlap")
        case _ =>
      }
    } finally rm(path)
  }

  test("bucketed write joins without an exchange on the bucket key") {
    val path = tmp("graft-mat-bucket")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe =
      spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      Materialize.bucketed(Materialize.survivorFrame(spark, sf0001),
        "surv_b", path, "doc_id", 8, Seq("doc_id"))
      val t = spark.table("surv_b")
      val joined = t.select("doc_id", "lang")
        .join(t.select(col("doc_id"), col("n_chars")), "doc_id")
      assert(joined.count() ===
        Dedup.exactSurvivors(spark, sf0001).count())
      val plan = joined.queryExecution.explainString(FormattedMode)
        .split("== Initial Plan ==")(0)
      val shuffles = """(?<!Broadcast)Exchange \(\d+\)""".r
        .findAllIn(plan).length
      assert(shuffles === 0,
        s"bucketed self-join should plan no exchange:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
      spark.sql("DROP TABLE IF EXISTS surv_b")
      rm(path)
    }
  }

  test("ivfIndex materializes a cell-pruned index + tiny centroids") {
    val path = tmp("graft-mat-ivf")
    try {
      Materialize.ivfIndex(spark, sf0001, path)
      val idx = spark.read.parquet(s"$path/index")
      val cents = spark.read.parquet(s"$path/centroids")
      val n = graft.sources.Tables.embeddings(spark, sf0001).count()
      assert(idx.count() === n, "index must cover every vector")
      assert(cents.count() <= 256, "coarse quantizer stays metadata-sized")
      // probing one cell reads a pruned fraction via PartitionFilters
      val cid0 = idx.select("cid").limit(1).collect()(0).getInt(0)
      val probe = idx.filter(col("cid") === cid0)
      val plan = probe.queryExecution.explainString(FormattedMode)
      assert("PartitionFilters: \\[[^\\]]*cid[^\\]]*\\]".r
        .findFirstIn(plan).isDefined,
        s"cid filter not pushed to partitions:\n$plan")
      assert(probe.count() < n, "one cell must be a strict subset")
    } finally rm(path)
  }

  test("vector-index append generations: ivf/pq chains cover every " +
      "vector once, batch rows ≡ frozen assignment, compaction ≡ " +
      "chain, tampered provenance refuses") {
    import graft.operators.Similarity
    val base = tmp("graft-vecchain")
    try {
      val vecs = graft.sources.Tables.embeddings(spark, sf0001)
        .select("vec_id", "embedding")
      val n = vecs.count()
      val b = vecs.agg(min("vec_id"), max("vec_id")).head()
      val cut = (b.getLong(0) + b.getLong(1)) / 2
      val batch = vecs.filter(col("vec_id") >= cut)
      def sorted(df: org.apache.spark.sql.DataFrame,
          keys: Seq[String]): Seq[String] =
        df.orderBy(keys.map(col): _*).collect().map(_.toString).toSeq
      // ——— IVF ———
      Materialize.ivfIndexOf(spark, vecs.filter(col("vec_id") < cut),
        s"$base/ivf-g0", sf0001)
      Materialize.ivfIndexAppend(spark, sf0001,
        s"$base/ivf-g0", s"$base/ivf-g1")
      val chain = Materialize.chainRead(spark, s"$base/ivf-g1", sf0001,
        "index", Seq("vec_id", "embedding", "cid"))
      assert(chain.count() === n, "ivf chain must cover every vector")
      assert(chain.select("vec_id").distinct().count() === n,
        "ivf chain double-covered a vector")
      // the generation's rows ARE the frozen assignment of the batch
      val cents = spark.read.parquet(s"$base/ivf-g0/centroids")
      assert(sorted(spark.read.parquet(s"$base/ivf-g1/index")
          .select("vec_id", "cid"), Seq("vec_id")) ===
        sorted(Similarity.ivfAssignFrozen(batch, cents)
          .select("vec_id", "cid"), Seq("vec_id")),
        "append generation diverged from the frozen assignment")
      // compaction ≡ chain, parent pointer dropped
      Materialize.ivfIndexCompact(spark, sf0001,
        s"$base/ivf-g1", s"$base/ivf-c")
      assert(sorted(spark.read.parquet(s"$base/ivf-c/index")
          .select("vec_id", "cid"), Seq("vec_id")) ===
        sorted(chain.select("vec_id", "cid"), Seq("vec_id")),
        "ivf compaction diverged from the chain")
      assert(!graft.ops.ArtifactTag.readProps(spark, s"$base/ivf-c")
        .contains("parent"), "compacted ivf artifact must end the chain")
      // ——— PQ ———
      Materialize.pqIndexOf(spark, vecs.filter(col("vec_id") < cut),
        s"$base/pq-g0", sf0001)
      Materialize.pqIndexAppend(spark, sf0001,
        s"$base/pq-g0", s"$base/pq-g1")
      val codeChain = Materialize.chainRead(spark, s"$base/pq-g1",
        sf0001, "codes", Seq("vec_id", "sub", "code"))
      assert(codeChain.count() === n * 8L, "pq chain: 8 codes per vector")
      val cb = spark.read.parquet(s"$base/pq-g0/codebooks")
      assert(sorted(spark.read.parquet(s"$base/pq-g1/codes")
          .select("vec_id", "sub", "code"), Seq("vec_id", "sub")) ===
        sorted(Similarity.pqEncodeFrozen(batch, cb)
          .select("vec_id", "sub", "code"), Seq("vec_id", "sub")),
        "pq generation diverged from the frozen encode")
      Materialize.pqIndexCompact(spark, sf0001,
        s"$base/pq-g1", s"$base/pq-c")
      assert(sorted(spark.read.parquet(s"$base/pq-c/codes")
          .select("vec_id", "sub", "code"), Seq("vec_id", "sub")) ===
        sorted(codeChain, Seq("vec_id", "sub")),
        "pq compaction diverged from the chain")
      // ——— admission guard: tampered old-slice checksum refuses ———
      val props = graft.ops.ArtifactTag.readProps(spark, s"$base/ivf-g1")
      graft.ops.ArtifactTag.writeProps(spark, s"$base/ivf-g1",
        props + ("content_xor" ->
          (props("content_xor").toLong + 1L).toString))
      val e = intercept[IllegalArgumentException] {
        Materialize.ivfIndexAppend(spark, sf0001,
          s"$base/ivf-g1", s"$base/ivf-g2")
      }
      assert(e.getMessage.contains("checksum mismatch"), e.getMessage)
      graft.ops.ArtifactTag.writeProps(spark, s"$base/ivf-g1", props)
    } finally rm(base)
  }

  test("chain-health planner: a 3-generation chain audits from " +
      "provenance alone, crosses the generation threshold to " +
      "compact, and compacting flips the decision back to keep") {
    val base = tmp("graft-chainhealth")
    val corpus = tmp("graft-chainhealth-corpus")
    try {
      val docs = graft.sources.Tables.documents(spark, sf0001)
        .select("doc_id", "text")
      val b = docs.agg(min("doc_id"), max("doc_id")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      // the LSM reality: the corpus grows between appends, so each
      // generation holds one ingest batch
      docs.filter(col("doc_id") < c1)
        .write.parquet(s"$corpus/documents.parquet")
      Materialize.minhashIndexOf(spark,
        docs.filter(col("doc_id") < c1), s"$base/g0", corpus)
      docs.filter(col("doc_id") >= c1 && col("doc_id") < c2)
        .write.mode("append").parquet(s"$corpus/documents.parquet")
      Materialize.minhashIndexAppend(spark, corpus,
        s"$base/g0", s"$base/g1")
      docs.filter(col("doc_id") >= c2)
        .write.mode("append").parquet(s"$corpus/documents.parquet")
      Materialize.minhashIndexAppend(spark, corpus,
        s"$base/g1", s"$base/g2")
      val n = docs.count()
      val nBase = docs.filter(col("doc_id") < c1).count()
      def audit(head: String, maxGen: Long) = Dedup.chainHealth(spark,
        Seq(("minhash", head, corpus)), maxGen, 750000L)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getString(5))).toSeq
      // under the default generation budget the 3-gen chain is
      // healthy on generations but ~2/3 appended → ppm trigger fires
      val row = audit(s"$base/g2", 4L)
      assert(row === Seq(("minhash", 3, nBase, n,
        (n - nBase) * 1000000L / n,
        if ((n - nBase) * 1000000L / n > 750000L) "compact"
        else "keep")),
        s"provenance audit mismatch: $row")
      // crossing the generation threshold flips the decision
      assert(audit(s"$base/g2", 2L).head._6 === "compact",
        "3 generations over a 2-generation budget must compact")
      // the decision's executor is the real compactor: after it runs,
      // the chain is one generation with zero appended mass → keep
      Materialize.sigIndexCompact(spark, corpus, s"$base/g2",
        s"$base/merged", Materialize.MinhashParts)
      val after = audit(s"$base/merged", 2L)
      assert(after === Seq(("minhash", 1, n, n, 0L, "keep")),
        s"compacted chain must audit clean: $after")
    } finally { rm(base); rm(corpus) }
  }

  test("lexical index delta refresh ≡ full rebuild part-for-part; " +
      "bm25/phrase serve row-identical off the delta artifact") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text")
    val cut = Dedup.idCut(docs)
    val base = Files.createTempDirectory("graft-lexdelta").toString
    Materialize.lexicalIndexOf(spark,
      docs.filter(col("doc_id") < cut), s"$base/old", sf0001)
    Materialize.lexicalIndexDelta(spark, sf0001,
      s"$base/old", s"$base/new")
    Materialize.lexicalIndex(spark, sf0001, s"$base/full")
    def part(root: String, p: String, keys: Seq[String]): Seq[String] =
      spark.read.parquet(s"$root/$p").orderBy(keys.map(col): _*)
        .collect().map(_.toString).toSeq
    Seq(("postings", Seq("tok", "doc_id")),
        ("grams", Seq("gram", "doc_id", "pos")),
        ("gramstats", Seq("gram")),
        ("stats", Seq("n"))).foreach { case (p, keys) =>
      assert(part(s"$base/new", p, keys) === part(s"$base/full", p, keys),
        s"index part '$p' diverged between delta refresh and rebuild")
    }
    // full-corpus provenance identical → the next cycle deltas from it
    assert(graft.ops.ArtifactTag.readProps(spark, s"$base/new") ===
      graft.ops.ArtifactTag.readProps(spark, s"$base/full"),
      "delta artifact provenance must equal the rebuild's")
    // the merged frames never rescan the corpus: old side is index
    // parquet only (the new side's one batch read happened inside the
    // builder's eager checkpoint, scoped to doc_id >= cut)
    val (post, grams, gstats) = Materialize.lexDeltaParts(spark,
      docs, s"$base/old", cut)
    Seq("postings" -> post, "grams" -> grams, "gramstats" -> gstats)
      .foreach { case (nm, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("documents.parquet"),
          s"merged $nm frame rescans the corpus:\n$plan")
      }
    // serving: the registered from-index twins route through the
    // delta artifact via graft.lex.indexPath, row-identical to the
    // default (scratch full-build) mode the oracle hash-gates
    def strs(q: String, d: String): Seq[String] =
      SparkEntry.queries(q)(spark, d).collect().map(_.toString).toSeq
    val expB = strs("bm25_from_index", sf0001)
    val expP = strs("phrase_from_index", sf0001)
    withConf("graft.lex.indexPath" -> s"$base/new") {
      assert(strs("bm25_from_index", sf0001) === expB,
        "bm25_from_index diverged off the delta artifact")
      assert(strs("phrase_from_index", sf0001) === expP,
        "phrase_from_index diverged off the delta artifact")
      // wrong corpus: the tag names sf0001
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("bm25_from_index")(
          spark, "/root/testdata/sf0.01").collect()
      }
      assert(e.getMessage.contains("built for corpus"), e.getMessage)
    }
  }

  test("lexical append generation: chain serve ≡ merged rebuild; " +
      "merge over a chain head compacts it; cycle refuses") {
    import spark.implicits._
    def dirOf(pairs: Seq[(Long, String)]): String = {
      val dir = Files.createTempDirectory("graft-lexchain").toString
      pairs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    // three-corpus growth story: g0 indexes docs {0,1}, an append
    // generation covers {2}, a second append covers {3} — the batch a
    // generation holds straddles a REUSED gram ("alpha beta gamma")
    // so the chain union is load-bearing for both postings and the
    // standing-phrase hit set
    val d01 = Seq(0L -> "alpha beta gamma delta", 1L -> "epsilon zeta eta")
    val d2 = d01 :+ (2L -> "alpha beta gamma theta")
    val d3 = d2 :+ (3L -> "alpha beta gamma iota")
    val (dir1, dir2, dir3) =
      (dirOf(d01), dirOf(d2), dirOf(d3))
    val base = Files.createTempDirectory("graft-lexchainart").toString
    Materialize.lexicalIndexOf(spark,
      graft.sources.Tables.documents(spark, dir1)
        .select("doc_id", "text"), s"$base/g0", dir1)
    // generations are corpus-tag-bound: rebind g0 to the grown corpus
    // before appending (a real deployment's dir content grows in
    // place; parquet fixtures cannot, so the tag moves instead)
    graft.ops.ArtifactTag.write(spark, s"$base/g0", dir2)
    Materialize.lexicalIndexAppend(spark, dir2, s"$base/g0", s"$base/g1")
    graft.ops.ArtifactTag.write(spark, s"$base/g0", dir3)
    graft.ops.ArtifactTag.write(spark, s"$base/g1", dir3)
    Materialize.lexicalIndexAppend(spark, dir3, s"$base/g1", s"$base/g2")
    // the 3-generation chain resolves head-first
    assert(Materialize.genChain(spark, s"$base/g2", dir3) ===
      Seq(s"$base/g2", s"$base/g1", s"$base/g0"))
    // chain union ≡ merged rebuild, part for part (content, not files)
    Materialize.lexicalIndex(spark, dir3, s"$base/full")
    def sorted(df: org.apache.spark.sql.DataFrame,
        keys: Seq[String]): Seq[String] =
      df.orderBy(keys.map(col): _*).collect().map(_.toString).toSeq
    assert(sorted(Materialize.chainRead(spark, s"$base/g2", dir3,
        "postings", Seq("tok", "doc_id", "dl", "tf")),
        Seq("tok", "doc_id")) ===
      sorted(spark.read.parquet(s"$base/full/postings")
        .select("tok", "doc_id", "dl", "tf"), Seq("tok", "doc_id")),
      "chain postings diverged from the merged rebuild")
    // head gramstats are cumulative — equal to the rebuild's
    assert(sorted(spark.read.parquet(s"$base/g2/gramstats")
        .select("gram", "n"), Seq("gram")) ===
      sorted(spark.read.parquet(s"$base/full/gramstats")
        .select("gram", "n"), Seq("gram")),
      "head gramstats diverged from the merged rebuild")
    // ADDITIVE provenance (round-12 advisor fix): the append head's
    // sidecar merges parent ⊕ batch without re-hashing old rows, and
    // must be BIT-EQUAL to the full rebuild's full-scan facts over the
    // same corpus — that equality is what lets the next admission's
    // checksum replay (and the compaction below) still pass
    locally {
      val gp = graft.ops.ArtifactTag.readProps(spark, s"$base/g2")
      val fp = graft.ops.ArtifactTag.readProps(spark, s"$base/full")
      Seq("n_docs", "content_xor", "max_doc_id", "n_dl", "sum_dl")
        .foreach { k =>
          assert(gp.get(k) === fp.get(k),
            s"append-head prop $k (additive) diverged from the full " +
              "rebuild's full-scan value")
        }
    }
    // COMPACTION: a merge refresh over the chain head collapses the
    // chain — with no new docs it is a pure compaction whose parts
    // equal the rebuild's and whose head carries no parent pointer
    Materialize.lexicalIndexDelta(spark, dir3, s"$base/g2",
      s"$base/compacted")
    assert(sorted(spark.read.parquet(s"$base/compacted/postings")
        .select("tok", "doc_id", "dl", "tf"), Seq("tok", "doc_id")) ===
      sorted(spark.read.parquet(s"$base/full/postings")
        .select("tok", "doc_id", "dl", "tf"), Seq("tok", "doc_id")),
      "compaction diverged from the merged rebuild")
    assert(!graft.ops.ArtifactTag.readProps(spark, s"$base/compacted")
      .contains("parent"), "compacted artifact must end the chain")
    // a corrupt parent pointer that cycles refuses loudly
    val g2props = graft.ops.ArtifactTag.readProps(spark, s"$base/g2")
    graft.ops.ArtifactTag.writeProps(spark, s"$base/g2",
      g2props + ("parent" -> s"$base/g2"))
    val e = intercept[IllegalArgumentException] {
      Materialize.genChain(spark, s"$base/g2", dir3)
    }
    assert(e.getMessage.contains("cycle"), e.getMessage)
    graft.ops.ArtifactTag.writeProps(spark, s"$base/g2", g2props)
  }

  test("lexical index delta guards: edited old slice, provenance-" +
      "format drift, and missing max_doc_id are refused") {
    import spark.implicits._
    def dirOf(texts: Seq[String]): String = {
      val dir = Files.createTempDirectory("graft-lexguard").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val texts = Seq("alpha beta gamma delta", "epsilon zeta eta theta",
      "iota kappa lambda mu")
    val dir = dirOf(texts)
    val base = Files.createTempDirectory("graft-lexguardi").toString
    val oldP = s"$base/old"
    Materialize.lexicalIndexOf(spark,
      graft.sources.Tables.documents(spark, dir)
        .filter(col("doc_id") < 2).select("doc_id", "text"), oldP, dir)
    // in-place edit below the cut (tag rebound to isolate the guard)
    val dir2 = dirOf(texts.updated(0, "nu xi omicron pi"))
    graft.ops.ArtifactTag.write(spark, oldP, dir2)
    val e = intercept[IllegalArgumentException] {
      Materialize.lexicalIndexDelta(spark, dir2, oldP, s"$base/n1")
    }
    assert(e.getMessage.contains("checksum"), e.getMessage)
    graft.ops.ArtifactTag.write(spark, oldP, dir)
    // provenance-format drift names the real cause
    val props = graft.ops.ArtifactTag.readProps(spark, oldP)
    graft.ops.ArtifactTag.writeProps(spark, oldP, props - "prov_ver")
    val e2 = intercept[IllegalArgumentException] {
      Materialize.lexicalIndexDelta(spark, dir, oldP, s"$base/n2")
    }
    assert(e2.getMessage.contains("provenance format"), e2.getMessage)
    // pre-delta artifact: no max_doc_id → no incremental mode
    graft.ops.ArtifactTag.writeProps(spark, oldP, props - "max_doc_id")
    val e3 = intercept[IllegalArgumentException] {
      Materialize.lexicalIndexDelta(spark, dir, oldP, s"$base/n3")
    }
    assert(e3.getMessage.contains("max_doc_id"), e3.getMessage)
    graft.ops.ArtifactTag.writeProps(spark, oldP, props)
    // healthy delta lands; its target is write-once
    Materialize.lexicalIndexDelta(spark, dir, oldP, s"$base/n4")
    val e4 = intercept[IllegalArgumentException] {
      Materialize.lexicalIndexDelta(spark, dir, oldP, s"$base/n4")
    }
    assert(e4.getMessage.contains("write-once"), e4.getMessage)
    // immutable-store downgrade (graft.artifact.trustOldContent, which
    // cc_incremental's artifact mode honors too): the content replay is
    // skipped — a same-count in-place edit passes (the documented
    // trade an immutable store rules out by construction) but a count
    // drift still refuses
    graft.ops.ArtifactTag.write(spark, oldP, dir2)
    withConf("graft.artifact.trustOldContent" -> "true") {
      Materialize.lexicalIndexDelta(spark, dir2, oldP, s"$base/n5")
      // …but the edit is NOT laundered into fresh provenance: the
      // sidecar is parent ⊕ batch, so it keeps the STORED xor of the
      // unedited slice rather than re-hashing the edited corpus
      val docsOf = (d: String) => graft.sources.Tables.documents(spark, d)
      assert(graft.ops.ArtifactTag.readProps(spark, s"$base/n5")
          .get("content_xor")
          .contains(Materialize.ccSliceChecksum(docsOf(dir))._2.toString),
        "trust-mode delta must record parent ⊕ batch, not the edited corpus")
      assert(Materialize.ccSliceChecksum(docsOf(dir))._2 !==
        Materialize.ccSliceChecksum(docsOf(dir2))._2)
      // count drift below the cut (a doc backfilled at id -1): the
      // count guard still refuses, and names counts, not checksums
      val dirLow = {
        val d = Files.createTempDirectory("graft-lexguard").toString
        ((-1L, "pre alpha doc") +: texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) })
          .toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$d/documents.parquet")
        d
      }
      graft.ops.ArtifactTag.write(spark, oldP, dirLow)
      val e5 = intercept[IllegalArgumentException] {
        Materialize.lexicalIndexDelta(spark, dirLow, oldP, s"$base/n6")
      }
      assert(e5.getMessage.contains("count mismatch"), e5.getMessage)
      assert(!e5.getMessage.contains("checksum"),
        "trust mode must use the count guard, not the checksum replay")
    }
    // so the next checked-mode admission still refuses the edit
    val e7 = intercept[IllegalArgumentException] {
      Materialize.lexicalIndexAppend(spark, dir2, s"$base/n5", s"$base/n7")
    }
    assert(e7.getMessage.contains("checksum mismatch"), e7.getMessage)
    graft.ops.ArtifactTag.write(spark, oldP, dir)
  }

  /** An old lexical generation over the lower half of sf0001's doc ids
    * (tagged for sf0001), so a refresh writer over sf0001 has a real
    * batch. */
  private def lexOld(path: String): Unit = {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text")
    Materialize.lexicalIndexOf(spark,
      docs.filter(col("doc_id") < Dedup.idCut(docs)), path, sf0001)
  }

  test("each lexical refresh writer reads the corpus in exactly two " +
      "actions: the fused admission/provenance aggregate and the one " +
      "batch token checkpoint") {
    val base = Files.createTempDirectory("graft-lexscans").toString
    lexOld(s"$base/old")
    val append = tableScans("documents.parquet") {
      Materialize.lexicalIndexAppend(spark, sf0001, s"$base/old",
        s"$base/g1")
    }
    assert(append === 2, s"lexicalIndexAppend read the corpus $append times")
    val delta = tableScans("documents.parquet") {
      Materialize.lexicalIndexDelta(spark, sf0001, s"$base/old",
        s"$base/d1")
    }
    assert(delta === 2, s"lexicalIndexDelta read the corpus $delta times")
  }

  test("concurrently runs every part even when one throws, rethrows the " +
      "first failure as itself and keeps later ones as suppressed") {
    val ran = new java.util.concurrent.atomic.AtomicInteger()
    val first = new IllegalStateException("part one failed")
    val later = new RuntimeException("part three failed later")
    val e = intercept[IllegalStateException] {
      Materialize.concurrently(
        () => { ran.incrementAndGet(); throw first },
        () => { Thread.sleep(300); ran.incrementAndGet() },
        () => { Thread.sleep(600); ran.incrementAndGet(); throw later })
    }
    assert(e eq first, s"rethrew $e instead of the first failure")
    assert(e.getMessage === "part one failed")
    assert(ran.get === 3, "a part did not run to completion")
    assert(e.getSuppressed.toSeq === Seq(later))
  }

  test("a failed or torn refresh leaves an untagged directory that " +
      "admission refuses by name") {
    import java.nio.file.{Path, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft-lextorn").toString
    lexOld(s"$base/old")
    val sidecars = Seq("_graft_corpus", "_graft_props")
    def has(p: String, f: String) = Files.exists(Paths.get(p, f))
    // a part that fails inside its thread: one unreadable file in the
    // parent's gramstats (the schema still resolves from a summary
    // file, so the failure surfaces only when the part's job reads it)
    val gs = Paths.get(base, "old", "gramstats")
    val good: Path = Files.list(gs).filter(_.getFileName.toString
      .endsWith(".parquet")).findFirst().get
    Files.copy(good, gs.resolve("_common_metadata"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.write(gs.resolve("part-99999-unreadable.parquet"),
      Array.fill[Byte](64)(7))
    val e = intercept[Exception] {
      Materialize.lexicalIndexAppend(spark, sf0001, s"$base/old",
        s"$base/g1")
    }
    assert(e.getMessage.contains("part-99999-unreadable"), e.getMessage)
    // every other part still ran to completion …
    Seq("postings", "stats", "grams").foreach { p =>
      assert(has(s"$base/g1/$p", "_SUCCESS"), s"part $p did not complete")
    }
    // … and no sidecar was written, so the directory is refused whole
    sidecars.foreach(f => assert(!has(s"$base/g1", f), s"$f was written"))
    val e1 = intercept[IllegalArgumentException] {
      Materialize.lexicalIndexAppend(spark, sf0001, s"$base/g1",
        s"$base/g2")
    }
    assert(e1.getMessage.contains("carries no _graft_corpus tag"),
      e1.getMessage)
    // a crash between the sidecars (props land first, the tag last)
    // reads the same way: a fresh artifact with its tag deleted, or
    // with both sidecars deleted, is refused as untagged — never as a
    // pre-version provenance format
    Seq(Seq("_graft_corpus"), sidecars).zipWithIndex.foreach {
      case (gone, i) =>
        val p = s"$base/fresh$i"
        lexOld(p)
        gone.foreach(f => Files.delete(Paths.get(p, f)))
        val e2 = intercept[IllegalArgumentException] {
          Materialize.lexicalIndexAppend(spark, sf0001, p, s"$p-next")
        }
        assert(e2.getMessage.contains("carries no _graft_corpus tag"),
          e2.getMessage)
    }
  }

  test("every job a refresh writer launches, from any part thread, " +
      "carries the caller's job group and job description") {
    val base = Files.createTempDirectory("graft-lexgroup").toString
    lexOld(s"$base/old")
    val ev = graft.operators.Training.pitEvents(spark, sf0001)
    val b = ev.agg(min("day"), max("day")).head()
    Materialize.featureStoreOf(spark,
      ev.filter(col("day") <= (b.getLong(0) + b.getLong(1)) / 2),
      s"$base/fold", sf0001)
    val sc = spark.sparkContext
    val props = jobProperties {
      sc.setJobGroup("graft-spec/refresh", "op:spec-refresh")
      try {
        Materialize.lexicalIndexAppend(spark, sf0001, s"$base/old",
          s"$base/g1")
        Materialize.featureStoreDelta(spark, sf0001, s"$base/fold",
          s"$base/f1")
      } finally sc.clearJobGroup()
    }
    assert(props.size >= 6, s"only ${props.size} jobs observed")
    props.foreach { p =>
      assert(p != null, "a job ran without local properties")
      assert(p.getProperty("spark.jobGroup.id") === "graft-spec/refresh")
      assert(p.getProperty("spark.job.description") === "op:spec-refresh")
    }
  }
}
