package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.ops.{Materialize, Parquet}
import graft.sources.Tables

/** [[graft.ops.Parquet.read]] reads a schema from one footer on the
  * driver. It must give exactly the schema Spark's own inference gives,
  * on every table and every artifact part graft writes; it must launch
  * no job; and where Spark's behaviour is not one footer (no data file,
  * schema merging, a missing path) it must be Spark's behaviour. */
class ParquetReadSpec extends SparkSpec {

  private def withTmp[A](prefix: String)(body: String => A): A = {
    val dir = Files.createTempDirectory(prefix)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    try body(dir.toString) finally rm(dir.toFile)
  }

  private def sameSchema(path: String): Unit =
    assert(Parquet.read(spark, path).schema === spark.read.parquet(path).schema,
      s"schema of $path differs from Spark's inference")

  /** Every directory under `root` that one parquet write produced (the
    * ones holding a `_SUCCESS` marker). */
  private def writeRoots(root: String): Seq[String] = {
    val it = Files.walk(java.nio.file.Paths.get(root))
    try it.toArray.toSeq.map(_.asInstanceOf[JPath])
      .filter(_.getFileName.toString == "_SUCCESS")
      .map(_.getParent.toString).sorted
    finally it.close()
  }

  test("every sf0.001 table reads with Spark's inferred schema") {
    Tables.Names.foreach(n => sameSchema(s"$sf0001/$n.parquet"))
  }

  test("every part of every artifact family reads with Spark's inferred " +
      "schema: lexical full and append chain, feature store, minhash, " +
      "simhash, IVF, PQ, SQ, CC labels, pair graph") {
    withTmp("graft-pq-artifacts") { base =>
      val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      val cut = graft.operators.Dedup.idCut(docs)
      Materialize.lexicalIndex(spark, sf0001, s"$base/lex")
      Materialize.lexicalIndexOf(spark, docs.filter(col("doc_id") < cut),
        s"$base/lex-g0", sf0001)
      Materialize.lexicalIndexAppend(spark, sf0001, s"$base/lex-g0",
        s"$base/lex-g1")
      val ev = graft.operators.Training.pitEvents(spark, sf0001)
      val b = ev.agg(min("day"), max("day")).head()
      Materialize.featureStoreOf(spark,
        ev.filter(col("day") <= (b.getLong(0) + b.getLong(1)) / 2),
        s"$base/feat-g0", sf0001)
      Materialize.featureStoreAppend(spark, sf0001, s"$base/feat-g0",
        s"$base/feat-g1")
      Materialize.minhashIndex(spark, sf0001, s"$base/minhash")
      Materialize.simhashIndex(spark, sf0001, s"$base/simhash")
      Materialize.ivfIndex(spark, sf0001, s"$base/ivf")
      Materialize.pqIndex(spark, sf0001, s"$base/pq")
      Materialize.sqIndex(spark, sf0001, s"$base/sq")
      Materialize.ccLabels(spark, sf0001, s"$base/cc")
      Materialize.pairGraph(spark, sf0001, s"$base/pairs")
      val roots = writeRoots(base)
      Seq("lex", "lex-g1", "feat-g1", "minhash", "simhash", "ivf", "pq",
          "sq", "cc", "pairs").foreach { a =>
        assert(roots.exists(_.startsWith(s"$base/$a")), s"$a wrote no part")
      }
      assert(roots.exists(r => new java.io.File(r).list().exists(
        _.startsWith("cid="))), "no partitionBy(cid) part was compared")
      roots.foreach(sameSchema)
    }
  }

  test("constructing table and from-index frames launches no job") {
    SparkEntry.queries("bm25_from_index")(spark, sf0001) // builds once
    val jobs = jobProperties {
      Tables.documents(spark, sf0001)
      Tables.events(spark, sf0001)
      SparkEntry.queries("bm25_from_index")(spark, sf0001)
    }
    assert(jobs.isEmpty, s"${jobs.size} jobs launched while constructing")
  }

  test("a directory with no data file, a missing path and schema " +
      "merging keep Spark's own behaviour") {
    withTmp("graft-pq-edges") { base =>
      def sameError(path: String): Unit = {
        val want = intercept[AnalysisException](spark.read.parquet(path))
        val got = intercept[AnalysisException](Parquet.read(spark, path))
        assert(got.getCondition === want.getCondition)
        assert(got.getMessage === want.getMessage)
      }
      Files.createDirectories(java.nio.file.Paths.get(s"$base/empty"))
      sameError(s"$base/empty")
      Files.createDirectories(java.nio.file.Paths.get(s"$base/marker"))
      Files.createFile(java.nio.file.Paths.get(s"$base/marker/_SUCCESS"))
      sameError(s"$base/marker")
      sameError(s"$base/missing")

      val two = s"$base/two"
      spark.range(3).selectExpr("id AS a").write.parquet(two)
      spark.range(3).selectExpr("id AS b").write.mode("append").parquet(two)
      sameSchema(two)
      assert(Parquet.read(spark, two).schema.size === 1)
      withConf("spark.sql.parquet.mergeSchema" -> "true") {
        sameSchema(two)
        assert(Parquet.read(spark, two).schema.fieldNames.sorted ===
          Array("a", "b"))
        assert(jobProperties(Parquet.read(spark, two)).nonEmpty,
          "schema merging must run Spark's merge job")
      }
    }
  }

  test("Tables.events reads a TIMESTAMP(NANOS) file as ts div 1000, and " +
      "a missing events path still fails") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    withTmp("graft-pq-nanos") { dir =>
      val schema = MessageTypeParser.parseMessageType(
        """message events {
          |  required int64 event_id;
          |  required int64 ts (TIMESTAMP(NANOS,true));
          |  required int64 user_id;
          |  required binary event_type (STRING);
          |  required double value;
          |  required binary props (STRING);
          |}""".stripMargin)
      val conf = spark.sparkContext.hadoopConfiguration
      val out = HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), conf)
      val ts = Seq(1700000000123456789L, 1700000001000000999L,
        1700000002999999999L)
      val w = ExampleParquetWriter.builder(out).withType(schema)
        .withConf(conf).build()
      val groups = new SimpleGroupFactory(schema)
      try ts.zipWithIndex.foreach { case (t, i) =>
        w.write(groups.newGroup().append("event_id", i.toLong)
          .append("ts", t).append("user_id", 7L).append("event_type", "click")
          .append("value", 1.5).append("props", "{}"))
      } finally w.close()
      val e = intercept[AnalysisException](
        Parquet.read(spark, s"$dir/events.parquet"))
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
      val got = Tables.events(spark, dir).orderBy("event_id")
        .select("ts_us").collect().map(_.getLong(0)).toSeq
      assert(got === ts.map(_ / 1000))
    }
    val missing = intercept[AnalysisException](
      Tables.events(spark, "/nonexistent/graft-events"))
    assert(missing.getCondition === "PATH_NOT_FOUND", missing.getMessage)
  }
}
