package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.ops.{ArtifactTag, Materialize}

/** The one below-cut admission contract ([[graft.ops.Materialize]]'s
  * `admit`), held by every artifact reader and refresh writer that
  * takes its old/new cut from an old artifact's provenance: an edit
  * below the cut is refused by checksum; under
  * `graft.artifact.trustOldContent` the edit is admitted and only a
  * change in the below-cut row count is refused. */
class AdmissionSpec extends SparkSpec {

  private def corpus(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-admit").toString
    rows.toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** Five letter-only tokens unique to doc `i`: no two docs share a
    * shingle. */
  private def text(i: Long): String = {
    val t = ('a' + i.toInt).toChar
    s"alpha$t beta$t gamma$t delta$t epsilon$t"
  }

  test("below-cut admission: every reader and writer refuses an edited " +
      "old doc, and under trustOldContent admits it but refuses a " +
      "backfilled one") {
    // ids leave a gap at 2 below the cut (the old slice is ids < 4,
    // recorded max_doc_id 3), so a backfill can land there
    val base = Seq(0L, 1L, 3L, 4L, 5L, 6L, 7L, 8L).map(i => i -> text(i))
    val dir = corpus(base)
    val edited = corpus(base.map {
      case (1L, _) => 1L -> "omega psi chi phi upsilon"
      case r => r
    })
    val backfilled = corpus((base :+ (2L -> text(2L))).sortBy(_._1))
    val old = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") < 4).select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-admit").toString
    var outs = 0
    def fresh(): String = { outs += 1; s"$root/out$outs" }
    def query(q: String, knob: String)(path: String, d: String): Unit =
      withConf(knob -> path) { SparkEntry.queries(q)(spark, d).collect() }
    // (name, the slice writer of its old artifact, one admission of
    // the artifact at `path` against corpus `d`)
    val rows: Seq[(String, (DataFrame, String) => Unit,
        (String, String) => Unit)] = Seq(
      ("dedup_minhash_incremental",
        Materialize.minhashIndexOf(spark, _, _, dir),
        query("dedup_minhash_incremental", "graft.minhash.oldIndexPath")),
      ("dedup_simhash_incremental",
        Materialize.simhashIndexOf(spark, _, _, dir),
        query("dedup_simhash_incremental", "graft.simhash.oldIndexPath")),
      ("cc_incremental", Materialize.ccLabelsOf(spark, _, _, dir),
        query("cc_incremental", "graft.cc.oldLabelsPath")),
      ("lexicalIndexAppend", Materialize.lexicalIndexOf(spark, _, _, dir),
        (p, d) => Materialize.lexicalIndexAppend(spark, d, p, fresh())),
      ("pairGraphDelta", Materialize.pairGraphOf(spark, _, _, dir),
        (p, d) => Materialize.pairGraphDelta(spark, d, p, fresh())))
    // (corpus, trustOldContent, the refusal expected; None = admitted)
    val cases = Seq(
      ("own corpus", dir, false, None),
      ("edited", edited, false, Some("old-slice checksum mismatch")),
      ("edited", edited, true, None),
      ("backfilled", backfilled, false, Some("old-slice checksum mismatch")),
      ("backfilled", backfilled, true, Some("old-slice count mismatch")))
    rows.foreach { case (name, write, admit) =>
      val path = s"$root/$name"
      write(old, path)
      cases.foreach { case (label, d, trust, refusal) =>
        // rebind the corpus tag so only the slice guard is under test
        ArtifactTag.write(spark, path, d)
        withClue(s"$name, $label corpus, trustOldContent=$trust: ") {
          withConf("graft.artifact.trustOldContent" -> trust.toString) {
            refusal match {
              case None => admit(path, d)
              case Some(msg) =>
                val e = intercept[IllegalArgumentException](admit(path, d))
                assert(e.getMessage.contains(msg), e.getMessage)
            }
          }
        }
      }
    }
  }
}
