package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import graft.ops.Materialize

/** The serving workload's write side. The corpus directory holds
  * `documents.parquet/` and `events.parquet/` as directories of part
  * files. A refresh first compacts both generation chains with the
  * delta writers over the chain head when the chain has reached
  * `depth`; it then appends the next seeded batch (new doc_ids above
  * the current max, one later day of events) as new part files, writes
  * an append generation of the lexical index and the feature store to
  * fresh paths, and flips the two conf pointers. */
final class Serving(corpus: String, batches: String, work: String,
    spans: Spans) {
  /** Chain length at which the next refresh compacts before it
    * appends: from the first refresh on, reads see an append
    * generation over a full or compacted one, and every refresh after
    * the first compacts. */
  val depth = 2
  var lexHead = ""
  var featHead = ""
  var chain = 1
  var refreshes = 0
  var compactions = 0
  private var nextBatch = 0

  val LexConf = "graft.lex.indexPath"
  val FeatConf = "graft.features.storePath"

  /** Full builds of both conf-routed artifacts; returns seconds. */
  def build(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    lexHead = s"$work/lex-g0"
    featHead = s"$work/feat-g0"
    spans("materialize.lexicalIndex") { Materialize.lexicalIndex(spark, corpus, lexHead) }
    spans("materialize.featureStore") { Materialize.featureStore(spark, corpus, featHead) }
    chain = 1
    flip(spark)
    (System.nanoTime() - t0) / 1e9
  }

  private def flip(spark: SparkSession): Unit = {
    spark.conf.set(LexConf, lexHead)
    spark.conf.set(FeatConf, featHead)
  }

  def batchesLeft: Boolean =
    Files.isDirectory(Paths.get(f"$batches/$nextBatch%02d"))

  /** One refresh cycle; returns its parts' seconds and byte counts. */
  def refresh(spark: SparkSession): Map[String, Double] = {
    val b = f"$batches/$nextBatch%02d"
    val g = refreshes + 1
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    var t = System.nanoTime()
    val compacted = chain >= depth
    var written = 0L
    if (compacted) {
      val lexC = s"$work/lex-c$g"
      val featC = s"$work/feat-c$g"
      spans("materialize.lexicalIndexDelta") {
        Materialize.lexicalIndexDelta(spark, corpus, lexHead, lexC)
      }
      spans("materialize.featureStoreDelta") {
        Materialize.featureStoreDelta(spark, corpus, featHead, featC)
      }
      written += Serving.bytes(lexC) + Serving.bytes(featC)
      lexHead = lexC
      featHead = featC
      chain = 1
      compactions += 1
    }
    val compact = if (compacted) secs(t) else 0.0
    t = System.nanoTime()
    val inBytes = spans("append") {
      Seq("documents", "events").map { tbl =>
        val dst = Paths.get(f"$corpus/$tbl.parquet/part-b$nextBatch%02d.parquet")
        Files.copy(Paths.get(s"$b/$tbl.parquet"), dst, StandardCopyOption.COPY_ATTRIBUTES)
        Files.size(dst)
      }.sum
    }
    val appendFiles = secs(t)
    t = System.nanoTime()
    val lexNew = s"$work/lex-g$g"
    val featNew = s"$work/feat-g$g"
    spans("materialize.lexicalIndexAppend") {
      Materialize.lexicalIndexAppend(spark, corpus, lexHead, lexNew)
    }
    spans("materialize.featureStoreAppend") {
      Materialize.featureStoreAppend(spark, corpus, featHead, featNew)
    }
    val append = secs(t)
    written += Serving.bytes(lexNew) + Serving.bytes(featNew)
    lexHead = lexNew
    featHead = featNew
    chain += 1
    spans("conf_flip") { flip(spark) }
    nextBatch += 1
    refreshes = g
    Map("append_files_s" -> appendFiles, "append_s" -> append,
      "compact_s" -> compact, "compacted" -> (if (compacted) 1.0 else 0.0),
      "bytes_written" -> written.toDouble, "batch_bytes" -> inBytes.toDouble,
      "chain_after" -> chain.toDouble)
  }
}

object Serving {
  def bytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong((p: Path) => Files.size(p)).sum()
    finally s.close()
  }
}
