package graft

import org.apache.spark.GraftBlocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** [[Dedup.ccLoop]]'s two paths — the driver-side union-find within the
  * edge bound and the distributed pointer-jumping rounds above it — give
  * the same rows, on hand-built graphs and through every query and
  * writer that runs the loop; and the distributed loops keep no round's
  * checkpoint once they return. A negative bound forces the distributed
  * path even on an empty edge set (a bound of 0 still labels that one
  * locally). */
class CcPathsSpec extends SparkSpec {

  private val Distributed = -1

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Min id reachable, by flooding the undirected graph. */
  private def expected(nodes: Seq[Long], pairs: Seq[(Long, Long)])
      : Seq[String] = {
    val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    nodes.distinct.map { n =>
      var seen = Set(n)
      var frontier = Set(n)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- seen
        seen ++= frontier
      }
      s"[$n,${seen.min}]"
    }.sorted
  }

  test("ccLoop: the local union-find and the distributed rounds give " +
      "the same rows on chains, stars, components, singletons, " +
      "duplicate nodes, no edges and no nodes") {
    import spark.implicits._
    // ids interleave so the min reaches the chain's far end only
    // through several pointer jumps
    val chain = (0 until 24).map(i => (i * 7 % 24).toLong)
      .sliding(2).map { case Seq(a, b) => (a min b, a max b) }.toSeq
    val star = (0L to 10L).filter(_ != 5L).map(l => (l min 5L, l max 5L))
    val graphs: Seq[(String, Seq[Long], Seq[(Long, Long)])] = Seq(
      ("chain", (0L until 24L), chain),
      ("star", (0L to 10L), star),
      ("two components", Seq(0L, 1L, 2L, 10L, 11L),
        Seq((0L, 1L), (1L, 2L), (10L, 11L))),
      ("singletons", Seq(0L, 1L, 2L, 100L, 101L), Seq((1L, 2L))),
      ("duplicate nodes", Seq(3L, 3L, 1L, 2L, 2L, 9L, 9L),
        Seq((1L, 3L), (2L, 3L))),
      ("no edges", Seq(4L, 2L, 2L, 7L), Nil),
      ("no nodes", Nil, Nil))
    graphs.foreach { case (name, nodes, pairs) =>
      val n = nodes.toDF("doc_id")
      val p = pairs.toDF("a_id", "b_id")
      val local = rows(Dedup.ccLoop(n, p, 50))
      val dist = rows(Dedup.ccLoop(n, p, 50, Distributed))
      assert(local === expected(nodes, pairs), s"$name: local path")
      assert(dist === local, s"$name: distributed path differs")
    }
  }

  test("queries that run the CC loop give the same rows under both " +
      "paths at sf0.001") {
    Seq("dedup_clusters", "cluster_dbscan", "cc_incremental").foreach { q =>
      val local = rows(SparkEntry.queries(q)(spark, sf0001))
      val dist = Dedup.ccBound.withValue(Distributed) {
        rows(SparkEntry.queries(q)(spark, sf0001))
      }
      assert(local.nonEmpty, s"$q: empty fixture")
      assert(dist === local, s"$q: distributed path differs")
    }
    val base = java.nio.file.Files.createTempDirectory("graft-ccpaths")
    graft.ops.Materialize.ccLabels(spark, sf0001, s"$base/local")
    Dedup.ccBound.withValue(Distributed) {
      graft.ops.Materialize.ccLabels(spark, sf0001, s"$base/dist")
    }
    assert(rows(spark.read.parquet(s"$base/dist")) ===
      rows(spark.read.parquet(s"$base/local")),
      "Materialize.ccLabels: distributed path differs")
  }

  test("the distributed CC loop and the k-core loop keep only their " +
      "output's checkpoint, and never release their input's") {
    import spark.implicits._
    val persisted = () => spark.sparkContext.getPersistentRDDs.size
    Tool.reset(spark)
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      .localCheckpoint()
    assert(persisted() === 1)
    val labels = Dedup.ccLoop((0L to 20L).toDF("doc_id"), chain, 50,
      Distributed)
    assert(persisted() <= 2, "the CC loop kept a round's checkpoint")
    assert(labels.filter(col("label") =!= 0L).count() === 0L)
    val core = Dedup.kcoreOf(chain, 30)
    assert(persisted() <= 3, "the k-core loop kept a round's checkpoint")
    assert(core.filter(col("coreness") =!= 1L).count() === 0L)
    assert(chain.count() === 20L, "a loop released its caller's input")
    Tool.reset(spark)
    assert(persisted() === 0)
  }

  test("GraftBlocks.release takes only the frame a checkpoint returned") {
    import spark.implicits._
    val ck = Seq(1L, 2L).toDF("x").localCheckpoint()
    val e = intercept[IllegalArgumentException] {
      GraftBlocks.release(ck.filter(col("x") > 1L))
    }
    assert(e.getMessage.contains("checkpointed frame"))
    val before = spark.sparkContext.getPersistentRDDs.size
    GraftBlocks.release(ck)
    assert(spark.sparkContext.getPersistentRDDs.size === before - 1)
  }
}
