package graft

import org.apache.spark.sql.SparkSession
import graft.ops.GraftConf

/** The knob registry: every read validates and names the key, and the
  * oracle-dump rule refuses two live sessions that disagree. */
class GraftConfSpec extends SparkSpec {

  private def refused(k: GraftConf.Knob[_], v: String): Unit =
    withConf(k.key -> v) {
      val e = intercept[IllegalArgumentException](k(spark))
      assert(e.getMessage.contains(k.key), e.getMessage)
    }

  test("every numeric knob refuses a non-number and an out-of-range " +
      "value, naming its key") {
    val numeric = GraftConf.all.collect {
      case k if k.kind.isInstanceOf[GraftConf.Num] =>
        k -> k.kind.asInstanceOf[GraftConf.Num]
    }
    assert(numeric.nonEmpty)
    numeric.foreach { case (k, GraftConf.Num(lo, hi)) =>
      refused(k, "x")
      refused(k, "1.5")
      refused(k, (lo - 1).toString)
      if (hi < Long.MaxValue) refused(k, (BigInt(hi) + 1).toString)
      withConf(k.key -> lo.toString)(k(spark))
    }
    Seq(GraftConf.LshPlanes, GraftConf.DbscanLshPlanes).foreach { k =>
      assert(k.kind === GraftConf.Num(1, 24), k.key)
    }
  }

  test("every boolean knob takes true and false in any case and " +
      "refuses anything else") {
    val flags = GraftConf.all.filter(_.kind == GraftConf.Flag)
    assert(flags.nonEmpty)
    flags.foreach { k =>
      assert(k(spark) == false, k.key)
      Seq("true" -> true, "TRUE" -> true, "True" -> true,
          "false" -> false, "FALSE" -> false).foreach { case (v, b) =>
        withConf(k.key -> v)(assert(k(spark) == b, s"${k.key}=$v"))
      }
      refused(k, "yes")
      refused(k, "1")
    }
  }

  test("every text knob refuses an empty value, naming its key") {
    GraftConf.all.filter(_.kind.isInstanceOf[GraftConf.Text])
      .foreach(refused(_, ""))
    refused(GraftConf.CandidateStage, "suffix")
    refused(GraftConf.QTerms, ",,")
    withConf(GraftConf.QTerms.key -> "a,,b") {
      assert(GraftConf.QTerms(spark) === Seq("a", "b"))
    }
  }

  test("a bad knob value fails at the operator, naming the knob") {
    withConf(GraftConf.LshPlanes.key -> "0") {
      val e = intercept[IllegalArgumentException](
        SparkEntry.queries("dedup_embedding_lsh")(spark, sf0001))
      assert(e.getMessage.contains("graft.lsh.planes"), e.getMessage)
    }
    withConf(GraftConf.CcMaxIters.key -> "x") {
      val e = intercept[IllegalArgumentException](
        SparkEntry.queries("dedup_clusters")(spark, sf0001).collect())
      assert(e.getMessage.contains("graft.cc.maxIters"), e.getMessage)
    }
  }

  /** Runs `body` with a second session active beside the default one,
    * `other` conf set on it. */
  private def beside[A](other: (String, String))(body: => A): A = {
    val s2 = spark.newSession()
    s2.conf.set(other._1, other._2)
    SparkSession.setActiveSession(s2)
    try body finally SparkSession.setActiveSession(spark)
  }

  test("the oracle dump refuses a knob two live sessions resolve " +
      "differently, and interpolates it when they agree") {
    Seq(("knn_graph_ivf", GraftConf.KnngraphNprobe.key, "4",
          "WHERE rn <= 4"),
        ("dedup_embedding_lsh", GraftConf.LshPlanes.key, "7",
          "SELECT 7 AS np"),
        ("retrieval_eval_mrr", GraftConf.MrrNProbes.key, "7", "LIMIT 7)"))
      .foreach { case (q, key, v, text) =>
        beside(key -> v) {
          val e = intercept[IllegalArgumentException](
            SparkEntry.oracleSql(q))
          assert(e.getMessage.contains(key), e.getMessage)
          withConf(key -> v) {
            assert(SparkEntry.oracleSql(q).contains(text), q)
          }
        }
      }
    assert(!SparkEntry.oracleSql("knn_graph_ivf").contains("WHERE rn <= 4"))
  }
}
