package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.GraftFunctions

/** The two Lloyd primitives every k-means, IVF and PQ fit runs, on
  * hand-built frames: [[Similarity.nearest]] breaks an exact score tie
  * toward the smaller cid under cosine and under L2, a centroid that
  * attracts no point drops out of the refresh, and
  * [[Similarity.meanVectors]] lands each component on the 10⁻⁶ grid in
  * pos order. */
class CentroidSpec extends SparkSpec {
  import spark.implicits._

  private def points(vs: (Long, Seq[Double])*): DataFrame =
    vs.toDF("vec_id", "emb")

  private def cents(cs: (Int, Seq[Double])*): DataFrame =
    cs.toDF("cid", "cvec")

  private def cosine: org.apache.spark.sql.Column = {
    GraftFunctions.register(spark)
    call_function(GraftFunctions.CosineName, col("emb"), col("cvec"))
  }

  private def cells(df: DataFrame): Map[Long, Int] =
    df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("nearest: an exact cosine tie goes to the smaller cid") {
    // point 0 sits at 45° from cids 3 and 1 (bit-identical cosines);
    // point 1 is a duplicate of cids 6 and 2; point 2 is nearest to 4
    val ps = points(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0),
      2L -> Seq(-1.0, 0.1))
    val cs = cents(3 -> Seq(1.0, 1.0), 1 -> Seq(1.0, -1.0),
      6 -> Seq(0.0, 2.0), 2 -> Seq(0.0, 2.0), 4 -> Seq(-1.0, 0.0))
    assert(cells(Similarity.nearest(ps, cs, Nil, cosine)) ===
      Map(0L -> 1, 1L -> 2, 2L -> 4))
  }

  test("nearest: an exact L2 tie goes to the smaller cid, per subspace " +
      "(the PQ encode)") {
    // subvector 0 is (1, 0, …): codewords 4 and 2 sit at squared
    // distance 1 each, codeword 7 far away; subvector 1 is all zero,
    // so its identical codewords 5 and 3 tie at distance 0
    val emb = Array.fill(64)(0f)
    emb(0) = 1f
    val batch = Seq((9L, emb.toSeq)).toDF("vec_id", "embedding")
    def word(x: Double): Seq[Double] = x +: Seq.fill(7)(0.0)
    val cb = Seq((0, 4, word(0.0)), (0, 2, word(2.0)), (0, 7, word(5.0)),
      (1, 5, word(0.0)), (1, 3, word(0.0)))
      .toDF("sub", "cid", "cvec")
    val codes = Similarity.pqEncodeFrozen(batch, cb).collect()
      .map(r => r.getInt(1) -> r.getInt(2)).toMap
    assert(codes === Map(0 -> 2, 1 -> 3))
  }

  test("a centroid that attracts no point drops out after one refresh") {
    // seeds 0 and 1 are the same vector: every point that ties between
    // them goes to 0, so 1 attracts nothing
    val ps = points(0L -> Seq(1.0, 0.0), 1L -> Seq(1.0, 0.0),
      2L -> Seq(0.0, 1.0), 3L -> Seq(0.1, 1.0))
    val seeds = cents(0 -> Seq(1.0, 0.0), 1 -> Seq(1.0, 0.0),
      2 -> Seq(0.0, 1.0))
    val refreshed = Similarity.meanVectors(
      Similarity.nearest(ps, seeds, Nil, cosine).join(ps, "vec_id"),
      Seq("cid"), col("emb"), round(_, 6))
    assert(refreshed.select("cid").as[Int].collect().sorted.toSeq ===
      Seq(0, 2))
    // the k-means fit (seeded by the 3 smallest vec_ids, the same
    // three vectors) drops it the same way
    assert(Similarity.kmeansFit(ps, 3).select("cid").as[Int].collect()
      .sorted.toSeq === Seq(0, 2))
  }

  test("meanVectors: components land on the 10⁻⁶ grid in pos order, " +
      "per key") {
    // 12 dims with non-monotone means, so a component out of pos order
    // (or sorted as text: "10" < "2") would show
    val a1 = Seq(1.0, 2.0, 3.0, 4.0, 0.0, 9.0, 8.0, 7.0, 6.0, 5.0, 4.0,
      3.0)
    val a2 = Seq(0.0, 1.0 / 3, 2.0, 1e-7, 2.0 / 3, 1.0, 0.0, 0.0, 0.0,
      0.0, 1.0 / 7, 0.0)
    val b1 = Seq.tabulate(12)(i => (11 - i) / 3.0)
    val df = Seq(("a", 0, a1), ("a", 0, a2), ("b", 0, b1), ("a", 1, b1))
      .toDF("sub", "cid", "emb")
    val got = Similarity.meanVectors(df, Seq("sub", "cid"), col("emb"),
        round(_, 6))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        r.getSeq[Double](2)).toMap
    def grid(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Map(
      ("a", 0) -> a1.zip(a2).map { case (x, y) => grid((x + y) / 2) },
      ("b", 0) -> b1.map(grid), ("a", 1) -> b1.map(grid))
    assert(got === want)
    assert(want(("a", 0)).take(4) === Seq(0.5, 1.166667, 2.5, 2.0))
    got.values.flatten.foreach { c =>
      assert(math.abs(c * 1e6 - math.rint(c * 1e6)) < 1e-6,
        s"$c is off the 10⁻⁶ grid")
    }
  }
}
