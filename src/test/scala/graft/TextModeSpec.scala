package graft

import org.apache.spark.sql.functions._
import graft.ops.Fns

/** `graft.text.unicode` — the corpus-wide tokenizer mode switch. One
  * conf routes EVERY `Fns.tokens` caller (token counts, word freq,
  * shingles, MinHash, quality, packing) from the ASCII `[^a-z]+` split
  * to the Unicode `[^\p{L}]+` split, so a multilingual corpus is a
  * config change, not a code change. These tests pin the routing, the
  * concrete count deltas on non-ASCII text, and that the DEFAULT mode —
  * the one the driver's oracle gate runs — is byte-identical to the
  * pinned ASCII tokenizer. */
class TextModeSpec extends SparkSpec {

  private def withUnicode[T](on: Boolean)(body: => T): T = {
    spark.conf.set(graft.ops.GraftConf.TextUnicode.key, on.toString)
    try body
    finally spark.conf.unset(graft.ops.GraftConf.TextUnicode.key)
  }

  test("mode routing: accented text fragments in ASCII, stays whole in Unicode") {
    import spark.implicits._
    val df = Seq("Café NAÏVE señor — Привет 世界").toDF("text")
    // ASCII default: 'café'→[caf], 'naïve'→[na,ve], 'señor'→[se,or],
    // Cyrillic/CJK vanish entirely → 6 fragments
    val ascii = df.select(Fns.tokens(col("text")).as("t")).head().getSeq[String](0)
    assert(ascii === Seq("caf", "na", "ve", "se", "or"),
      s"ASCII split changed: $ascii")
    val uni = withUnicode(on = true) {
      df.select(Fns.tokens(col("text")).as("t")).head().getSeq[String](0)
    }
    // Unicode: each word survives whole (CJK is one unbroken letter run)
    assert(uni === Seq("café", "naïve", "señor", "привет", "世界"),
      s"Unicode split changed: $uni")
  }

  test("explicit=false and unset behave identically (default is ASCII)") {
    import spark.implicits._
    val df = Seq("Straße año").toDF("text")
    val unset = df.select(Fns.tokens(col("text")).as("t")).head().getSeq[String](0)
    val off = withUnicode(on = false) {
      df.select(Fns.tokens(col("text")).as("t")).head().getSeq[String](0)
    }
    assert(unset === off)
    assert(unset === Seq("stra", "e", "a", "o"))
  }

  test("text_token_count runs in both modes; ASCII corpus shows zero delta") {
    // the synthetic corpus is lowercase ASCII word-soup, so the two
    // modes must agree on it exactly — which is WHY flipping the conf
    // cannot move the driver's oracle gate (it runs default mode)
    val a = TextModeSpec.tokenCount(spark, sf0001)
    val u = withUnicode(on = true) { TextModeSpec.tokenCount(spark, sf0001) }
    assert(a === u, "unicode mode moved token counts on a pure-ASCII corpus")
    assert(a.nonEmpty && a.values.sum > 0)
  }

  test("a mixed-script corpus shows the documented count delta per mode") {
    import spark.implicits._
    // per doc: 3 ASCII words + 2 accented + 1 Cyrillic word
    val docs = Seq(
      (1L, "plain words here café naïve мир"),
      (2L, "more plain text señor über мир")).toDF("doc_id", "text")
    def counts(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select(col("doc_id"), size(Fns.tokens(col("text"))).as("n"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ascii = counts(docs)
    val uni = withUnicode(on = true) { counts(docs) }
    // ASCII: café→1 (caf), naïve→2 (na,ve), мир→0 ⇒ doc1 = 3+1+2+0 = 6
    //        señor→2, über→1 (ber), мир→0        ⇒ doc2 = 3+2+1+0 = 6
    assert(ascii === Map(1L -> 6, 2L -> 6))
    // Unicode: every word is one token ⇒ 6 per doc — same count here,
    // but the TOKENS differ (whole words vs fragments); pin one
    assert(uni === Map(1L -> 6, 2L -> 6))
    val uniToks = withUnicode(on = true) {
      docs.filter(col("doc_id") === 1L)
        .select(Fns.tokens(col("text")).as("t")).head().getSeq[String](0)
    }
    assert(uniToks.contains("мир") && uniToks.contains("café"))
  }
}

object TextModeSpec {
  /** doc_id → n_tokens via the mode-routed shared tokenizer. */
  def tokenCount(s: org.apache.spark.sql.SparkSession,
      d: String): Map[Long, Long] =
    graft.operators.TextAnalysis.queries("text_token_count")(s, d)
      .select(col("doc_id"), col("n_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
}
