package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared column-level building blocks.
  *
  * Everything here is pure `org.apache.spark.sql.functions` composition —
  * no UDFs — so all operators stay inside Catalyst/Tungsten codegen and the
  * same logical expressions can be mirrored 1:1 in the DuckDB oracle SQL.
  *
  * Parity rules with the oracle (see SURVEY.md §4):
  *  - tokenization = split on `[^a-z]+` after ASCII lower() on both sides;
  *  - shingles are 3-word joins with single spaces, 1-based index math on
  *    the DuckDB side mirrors the 0-based `sequence` here;
  *  - all dot/cosine math is an explicit left-to-right fold over doubles so
  *    both engines produce bit-identical IEEE754 results.
  */
object Fns {

  /** Stopword list shared by quality scoring + language profiles. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "is", "on", "to", "for", "with")

  /** Word tokens — the tokenizer every text/dedup operator shares. By
    * default ASCII ([[tokensA]]; matches the oracle's `[^a-z]+` split);
    * setting [[GraftConf.TextUnicode]] on the session routes EVERY
    * caller to [[tokensU]], making Unicode a corpus-wide MODE rather
    * than a single query's behavior — a multilingual corpus flips one
    * conf, and tokenization, shingling, MinHash, and quality scoring
    * all follow consistently. Resolved at plan-construction time from
    * the active session (operators build their columns inside a query
    * method, where one is always active). */
  def tokens(text: Column): Column =
    if (GraftConf.TextUnicode.active) tokensU(text) else tokensA(text)

  /** ASCII word tokens: lower → split `[^a-z]+` → drop empties. */
  def tokensA(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), t => t =!= "")

  /** Unicode word tokens: lower → split on non-letter runs (`\p{L}` =
    * any Unicode letter) → drop empties. The multilingual counterpart
    * of [[tokens]] — a real 100 TB corpus is not lowercase ASCII, and
    * `[^a-z]` fragments every accented/non-Latin word. Case folding is
    * per-codepoint `lower()`, on which Spark (JDK mapping) and DuckDB
    * (utf8proc) agree across real-world scripts (Latin accents,
    * Cyrillic, CJK); locale-sensitive outliers (Turkish dotless ı,
    * Greek final sigma) are deliberately out of scope — both are
    * single-locale typographic rules, not language-ID signals. */
  def tokensU(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}]+"), t => t =!= "")

  /** Evaluate `c` ONCE per row and hand it to `f` as a bound lambda
    * variable. An argument expression referenced inside a lambda BODY
    * is re-evaluated per ELEMENT (lambda bodies evaluate their whole
    * subtree per iteration, and neither codegen CSE nor subexpression
    * elimination reaches inside a `LambdaFunction`) — so e.g. shingling
    * straight off `tokens(text)` re-tokenized the document once per
    * gram: one 5 000-doc scan measured 15 s inlined vs 0.4 s bound,
    * and `InferFiltersFromGenerate` triples the cost again by copying
    * the generator child into a size/isnotnull Filter. Wrapping in a
    * 1-element array + transform makes the argument a materialized
    * lambda variable that no optimizer rule can inline through (the
    * CollapseProject trap documented at `TextAnalysis
    * .winnowFingerprint`). */
  def bound(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** 3-word shingles ("w1 w2 w3"), empty array when < 3 tokens. The
    * token array binds once via [[bound]]: every `element_at` below
    * sits inside the per-gram lambda, so an unbound `toks` expression
    * (typically `tokens(text)`) would re-evaluate once per gram. */
  def shingles3(toks: Column): Column = bound(toks) { tk =>
    when(size(tk) >= 3,
      transform(sequence(lit(0), size(tk) - 3), i =>
        concat_ws(" ",
          element_at(tk, i + 1),
          element_at(tk, i + 2),
          element_at(tk, i + 3))))
      .otherwise(array().cast("array<string>"))
  }

  /** 5-word shingles, per-row (no window) — the stateless formulation
    * that streams in append mode; empty array when < 5 tokens. Token
    * array bound once, as in [[shingles3]]. */
  def shingles5(toks: Column): Column = bound(toks) { tk =>
    when(size(tk) >= 5,
      transform(sequence(lit(0), size(tk) - 5), i =>
        concat_ws(" ",
          element_at(tk, i + 1),
          element_at(tk, i + 2),
          element_at(tk, i + 3),
          element_at(tk, i + 4),
          element_at(tk, i + 5))))
      .otherwise(array().cast("array<string>"))
  }

  /** Sequential left-fold dot product of two double arrays (bit-stable). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Cast an array<float> embedding to array<double> (exact widening). */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** cosine = dot(a,b) / sqrt(dot(a,a) * dot(b,b)) — mirror this exact
    * formula (including the single sqrt over the product) in oracle SQL. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Content-hash bucket 0–15 (first md5 hex digit) — the reproducible
    * sampling/splitting primitive: engine-agnostic, stable across runs,
    * reshards, and cluster sizes (unlike seeded RNG sampling). */
  def md5Bucket(c: Column): Column =
    (instr(lit("0123456789abcdef"), substring(md5(c), 1, 1)) - 1)
      .cast("int")

  /** Content-hash bucket 0–255 (first TWO md5 hex digits) — the finer
    * variant of [[md5Bucket]] for rate-based per-stratum sampling,
    * where 1/16 granularity is too coarse to express a target rate. */
  def md5Bucket256(c: Column): Column =
    ((instr(lit("0123456789abcdef"), substring(md5(c), 1, 1)) - 1) * 16
      + (instr(lit("0123456789abcdef"), substring(md5(c), 2, 1)) - 1))
      .cast("int")

  /** 24-bit content hash (first SIX md5 hex digits) — the engine-
    * agnostic integer hash for fingerprint selection (winnowing),
    * where [[md5Bucket256]]'s 8 bits would collide constantly but a
    * full 64-bit engine hash (`xxhash64`) has no DuckDB mirror.
    * 16.7 M values: corpus-wide birthday collisions are a handful and
    * identical on both engines (same digest, same truncation). */
  def md5Hash24(c: Column): Column =
    bound(substring(md5(c), 1, 6)) { hex =>
      // hex binds once: the 6 digit extractions below would otherwise
      // each re-hash, and this helper runs inside per-GRAM lambdas
      // (winnowing) where that means 6 md5s per gram
      (1 to 6).map { i =>
        (instr(lit("0123456789abcdef"), substring(hex, i, 1)) - 1)
          .cast("long") * (1L << (4 * (6 - i)))
      }.reduce(_ + _)
    }

  /** DuckDB SQL fragment mirroring [[md5Hash24]]. */
  def sqlMd5Hash24(expr: String): String =
    (1 to 6).map { i =>
      s"(strpos('0123456789abcdef', substr(md5($expr), $i, 1)) - 1)" +
        s"::BIGINT * ${1L << (4 * (6 - i))}"
    }.mkString("(", " + ", ")")

  /** 52-bit content hash (first THIRTEEN md5 hex digits) — the
    * engine-agnostic gram identity for md5-mode shingle sets
    * ([[GraftConf.Md5Mode]]): wide enough that corpus-SF gram collisions are
    * negligible (75k distinct grams → P ≈ 6·10⁻⁷ at sf0.01 — and a
    * collision would fail the oracle gate loudly, never silently),
    * narrow enough that universal-family permutation arithmetic
    * ((a·(h mod p) + b) mod p, p = 2³¹−1) stays in plain BIGINT on
    * both engines. */
  def md5Hash52(c: Column): Column = md5Digits(c, 1, 13)

  /** [[md5Hash52]] from hex digits `off … off+n−1` of the digest —
    * the shared digit-parse core of the 24/52-bit hashes. */
  private def md5Digits(c: Column, off: Int, n: Int): Column =
    bound(substring(md5(c), off, n)) { hex =>
      // hex binds once ([[md5Hash24]]'s rule): these helpers run
      // inside per-gram lambdas where unbound digits re-hash per digit
      (1 to n).map { i =>
        (instr(lit("0123456789abcdef"), substring(hex, i, 1)) - 1)
          .cast("long") * (1L << (4 * (n - i)))
      }.reduce(_ + _)
    }

  /** DuckDB SQL fragment mirroring [[md5Hash52]]. */
  def sqlMd5Hash52(expr: String): String =
    (1 to 13).map { i =>
      s"(strpos('0123456789abcdef', substr(md5($expr), $i, 1)) - 1)" +
        s"::BIGINT * ${1L << (4 * (13 - i))}"
    }.mkString("(", " + ", ")")

  /** The SECOND independent 52-bit hash from the same digest (hex
    * digits 14–26) — the Kirsch–Mitzenheimer pair-hash companion of
    * [[md5Hash52]]: one md5 evaluation yields (h1, h2), and
    * (h1 + i·h2) mod m gives k derived hash functions both engines
    * replay (Bloom probes, universal permutations). */
  def md5Hash52b(c: Column): Column = md5Digits(c, 14, 13)

  /** DuckDB SQL fragment mirroring [[md5Hash52b]]. */
  def sqlMd5Hash52b(expr: String): String =
    (14 to 26).map { i =>
      s"(strpos('0123456789abcdef', substr(md5($expr), $i, 1)) - 1)" +
        s"::BIGINT * ${1L << (4 * (26 - i))}"
    }.mkString("(", " + ", ")")

  /** Full 64-bit md5-derived token hash (first 16 hex digits, digit 1
    * most significant) for md5-mode SimHash bit votes — assembled with
    * SHIFT/OR (bit ops, no ANSI-overflow trap: digit 1 lands on bits
    * 60–63 including the sign bit). The oracle never assembles the
    * long at all: it reads vote bit b straight from hex digit
    * 16 − b div 4, bit b mod 4 — same bits, no 64-bit signed
    * arithmetic in SQL. */
  def md5Hash64(c: Column): Column =
    bound(substring(md5(c), 1, 16)) { hex =>
      (1 to 16).map { i =>
        shiftleft(
          (instr(lit("0123456789abcdef"), substring(hex, i, 1)) - 1)
            .cast("long"), 4 * (16 - i))
      }.reduce(_ bitwiseOR _)
    }

  /** Deterministic train/valid/test assignment from an [[md5Bucket]]
    * (87.5 / 6.25 / 6.25 by bucket ranges). */
  def splitOf(bucket: Column): Column =
    when(bucket <= 13, "train")
      .when(bucket === 14, "valid")
      .otherwise("test")

  /** Corpus-scaled hyperplane count for sign-LSH bucketing. With p
    * planes a band has 2^p buckets, so expected occupancy is n/2^p — a
    * FIXED p keeps per-band candidate volume quadratic in n. Instead
    * p = ceil(log2(n / targetBucket)), clamped to [4, 24], holds
    * expected bucket occupancy — hence per-row candidate work —
    * constant as the corpus grows; the caller's one `count()` for n
    * is a metadata-cheap scan. Shared by
    * `dedup_embedding_lsh` (which [[GraftConf.LshPlanes]] overrides)
    * and `ann_lsh_topk` so the two sign-LSH operators scale by the
    * same rule. */
  def lshPlanes(n: Long, targetBucket: Long = 64L): Int = {
    // INTEGER search for the smallest p with targetBucket·2^p ≥ n —
    // mathematically ceil(log2(n/targetBucket)), but with no
    // floating log whose ulp could flip the answer at exact-power
    // boundaries; that exactness is what lets a DuckDB oracle
    // replay the plane count from its own count(*) (round 13 —
    // `ann_lsh_topk` / `dedup_embedding_lsh` hash gating).
    val nn = math.max(1L, n)
    var p = 0
    while (p < 24 && (targetBucket << p) < nn) p += 1
    math.max(4, p)
  }

  /** DuckDB SQL scalar mirroring [[lshPlanes]]' integer search, for an
    * `n`-valued scalar subquery fragment. */
  def sqlLshPlanes(nExpr: String, targetBucket: Long = 64L): String =
    s"(SELECT least(24, greatest(4, coalesce(min(q), 24)))::INT" +
      s" FROM (SELECT unnest(generate_series(0, 24)) AS q)" +
      s" WHERE ($targetBucket::BIGINT << q) >= greatest(1, $nExpr))"

  /** DuckDB SQL fragment mirroring [[md5Bucket256]]. */
  def sqlMd5Bucket256(expr: String): String =
    s"((strpos('0123456789abcdef', substr(md5($expr), 1, 1)) - 1) * 16" +
      s" + (strpos('0123456789abcdef', substr(md5($expr), 2, 1)) - 1))"

  /** DuckDB SQL fragment: word tokens of `expr` (mirror of [[tokens]]). */
  def sqlTokens(expr: String): String =
    s"list_filter(string_split_regex(lower($expr), '[^a-z]+'), t -> t <> '')"

  /** DuckDB SQL fragment mirroring [[tokensU]] (RE2 `\p{L}` ≡ Java
    * `\p{L}` on BMP codepoints; both engines split per codepoint). */
  def sqlTokensU(expr: String): String =
    s"list_filter(string_split_regex(lower($expr), '[^\\p{L}]+'), t -> t <> '')"

  /** DuckDB SQL fragment: 3-word shingles of token list `w`. */
  def sqlShingles3(w: String): String =
    s"(CASE WHEN len($w) >= 3 THEN " +
      s"[$w[i] || ' ' || $w[i+1] || ' ' || $w[i+2] " +
      s"for i in generate_series(1, len($w) - 2)] " +
      s"ELSE [] END)"

  /** DuckDB SQL fragment: 5-word shingles of token list `w` (mirror of
    * [[shingles5]]; the oracle joins gram STRINGS where Spark joins
    * their collision-free 64-bit hashes). */
  def sqlShingles5(w: String): String =
    s"(CASE WHEN len($w) >= 5 THEN " +
      s"[$w[i] || ' ' || $w[i+1] || ' ' || $w[i+2] || ' ' || $w[i+3]" +
      s" || ' ' || $w[i+4] " +
      s"for i in generate_series(1, len($w) - 4)] " +
      s"ELSE [] END)"

  /** DuckDB SQL fragment: sequential dot product of two float lists,
    * widened to double element-wise (mirror of [[dot]]∘[[asDouble]]). */
  def sqlDot(a: String, b: String): String =
    s"list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE " +
      s"for i in generate_series(1, len($a))])"

  /** DuckDB SQL fragment mirroring [[cosine]]. */
  def sqlCosine(a: String, b: String): String =
    s"(${sqlDot(a, b)} / sqrt(${sqlDot(a, a)} * ${sqlDot(b, b)}))"
}
