package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Shared 64-bit avalanche mixer (splitmix64 finalizer — public-domain
  * constant set, Steele et al. "Fast Splittable Pseudorandom Number
  * Generators"). Runs in raw JVM long arithmetic (wrapping, no ANSI
  * overflow checks) identically in interpreted and generated code. */
object Mix64 {
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Java source for codegen — must match [[mix]] exactly. */
  val JavaDef: String =
    """
      |private static long graftMix64(long z) {
      |  z += 0x9E3779B97F4A7C15L;
      |  z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L;
      |  z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL;
      |  return z ^ (z >>> 31);
      |}
    """.stripMargin
}

/** The md5-mode permutation family (`graft.hash.md5Mode` — see
  * [[graft.ops.GraftConf.Md5Mode]]): h_i(x) = (A_i·(x mod P) + B_i) mod
  * P over the Mersenne prime P = 2³¹−1 — the classic universal family,
  * chosen because every step is plain non-overflowing BIGINT
  * arithmetic on BOTH engines (A_i < 2³¹, x mod P < 2³¹ ⇒ products
  * < 2⁶², no 128-bit tricks), so a DuckDB oracle replays signatures
  * value-for-value. Coefficients derive deterministically from the
  * same splitmix64 mixer the scale mode uses; the arrays are the ONE
  * source of truth for the Spark expression (codegen references them)
  * and the oracle SQL (interpolated as list literals). */
object UniHash {
  val P = 2147483647L // 2³¹ − 1 (Mersenne)
  val A: Array[Long] = Array.tabulate(128)(i =>
    (Mix64.mix(2L * i + 1) & Long.MaxValue) % (P - 1) + 1)
  val B: Array[Long] = Array.tabulate(128)(i =>
    (Mix64.mix(2L * i + 2) & Long.MaxValue) % P)
  /** The A/B coefficient arrays as DuckDB list literals. */
  def sqlA: String = A.mkString("[", ", ", "]")
  def sqlB: String = B.mkString("[", ", ", "]")
}

/** MinHash signature of a hashed-shingle set: for permutation i,
  * sig[i] = min over h in set of mix64(h ^ seed_i), seed_i = mix64(i)
  * — or, with `uni = true` (md5 oracle mode), min of the [[UniHash]]
  * universal-family value (A_i·(h mod P) + B_i) mod P, which a DuckDB
  * oracle replays exactly (inputs are the non-negative md5-derived
  * 52-bit gram hashes, so the Java `%` = SQL `%` on both operands).
  * One fused codegen loop either way: O(numPerms·|set|) long ops, no
  * intermediate arrays, no per-element virtual dispatch (the
  * interpreted HOF equivalent was the dedup hot path). */
case class MinHashSig(child: Expression, numPerms: Int,
    uni: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"minhash_sig expects array<bigint>, got " +
            other.catalogString)
    }

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sig = new Array[Long](numPerms)
    var i = 0
    while (i < numPerms) {
      var best = Long.MaxValue
      if (uni) {
        val a = UniHash.A(i)
        val b = UniHash.B(i)
        var j = 0
        while (j < n) {
          val v = (a * (hs.getLong(j) % UniHash.P) + b) % UniHash.P
          if (v < best) best = v
          j += 1
        }
      } else {
        val seed = Mix64.mix(i.toLong)
        var j = 0
        while (j < n) {
          val v = Mix64.mix(hs.getLong(j) ^ seed)
          if (v < best) best = v
          j += 1
        }
      }
      sig(i) = best
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    ctx.addNewFunction("graftMix64", Mix64.JavaDef)
    // freshName every local: two signature expressions in one generated
    // function would otherwise redefine `n`/`i`/... and fail janino
    // compilation (silent interpreted fallback).
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val best = ctx.freshName("best")
      val v = ctx.freshName("v")
      val inner = if (uni) {
        // the coefficient arrays ride in as references — ONE source of
        // truth with the interpreted path and the oracle's literals
        val ua = ctx.addReferenceObj("uniA", UniHash.A, "long[]")
        val ub = ctx.addReferenceObj("uniB", UniHash.B, "long[]")
        s"""
           |  long $best = Long.MAX_VALUE;
           |  for (int $j = 0; $j < $n; $j++) {
           |    long $v = ($ua[$i] * ($c.getLong($j) % ${UniHash.P}L)
           |      + $ub[$i]) % ${UniHash.P}L;
           |    if ($v < $best) $best = $v;
           |  }
         """.stripMargin
      } else {
        val seed = ctx.freshName("seed")
        s"""
           |  long $seed = graftMix64((long) $i);
           |  long $best = Long.MAX_VALUE;
           |  for (int $j = 0; $j < $n; $j++) {
           |    long $v = graftMix64($c.getLong($j) ^ $seed);
           |    if ($v < $best) $best = $v;
           |  }
         """.stripMargin
      }
      s"""
         |int $n = $c.numElements();
         |long[] $sig = new long[$numPerms];
         |for (int $i = 0; $i < $numPerms; $i++) {
         |$inner
         |  $sig[$i] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** 64-bit SimHash of a token-hash multiset: bit j of the result is set
  * iff more element hashes have bit j set than clear (ties → clear).
  * Single codegen loop with a local vote table. */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"simhash_sig expects array<bigint>, got " +
            other.catalogString)
    }

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // freshName every local — see MinHashSig.doGenCode.
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val b = ctx.freshName("b")
      val b2 = ctx.freshName("b2")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $c.numElements();
         |int[] $votes = new int[64];
         |for (int $j = 0; $j < $n; $j++) {
         |  long $h = $c.getLong($j);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b2 = 0; $b2 < 64; $b2++) {
         |  if ($votes[$b2] > 0) $sig |= (1L << $b2);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SimHashSig =
    copy(child = c)
}

/** Registration for the signature expressions. */
object SignatureFunctions {
  val MinHashName = "graft_minhash_sig"
  /** The md5-oracle-mode twin: [[UniHash]] permutations. */
  val MinHashUniName = "graft_minhash_sig_uni"
  val SimHashName = "graft_simhash_sig"
  val MinHashUnionName = "graft_minhash_union"

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val mh = FunctionIdentifier(MinHashName)
    if (!registry.functionExists(mh)) {
      registry.registerFunction(mh,
        new ExpressionInfo(classOf[MinHashSig].getName, MinHashName),
        (children: Seq[Expression]) => MinHashSig(children.head, 128))
    }
    val mhu = FunctionIdentifier(MinHashUniName)
    if (!registry.functionExists(mhu)) {
      registry.registerFunction(mhu,
        new ExpressionInfo(classOf[MinHashSig].getName, MinHashUniName),
        (children: Seq[Expression]) =>
          MinHashSig(children.head, 128, uni = true))
    }
    val sh = FunctionIdentifier(SimHashName)
    if (!registry.functionExists(sh)) {
      registry.registerFunction(sh,
        new ExpressionInfo(classOf[SimHashSig].getName, SimHashName),
        (children: Seq[Expression]) => SimHashSig(children.head))
    }
    val mu = FunctionIdentifier(MinHashUnionName)
    if (!registry.functionExists(mu)) {
      registry.registerFunction(mu,
        new ExpressionInfo(classOf[MinHashUnion].getName, MinHashUnionName),
        (children: Seq[Expression]) => MinHashUnion(children.head, 128))
    }
  }
}
