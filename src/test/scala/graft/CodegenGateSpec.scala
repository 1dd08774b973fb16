package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** A deliberately compile-FAILING expression — the negative control
  * proving the codegen gate detects the failure class it exists for:
  * interpreted `eval` works, but `doGenCode` emits invalid Java, so
  * under default confs Spark silently falls back to interpreted
  * execution (the 10×+ regression the codegen audit hunts) while the
  * strict gate turns the same plan into a hard failure. */
case class BrokenCodegen(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override protected def nullSafeEval(input: Any): Any = input
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"deliberately not java ($c")
  override protected def withNewChildInternal(
      newChild: Expression): BrokenCodegen = copy(child = newChild)
}

/** The codegen audit as a GATE, not a manual `runMain` (round-10
  * verdict task #4): every registered query must execute with
  * whole-stage-codegen fallback disabled and CODEGEN_ONLY factories —
  * a janino compile failure in any hot-path expression is normally a
  * SILENT fall-back to interpreted eval (wrong by 10×+ at 100 TB,
  * invisible to every correctness check), and this spec makes it a
  * red test in scripts/snapshot.sh instead. `graft.Profile` under the
  * same two confs is the standalone run at other SFs. */
class CodegenGateSpec extends SparkSpec {

  /** Run `body` with codegen strictness ON (compile failures throw
    * instead of falling back), restoring the shared session after. */
  private def strict[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("negative control: a compile-failing expression runs silently " +
      "under default confs but FAILS under the strict gate") {
    val name = "graft_test_broken_codegen"
    val reg = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier(name)
    if (!reg.functionExists(ident))
      reg.registerFunction(ident,
        new ExpressionInfo(classOf[BrokenCodegen].getName, name),
        (children: Seq[Expression]) => BrokenCodegen(children.head))
    // spark.range, NOT a local Seq: ConvertToLocalRelation folds a
    // projection over a LocalRelation at optimization time with
    // interpreted eval, so the broken codegen would never be asked
    // to compile and both modes would "pass"
    def run(): Array[org.apache.spark.sql.Row] =
      spark.range(4)
        .select(call_function(name, col("id")).as("y"))
        .agg(sum("y")).collect()
    // default confs: the broken codegen falls back to interpreted
    // eval and the query SUCCEEDS — exactly the silent regression
    // class the gate below must refuse
    assert(run().head.getLong(0) === 6L,
      "fallback mode should tolerate the broken expression")
    strict {
      val e = intercept[Throwable] { run() }
      assert(e != null)
    }
  }

  test("every registered query executes under CODEGEN_ONLY with " +
      "fallback disabled (no silently-interpreted registry entry)") {
    strict {
      val failures = SparkEntry.queries.toSeq.sortBy(_._1)
        .flatMap { case (name, fn) =>
          try { fn(spark, sf0001).count(); None }
          catch {
            case e: Throwable => Some(s"$name: " +
              s"${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage)
                .linesIterator.take(2).mkString(" | "))
          }
        }
      assert(failures.isEmpty,
        "codegen audit failures:\n  " + failures.mkString("\n  "))
    }
  }

  test("the md5 GATE-MODE sketch paths also compile under " +
      "CODEGEN_ONLY (graft.Verify runs them for every driver gate)") {
    // the registry sweep above runs the scale default (xxhash64 +
    // splitmix codegen); the correctness dump runs the SAME queries
    // in md5 hash mode — UniHash permutations, md5-digit parsing,
    // KM Bloom probes, digit-rotation fingerprints. A janino failure
    // there would silently interpret every gate run (correct rows,
    // 10×+ slower dumps) and the default-mode sweep would never see
    // it. Exercise the distinct md5-mode codegen surfaces explicitly.
    val md5Keys = Seq("dedup_minhash_lsh", "dedup_simhash",
      "dedup_source_minhash", "bloom_decontaminate",
      "text_fingerprint", "mm_feature_extract")
    withConf(graft.ops.GraftConf.Md5Mode.key -> "true") {
      strict {
        val failures = md5Keys.flatMap { name =>
          try { SparkEntry.queries(name)(spark, sf0001).count(); None }
          catch {
            case e: Throwable => Some(s"$name: " +
              s"${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage)
                .linesIterator.take(2).mkString(" | "))
          }
        }
        assert(failures.isEmpty,
          "md5-mode codegen failures:\n  " + failures.mkString("\n  "))
      }
    }
  }
}
