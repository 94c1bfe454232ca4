package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit FNV-1a — the document fingerprint primitive (SURVEY.md
  * §2C12). Public-domain constants; byte-level rolling hash over the
  * UTF-8 encoding. */
object Fnv1a64 {
  final val Offset = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L

  def hash(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }

  def hash(s: String): Long = hash(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

/** Native Catalyst expression for `fnv1a64(string) → long`.
  *
  * A custom `Expression` with `doGenCode` — not a Scala UDF — so the
  * fingerprint participates in WholeStageCodegen: no boxing, no
  * serialization round-trip, null handling generated by Spark. The
  * generated code calls the static `Fnv1a64.hash` on the UTF8String
  * bytes directly. */
case class Fnv1a64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  // StringType PATTERN, not equality: accepts non-default-collation
  // string columns under Spark 4 collations (the hash is over UTF-8
  // bytes, collation-independent)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"fnv1a64 requires a string argument, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    Fnv1a64.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fnv1a64.hash($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64Expr =
    copy(child = newChild)

  override def prettyName: String = "fnv1a64"
}

/** The SQL names of graft's native kernels, for SQL users:
  * `GraftSession.local` registers them once per session and
  * [[GraftExtensions]] injects them on a cluster. Graft code calls the
  * same kernels through the typed builders of [[F]] and never needs a
  * registration. */
object GraftFunctions {
  /** The integer literal at `args(i)` — a plan-time constant of the
    * kernel `fn`, named `arg` in the error. */
  private def intLit(fn: String, arg: String, args: Seq[Expression], i: Int): Int =
    args(i) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got $other")
    }

  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("fnv1a64", classOf[Fnv1a64Expr], args => Fnv1a64Expr(args.head)),
    ("vec_dot", classOf[VecDotExpr], args => VecDotExpr(args(0), args(1))),
    ("vec_sqdist", classOf[VecSqDistExpr], args => VecSqDistExpr(args(0), args(1))),
    ("graft_shingles", classOf[ShinglesExpr],
      args => ShinglesExpr(args(0), intLit("graft_shingles", "n", args, 1))),
    ("graft_word_bigrams", classOf[WordBigramsExpr], args => WordBigramsExpr(args.head)),
    ("graft_window_hashes", classOf[WindowHashesExpr],
      args => WindowHashesExpr(args(0), intLit("graft_window_hashes", "k", args, 1))),
    ("graft_hash_shingles", classOf[HashShinglesExpr],
      args => HashShinglesExpr(args(0), intLit("graft_hash_shingles", "n", args, 1))),
    ("graft_minhash_sig", classOf[MinhashSigExpr],
      args => MinhashSigExpr(args(0), intLit("graft_minhash_sig", "perms", args, 1))),
    ("graft_text_stats", classOf[TextStatsExpr], args => TextStatsExpr(args.head)),
    ("graft_bpe_clean", classOf[BpeCleanExpr], args => BpeCleanExpr(args.head)),
    ("graft_pii_counts", classOf[PiiCountsExpr], args => PiiCountsExpr(args.head)),
    ("graft_pii_redact", classOf[PiiRedactExpr], args => PiiRedactExpr(args.head)),
    ("graft_strip_dup_windows", classOf[StripDupWindowsExpr],
      args => StripDupWindowsExpr(args(0), args(1), intLit("graft_strip_dup_windows", "k", args, 2))),
    ("graft_dup_span_count", classOf[DupSpanCountExpr],
      args => DupSpanCountExpr(args(0), intLit("graft_dup_span_count", "k", args, 1))),
    ("vec_lsh_sign", classOf[VecLshSignExpr],
      args => VecLshSignExpr(args(0), intLit("vec_lsh_sign", "nbits", args, 1))))

  def register(spark: SparkSession): Unit = all.foreach { case (name, _, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}

/** `SparkSessionExtensions` hook for cluster deployments:
  * `spark.sql.extensions=graft.functions.GraftExtensions` registers
  * the native functions in every session without code changes. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, cls, builder) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}
