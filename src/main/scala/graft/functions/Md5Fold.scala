package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types._

/** The 60-bit md5 fold every md5-derived hash in the repo shares:
  * `conv(substring(md5(x), 1, 15), 16, 10)` read straight from the
  * digest. The first 15 hex digits are the first 7 digest bytes plus
  * the high nibble of byte 7, so the fold is a shift loop, with no
  * hex string, no base-10 string and no decimal in between.
  *
  * Users: [[Md5Fold60]] (Shred's content fingerprint, Sampling's
  * split/weighted/temperatureMix/shardManifest hashes, CountMin's
  * cells, SeenSet's first Bloom hash, TextFns' linear-quality feature
  * buckets) and the native minhash and DSIR kernels. What still spells
  * the chain out, and why:
  *  - `Dedup.shingleHash` and `Importance.bucketOf`: the Column
  *    reference forms the native kernels are checked against
  *    (MinhashNativeSpec, ImportanceNativeSpec), so they must not
  *    share the code under test;
  *  - SeenSet's second Bloom hash: it reads hex digits 16..30, past
  *    the fold;
  *  - `Embed.hashedDocVector`: its sign reads hex digit 16 of the same
  *    md5 as its bucket, so one md5 serves both;
  *  - the DuckDB oracle SQL (PipelineQueries): it replays the chain in
  *    another engine.
  */
object Md5Fold {

  /** 2^60 - 1: the fold's range, and the mask of a sum mod 2^60. */
  val Mask60: Long = (1L << 60) - 1

  /** The first 15 hex digits of a digest as a long, in [0, 2^60). */
  def fold60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xFL)
  }

  /** [[fold60]] of `md5(bytes)`. */
  def md5Fold60(bytes: Array[Byte]): Long = {
    val md = TextHash.digest()
    md.reset()
    fold60(md.digest(bytes))
  }
}

/** `conv(substring(md5(x), 1, 15), 16, 10).cast("long")` as one
  * codegen'd call. Strings cast to their UTF-8 bytes, as for `md5`.
  */
case class Md5Fold60(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[BinaryType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_fold60"
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Fold.md5Fold60($c)")
  override protected def nullSafeEval(v: Any): Any =
    Md5Fold.md5Fold60(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Md5Fold60 =
    copy(child = c)
}

object Md5Fold60 {
  def apply(c: Column): Column =
    ColumnGlue.column(Md5Fold60(ColumnGlue.expression(c)))
}

/** Σ mod 2^60 of a long column, as `(acc + h) & (2^60 - 1)`: starts at
  * 0 and skips nulls, so an empty input gives 0. A long addition wraps
  * mod 2^64, which 2^60 divides, so the mask leaves the exact residue
  * whatever the inputs; for [[Md5Fold60]] hashes, which are below
  * 2^60, the sum of two operands never even wraps. It equals the old
  * `sum(h.cast("decimal(38,0)")) % 2^60` on non-negative inputs
  * without a decimal buffer, and, having no distinct and no state
  * outside its buffer, it is a legal `Dataset.observe` metric.
  */
case class Sum60(child: Expression) extends DeclarativeAggregate
    with ImplicitCastInputTypes with UnaryLike[Expression] {
  override def inputTypes: Seq[LongType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "sum60"

  private lazy val acc = AttributeReference("acc60", LongType,
    nullable = false)()
  private def add(a: Expression, b: Expression): Expression =
    BitwiseAnd(Add(a, b, EvalMode.LEGACY), Literal(Md5Fold.Mask60))

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(acc)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(0L))
  override lazy val updateExpressions: Seq[Expression] =
    Seq(If(IsNull(child), acc, add(acc, child)))
  override lazy val mergeExpressions: Seq[Expression] =
    Seq(add(acc.left, acc.right))
  override lazy val evaluateExpression: Expression = acc

  override protected def withNewChildInternal(c: Expression): Sum60 =
    copy(child = c)
}

object Sum60 {
  def apply(c: Column): Column =
    ColumnGlue.column(Sum60(ColumnGlue.expression(c)).toAggregateExpression())
}
