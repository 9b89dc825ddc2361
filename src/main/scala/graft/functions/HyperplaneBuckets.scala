package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftglue.ColumnGlue

/** All LSH hyperplane bucket signatures for a vector in ONE pass: a
  * custom Catalyst expression holding the precomputed plane matrix
  * (`tables × planes × dim` doubles, seeded deterministically) and
  * running a tight primitive loop per row — replaces `tables × planes`
  * nested higher-order `aggregate(zip_with(...))` calls, which
  * evaluate interpreted per element.
  *
  * Returns `array<long>` of length `tables` (bucket id per table).
  */
case class HyperplaneBuckets(child: Expression, planes: Int,
    tables: Int, dim: Int, seed: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType)

  // plane matrix baked at plan construction — identical on every
  // executor (deterministic PRNG), shipped with the serialized plan.
  // Flat layout (tables*planes*dim) keeps codegen indexing simple.
  private val matrix: Array[Array[Double]] =
    HyperplaneBuckets.matrix(planes, tables, dim, seed)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("planeMatrix", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, vec => {
      val arr = ctx.freshName("vec")
      val n = ctx.freshName("n")
      val buckets = ctx.freshName("buckets")
      val t = ctx.freshName("t")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val dot = ctx.freshName("dot")
      val plane = ctx.freshName("plane")
      s"""
        |org.apache.spark.sql.catalyst.util.ArrayData $arr = $vec;
        |int $n = java.lang.Math.min($arr.numElements(), $dim);
        |long[] $buckets = new long[$tables];
        |for (int $t = 0; $t < $tables; $t++) {
        |  long b = 0L;
        |  for (int $p = 0; $p < $planes; $p++) {
        |    double[] $plane = $m[$t * $planes + $p];
        |    double $dot = 0.0;
        |    for (int $j = 0; $j < $n; $j++) {
        |      $dot += $arr.getDouble($j) * $plane[$j];
        |    }
        |    if ($dot > 0) b |= (1L << $p);
        |  }
        |  $buckets[$t] = b;
        |}
        |${ev.value} =
        |  new org.apache.spark.sql.catalyst.util.GenericArrayData($buckets);
        |""".stripMargin
    })
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), dim)
    val vec = new Array[Double](n)
    var i = 0
    while (i < n) { vec(i) = arr.getDouble(i); i += 1 }
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        val plane = matrix(t * planes + p)
        var dot = 0.0
        var j = 0
        while (j < n) { dot += vec(j) * plane(j); j += 1 }
        if (dot > 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression)
      : HyperplaneBuckets = copy(c)
}

object HyperplaneBuckets {
  def apply(vec: Column, planes: Int, tables: Int, dim: Int,
      seed: Int): Column =
    ColumnGlue.column(HyperplaneBuckets(
      ColumnGlue.expression(vec.cast("array<double>")),
      planes, tables, dim, seed))

  /** The deterministic plane matrix, row `t * planes + p`. Public so
    * correctness oracles can embed the identical doubles as SQL
    * literals (Double.toString round-trips exactly).
    */
  def matrix(planes: Int, tables: Int, dim: Int,
      seed: Int): Array[Array[Double]] =
    Array.tabulate(tables * planes) { tp =>
      val t = tp / planes
      val p = tp % planes
      val rnd = new scala.util.Random((seed + t).toLong * 1000003L + p)
      Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    }
}
