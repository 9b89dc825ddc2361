package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftglue.ColumnGlue

/** Product-quantization code assignment (Jégou et al. 2011, "Product
  * Quantization for Nearest Neighbor Search"): the vector splits into
  * `m` contiguous sub-vectors of `subDim` components and each
  * sub-vector is replaced by the id of its nearest codebook entry
  * (argmin ||sub − entry||², ties to the smaller id — the same
  * Lloyd-assignment rule as [[KmeansAssign]]).
  *
  * One fused primitive loop per row produces all `m` codes — no
  * per-subspace `slice()` allocations, no interpreted HOFs. Codebooks
  * are baked into the plan at construction (flat row-major
  * `books(s*ks*subDim + c*subDim + j)`) and shipped with the
  * serialized plan; `nrms(s*ks + c)` holds |entry|² summed in index
  * order so the argmin doubles are bit-identical to the DuckDB
  * oracle's ordered list_sum replay.
  *
  * Returns `array<int>` of length `m` — the m-byte-per-vector storage
  * layout that makes 100 TB ANN feasible (a 64-double embedding
  * becomes 8 small ints; the search scan never touches the vectors).
  */
case class PqCodes(child: Expression, books: Array[Double],
    nrms: Array[Double], m: Int, ks: Int, subDim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", books, "double[]")
    val nr = ctx.addReferenceObj("pqNrms", nrms, "double[]")
    nullSafeCodeGen(ctx, ev, vec => {
      s"""
        |${ev.value} = graft.functions.PqCodes.encode(
        |  $vec, $b, $nr, $m, $ks, $subDim);
        |""".stripMargin
    })
  }

  override def nullSafeEval(v: Any): Any =
    PqCodes.encode(v.asInstanceOf[ArrayData], books, nrms, m, ks,
      subDim)

  override protected def withNewChildInternal(c: Expression): PqCodes =
    copy(c)

  // array fields compare by reference in case-class equality
  override def equals(o: Any): Boolean = o match {
    case p: PqCodes =>
      p.child == child && p.m == m && p.ks == ks &&
        p.subDim == subDim &&
        java.util.Arrays.equals(p.books, books) &&
        java.util.Arrays.equals(p.nrms, nrms)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(m),
      Integer.valueOf(ks),
      Integer.valueOf(java.util.Arrays.hashCode(books)))
}

object PqCodes {
  def apply(vec: Column, books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val ks = books.head.length
    val subDim = books.head.head.length
    val flat = new Array[Double](m * ks * subDim)
    val nrms = new Array[Double](m * ks)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ks) {
        val w = books(s)(c)
        var n = 0.0d
        var j = 0
        while (j < subDim) {
          flat(s * ks * subDim + c * subDim + j) = w(j)
          n += w(j) * w(j)
          j += 1
        }
        nrms(s * ks + c) = n
        c += 1
      }
      s += 1
    }
    ColumnGlue.column(PqCodes(
      ColumnGlue.expression(vec.cast("array<double>")),
      flat, nrms, m, ks, subDim))
  }

  private[functions] def flatten(
      books: Array[Array[Array[Double]]]): Array[Double] = {
    val m = books.length
    val ks = books.head.length
    val subDim = books.head.head.length
    val flat = new Array[Double](m * ks * subDim)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ks) {
        System.arraycopy(books(s)(c), 0, flat,
          s * ks * subDim + c * subDim, subDim)
        c += 1
      }
      s += 1
    }
    flat
  }

  /** Shared by interpreted eval and generated code (one static call
    * per row keeps whole-stage codegen intact). Argmin of
    * |c|² − 2·v·c per subspace; dots accumulate in index order.
    */
  def encode(vec: ArrayData, books: Array[Double],
      nrms: Array[Double], m: Int, ks: Int, subDim: Int): ArrayData = {
    val out = new Array[Any](m)
    val have = vec.numElements()
    var s = 0
    while (s < m) {
      val off = s * subDim
      var best = 0
      var bestD = 0.0d
      var c = 0
      while (c < ks) {
        var dot = 0.0d
        var j = 0
        val boff = s * ks * subDim + c * subDim
        while (j < subDim && off + j < have) {
          dot += vec.getDouble(off + j) * books(boff + j)
          j += 1
        }
        val d = nrms(s * ks + c) - 2.0d * dot
        if (c == 0 || d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Query-side ADC lookup table: flat `array<double>` of m×ks entries,
  * `lut[s*ks + c] = q_sub(s) · books(s)(c)` with each dot accumulated
  * in index order. One static call per query row — the Column-chain
  * form (m×ks literal multiply-add trees) overflows Janino's 64 KB
  * method limit and drops the stage out of whole-stage codegen.
  */
case class PqLut(child: Expression, books: Array[Double], m: Int,
    ks: Int, subDim: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqLutBooks", books, "double[]")
    nullSafeCodeGen(ctx, ev, vec => {
      s"""
        |${ev.value} = graft.functions.PqLut.compute(
        |  $vec, $b, $m, $ks, $subDim);
        |""".stripMargin
    })
  }

  override def nullSafeEval(v: Any): Any =
    PqLut.compute(v.asInstanceOf[ArrayData], books, m, ks, subDim)

  override protected def withNewChildInternal(c: Expression): PqLut =
    copy(c)

  override def equals(o: Any): Boolean = o match {
    case p: PqLut =>
      p.child == child && p.m == m && p.ks == ks &&
        p.subDim == subDim && java.util.Arrays.equals(p.books, books)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(m),
      Integer.valueOf(ks),
      Integer.valueOf(java.util.Arrays.hashCode(books)))
}

object PqLut {
  def apply(vec: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnGlue.column(PqLut(
      ColumnGlue.expression(vec.cast("array<double>")),
      PqCodes.flatten(books), books.length, books.head.length,
      books.head.head.length))

  def compute(vec: ArrayData, books: Array[Double], m: Int, ks: Int,
      subDim: Int): ArrayData = {
    val out = new Array[Any](m * ks)
    val have = vec.numElements()
    var s = 0
    while (s < m) {
      val off = s * subDim
      var c = 0
      while (c < ks) {
        var dot = 0.0d
        var j = 0
        val boff = s * ks * subDim + c * subDim
        while (j < subDim && off + j < have) {
          dot += vec.getDouble(off + j) * books(boff + j)
          j += 1
        }
        out(s * ks + c) = dot
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Residual IVF-PQ corpus encoding (Jégou et al. 2011 §IV, the FAISS
  * IVFPQ layout): assign the coarse centroid by descending dot
  * ([[CentroidRank]]'s top-1 rule — exact ties toward the larger id),
  * then product-quantize the RESIDUAL vec − centroid with the shared
  * codebooks. Returns struct<cent:int, codes:array<int>> from ONE
  * fused call per row. Residuals are the point of IVF-PQ: within a
  * list, vectors cluster around the centroid, so the codebooks spend
  * their 2^bits on a much smaller ball than the raw space — the
  * recall-per-byte gain the non-residual form leaves on the table.
  *
  * Query-time decomposition (inner-product metric):
  *   <q, x> ≈ <q, centroid_cent> + Σ_s lut[s·ks + codes_s]
  * — the SAME raw-query LUT ([[PqLut]]) serves every probed list
  * because the residual codebooks are shared; the per-list bias
  * <q, centroid> comes from [[CentroidDots]].
  */
case class ResidualPqCodes(child: Expression,
    cents: Array[Array[Double]], books: Array[Double],
    nrms: Array[Double], m: Int, ks: Int, subDim: Int)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cent", IntegerType, false),
    StructField("codes", ArrayType(IntegerType, false), false)))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ce = ctx.addReferenceObj("rpqCents", cents, "double[][]")
    val b = ctx.addReferenceObj("rpqBooks", books, "double[]")
    val nr = ctx.addReferenceObj("rpqNrms", nrms, "double[]")
    nullSafeCodeGen(ctx, ev, vec => {
      s"""
        |${ev.value} = graft.functions.ResidualPqCodes.encode(
        |  $vec, $ce, $b, $nr, $m, $ks, $subDim);
        |""".stripMargin
    })
  }

  override def nullSafeEval(v: Any): Any =
    ResidualPqCodes.encode(v.asInstanceOf[ArrayData], cents, books,
      nrms, m, ks, subDim)

  override protected def withNewChildInternal(c: Expression)
      : ResidualPqCodes = copy(c)

  override def equals(o: Any): Boolean = o match {
    case p: ResidualPqCodes =>
      p.child == child && p.m == m && p.ks == ks &&
        p.subDim == subDim &&
        java.util.Arrays.deepEquals(
          p.cents.asInstanceOf[Array[AnyRef]],
          cents.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.equals(p.books, books) &&
        java.util.Arrays.equals(p.nrms, nrms)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(m),
      Integer.valueOf(ks),
      Integer.valueOf(java.util.Arrays.hashCode(books)))
}

object ResidualPqCodes {
  def apply(vec: Column, nCentroids: Int, dim: Int, centSeed: Int,
      books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val ks = books.head.length
    val subDim = books.head.head.length
    val flat = new Array[Double](m * ks * subDim)
    val nrms = new Array[Double](m * ks)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ks) {
        val w = books(s)(c)
        var n = 0.0d
        var j = 0
        while (j < subDim) {
          flat(s * ks * subDim + c * subDim + j) = w(j)
          n += w(j) * w(j)
          j += 1
        }
        nrms(s * ks + c) = n
        c += 1
      }
      s += 1
    }
    ColumnGlue.column(ResidualPqCodes(
      ColumnGlue.expression(vec.cast("array<double>")),
      graft.pipeline.Ann.centroids(nCentroids, dim, centSeed),
      flat, nrms, m, ks, subDim))
  }

  /** Top-1 coarse assignment: desc dot, exact ties to the LARGER id —
    * [[CentroidRank.compute]]'s rule, shared here so the corpus
    * encoder and the training-residual column can never desynchronize
    * (three hand copies of a tie rule is how codes silently rot).
    */
  private[functions] def assignTop1(vec: ArrayData,
      cents: Array[Array[Double]]): Int = {
    val k = cents.length
    val have = vec.numElements()
    var best = 0
    var bestD = 0.0d
    var c = 0
    while (c < k) {
      val w = cents(c)
      val n = math.min(have, w.length)
      var d = 0.0d
      var j = 0
      while (j < n) { d += vec.getDouble(j) * w(j); j += 1 }
      if (c == 0 || d >= bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** vec − cw over the full centroid length, missing vector
    * components as 0 (PqCodes' have-guard convention).
    */
  private[functions] def residualFor(vec: ArrayData,
      cw: Array[Double]): Array[Double] = {
    val have = vec.numElements()
    val dim = cw.length
    val r = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      r(j) = (if (j < have) vec.getDouble(j) else 0.0d) - cw(j)
      j += 1
    }
    r
  }

  /** Shared by interpreted eval and generated code: assignTop1 →
    * residualFor → per-subspace argmin over the residual.
    */
  def encode(vec: ArrayData, cents: Array[Array[Double]],
      books: Array[Double], nrms: Array[Double], m: Int, ks: Int,
      subDim: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val best = assignTop1(vec, cents)
    val r = residualFor(vec, cents(best))
    val dim = r.length
    val codes = new Array[Any](m)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var bc = 0
      var bd = 0.0d
      var ci = 0
      while (ci < ks) {
        var dot = 0.0d
        var jj = 0
        val boff = s * ks * subDim + ci * subDim
        while (jj < subDim && off + jj < dim) {
          dot += r(off + jj) * books(boff + jj)
          jj += 1
        }
        val d = nrms(s * ks + ci) - 2.0d * dot
        if (ci == 0 || d < bd) { bd = d; bc = ci }
        ci += 1
      }
      codes(s) = bc
      s += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(best,
      new GenericArrayData(codes))
  }
}

/** The residual vector vec − centroid (same top-1 assignment rule as
  * [[ResidualPqCodes]]), for training residual codebooks — one fused
  * pass, `array<double>` out. Missing vector components count as 0,
  * mirroring ResidualPqCodes' have-guard.
  */
case class ResidualVec(child: Expression,
    cents: Array[Array[Double]]) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, false)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ce = ctx.addReferenceObj("rvCents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, vec => {
      s"""
        |${ev.value} = graft.functions.ResidualVec.compute($vec, $ce);
        |""".stripMargin
    })
  }

  override def nullSafeEval(v: Any): Any =
    ResidualVec.compute(v.asInstanceOf[ArrayData], cents)

  override protected def withNewChildInternal(c: Expression)
      : ResidualVec = copy(c)

  override def equals(o: Any): Boolean = o match {
    case p: ResidualVec =>
      p.child == child && java.util.Arrays.deepEquals(
        p.cents.asInstanceOf[Array[AnyRef]],
        cents.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child,
      Integer.valueOf(cents.length))
}

object ResidualVec {
  def apply(vec: Column, nCentroids: Int, dim: Int,
      centSeed: Int): Column =
    ColumnGlue.column(ResidualVec(
      ColumnGlue.expression(vec.cast("array<double>")),
      graft.pipeline.Ann.centroids(nCentroids, dim, centSeed)))

  def compute(vec: ArrayData,
      cents: Array[Array[Double]]): ArrayData =
    ArrayData.toArrayData(ResidualPqCodes.residualFor(vec,
      cents(ResidualPqCodes.assignTop1(vec, cents))))
}
