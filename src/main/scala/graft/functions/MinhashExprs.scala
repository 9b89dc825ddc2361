package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.unsafe.types.UTF8String

/** Native implementations of the portable MinHash signature pipeline
  * in [[graft.pipeline.Dedup]] — shingling, the one-md5-per-shingle
  * 60-bit hash, the k permutation minima, and the md5 band buckets —
  * each previously a deep interpreted higher-order Column tree
  * (`transform`/`array_min` lambdas evaluate interpreted per element,
  * and the 32-permutation signature alone is a 32-branch tree).
  * Values are bit-identical to the Column forms (MinhashNativeSpec)
  * and therefore to the DuckDB oracle mirror in PipelineQueries.
  *
  * Besides per-row speed, collapsing the trees cuts whole-plan codegen
  * compile time, which dominates cold-start for the dedup queries.
  */
object MinhashNative {

  /** Distinct word n-gram shingles of the lowercased text, first-
    * occurrence order — Dedup.shingles. Zero-token text yields [""].
    */
  def shingles(text: UTF8String, n: Int,
      useICU: Boolean): Array[UTF8String] = {
    val toks0 = TextHash.tokensOf(text, useICU)
    val out = new java.util.LinkedHashSet[String]()
    if (toks0.length < n) {
      out.add(String.join(" ", toks0: _*))
    } else {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= toks0.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks0(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    }
    val arr = new Array[UTF8String](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    arr
  }

  /** 60-bit md5-derived shingle hash mod 2^31-1 — Dedup.shingleHash
    * (`conv(substring(md5(s),1,15),16,10) % P`, [[Md5Fold.fold60]]).
    */
  def hash60(bytes: Array[Byte]): Long =
    Md5Fold.fold60(bytes) % 2147483647L

  /** (band, md5-hex bucket) pairs of the k-permutation signature —
    * the fused shingles → hashes → signature → bandsMd5 pipeline.
    */
  def computeBands(text: UTF8String, n: Int,
      coeffs: Array[Long], b: Int, useICU: Boolean): GenericArrayData = {
    val k = coeffs.length / 2
    val r = k / b
    val md = TextHash.digest()
    val sh = shingles(text, n, useICU)
    // one md5 per shingle, then k permutation minima
    val hs = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) {
      md.reset()
      hs(i) = hash60(md.digest(sh(i).getBytes))
      i += 1
    }
    val sig = new Array[Long](k)
    var p = 0
    while (p < k) {
      val a = coeffs(2 * p)
      val c = coeffs(2 * p + 1)
      var min = Long.MaxValue
      var j = 0
      while (j < hs.length) {
        val v = (hs(j) * a + c) % 2147483647L
        if (v < min) min = v
        j += 1
      }
      sig(p) = min
      p += 1
    }
    val out = new Array[Any](b)
    val sb = new java.lang.StringBuilder
    var band = 0
    while (band < b) {
      sb.setLength(0)
      var j = 0
      while (j < r) {
        if (j > 0) sb.append('|')
        sb.append(sig(band * r + j))
        j += 1
      }
      md.reset()
      val hex = TextHash.hex(md.digest(
        sb.toString.getBytes("UTF-8")))
      out(band) = InternalRow(band, UTF8String.fromBytes(hex))
      band += 1
    }
    new GenericArrayData(out)
  }

  /** Full k-permutation signature — the fused shingles → hashes →
    * k minima pipeline (computeBands without the banding tail). An
    * empty shingle set yields an array of k NULLs, exactly matching
    * the column form's array_min-over-empty semantics.
    */
  def signature(text: UTF8String, n: Int, coeffs: Array[Long],
      useICU: Boolean): GenericArrayData = {
    val k = coeffs.length / 2
    val md = TextHash.digest()
    val sh = shingles(text, n, useICU)
    if (sh.isEmpty)
      return new GenericArrayData(new Array[Any](k))
    val hs = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) {
      md.reset()
      hs(i) = hash60(md.digest(sh(i).getBytes))
      i += 1
    }
    val sig = new Array[Any](k)
    var p = 0
    while (p < k) {
      val a = coeffs(2 * p)
      val c = coeffs(2 * p + 1)
      var min = Long.MaxValue
      var j = 0
      while (j < hs.length) {
        val v = (hs(j) * a + c) % 2147483647L
        if (v < min) min = v
        j += 1
      }
      sig(p) = min
      p += 1
    }
    new GenericArrayData(sig)
  }

  /** Distinct 60-bit hashes of the distinct shingles, first-occurrence
    * order (hash collisions between distinct shingles dedup, matching
    * `SELECT DISTINCT doc_id, hash` in the oracle replays).
    */
  def shingleHashes(text: UTF8String, n: Int,
      useICU: Boolean): Array[Long] = {
    val md = TextHash.digest()
    val sh = shingles(text, n, useICU)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < sh.length) {
      md.reset()
      seen.add(hash60(md.digest(sh(i).getBytes)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    out
  }

  /** Single signature element (Dedup.minhashElementMd5). */
  def sigElement(text: UTF8String, n: Int, a: Long, c: Long,
      useICU: Boolean): Long = {
    val md = TextHash.digest()
    val sh = shingles(text, n, useICU)
    var min = Long.MaxValue
    var i = 0
    while (i < sh.length) {
      md.reset()
      val v = (hash60(md.digest(sh(i).getBytes)) * a + c) % 2147483647L
      if (v < min) min = v
      i += 1
    }
    min
  }
}

/** `shingles(text, n)` as one codegen'd call → array<string>. */
case class Shingles(child: Expression, n: Int,
    useICU: Boolean = TextHash.resolveUseICU()) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, false)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"(Object[]) graft.functions.MinhashNative.shingles($c, $n, $useICU))")
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(MinhashNative.shingles(
      v.asInstanceOf[UTF8String], n, useICU).asInstanceOf[Array[Any]])
  override protected def withNewChildInternal(c: Expression): Shingles =
    copy(child = c)
}

object Shingles {
  def apply(text: Column, n: Int): Column =
    ColumnGlue.column(Shingles(ColumnGlue.expression(text), n))
}

/** `shingleHashes(text, n)` as one codegen'd call → array<long> of
  * the distinct 60-bit gram hashes.
  */
case class ShingleHashes(child: Expression, n: Int,
    useICU: Boolean = TextHash.resolveUseICU())
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, false)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.MinhashNative.shingleHashes($c, $n, $useICU))")
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(MinhashNative.shingleHashes(
      v.asInstanceOf[UTF8String], n, useICU))
  override protected def withNewChildInternal(c: Expression)
      : ShingleHashes = copy(child = c)
}

object ShingleHashes {
  def apply(text: Column, n: Int): Column =
    ColumnGlue.column(ShingleHashes(ColumnGlue.expression(text), n))
}

/** Fused shingle→hash→signature→band-bucket pipeline as one call →
  * array<struct<band:int, bucket:string>> (Dedup.bandsMd5 layout).
  * The permutation coefficients ride flattened [a0,b0,a1,b1,...] in
  * the serialized plan, like HyperplaneBuckets' matrix.
  */
case class MinhashBandBuckets(child: Expression, n: Int,
    coeffs: Array[Long], bands: Int,
    useICU: Boolean = TextHash.resolveUseICU()) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, false),
    StructField("bucket", StringType, false))), false)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cf = ctx.addReferenceObj("minhashCoeffs", coeffs, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashNative.computeBands($c, $n, $cf, $bands, $useICU)")
  }
  override def nullSafeEval(v: Any): Any =
    MinhashNative.computeBands(v.asInstanceOf[UTF8String], n, coeffs,
      bands, useICU)
  override protected def withNewChildInternal(c: Expression)
      : MinhashBandBuckets = copy(child = c)
  // Array fields compare by reference in case-class equality; the
  // coeffs are a pure function of k, so structural equality on
  // (child, n, k, bands) is what plan matching needs.
  override def equals(o: Any): Boolean = o match {
    case m: MinhashBandBuckets =>
      m.child == child && m.n == n && m.bands == bands &&
        m.useICU == useICU && java.util.Arrays.equals(m.coeffs, coeffs)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(n),
      Integer.valueOf(bands), Integer.valueOf(coeffs.length))
}

object MinhashBandBuckets {
  def apply(text: Column, n: Int, k: Int, bands: Int): Column = {
    val coeffs = graft.pipeline.Dedup.permCoeffs(k)
      .flatMap { case (a, b) => Seq(a, b) }.toArray
    ColumnGlue.column(MinhashBandBuckets(
      ColumnGlue.expression(text), n, coeffs, bands))
  }
}

/** Full k-element portable signature (Dedup.minhashSignatureMd5) as
  * ONE call → array<long>: the column form's k array_min/transform
  * branches each re-walk the shingle hashes through interpreted
  * lambdas, which dominates any consumer that needs the whole
  * signature (minhashCalibration measured 9.4 s → the kernel's one
  * text pass at sf1). Empty shingle sets yield k NULL elements,
  * the column form's exact semantics.
  */
case class MinhashSignature(child: Expression, n: Int,
    coeffs: Array[Long],
    useICU: Boolean = TextHash.resolveUseICU()) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, true)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cf = ctx.addReferenceObj("minhashSigCoeffs", coeffs, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashNative.signature($c, $n, $cf, $useICU)")
  }
  override def nullSafeEval(v: Any): Any =
    MinhashNative.signature(v.asInstanceOf[UTF8String], n, coeffs,
      useICU)
  override protected def withNewChildInternal(c: Expression)
      : MinhashSignature = copy(child = c)
  override def equals(o: Any): Boolean = o match {
    case m: MinhashSignature =>
      m.child == child && m.n == n && m.useICU == useICU &&
        java.util.Arrays.equals(m.coeffs, coeffs)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(n),
      Integer.valueOf(coeffs.length))
}

object MinhashSignature {
  def apply(text: Column, n: Int, k: Int): Column = {
    val coeffs = graft.pipeline.Dedup.permCoeffs(k)
      .flatMap { case (a, b) => Seq(a, b) }.toArray
    ColumnGlue.column(MinhashSignature(
      ColumnGlue.expression(text), n, coeffs))
  }
}

/** Single portable-signature element (Dedup.minhashElementMd5) as one
  * call — permutation (a, c) baked at construction.
  */
case class MinhashSigElement(child: Expression, n: Int, a: Long, c: Long,
    useICU: Boolean = TextHash.resolveUseICU())
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.MinhashNative.sigElement($t, $n, ${a}L, ${c}L, $useICU)")
  override def nullSafeEval(v: Any): Any =
    MinhashNative.sigElement(v.asInstanceOf[UTF8String], n, a, c, useICU)
  override protected def withNewChildInternal(ch: Expression)
      : MinhashSigElement = copy(child = ch)
}

object MinhashSigElement {
  def apply(text: Column, n: Int, i: Int, k: Int): Column = {
    val (a, c) = graft.pipeline.Dedup.permCoeffs(k)(i)
    ColumnGlue.column(MinhashSigElement(
      ColumnGlue.expression(text), n, a, c))
  }
}
