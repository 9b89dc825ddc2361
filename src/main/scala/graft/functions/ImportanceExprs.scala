package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native (codegen'd) kernels for [[graft.pipeline.Importance]]'s
  * DSIR scoring (Xie et al. 2023, arXiv:2302.03169).
  *
  * The Column form folds an `aggregate` HOF whose lambda evaluates a
  * `conv(substring(md5(gram)))` tree per gram occurrence — Catalyst
  * runs higher-order lambdas INTERPRETED, and `gramSeq` itself is a
  * `transform` that re-joins token slices per window, so p_dsir cost
  * 27 s full-eval at sf0.1 (the RepSignals disease). These kernels
  * compute the identical values (bit-for-bit, ImportanceSpec pins
  * native == Column) in one tight loop per row: tokenize once, md5
  * each sliding window, fold the first 15 hex digits to the 60-bit
  * value, `% dim`, and either emit the bucket (histogram side) or
  * accumulate the bucket's fixed-point log ratio (scoring side).
  */
object ImportanceNative {

  /** Bucket of one gram: 60-bit md5 hex fold
    * (`conv(substring(md5(g),1,15),16,10)`, [[Md5Fold.fold60]]) mod
    * `dim` — mirrors `Importance.bucketOf`.
    */
  private def bucket(md: java.security.MessageDigest, gram: String,
      dim: Int): Int = {
    md.reset()
    (Md5Fold.fold60(md.digest(gram.getBytes("UTF-8"))) % dim).toInt
  }

  /** Visit every gram OCCURRENCE (not distinct — frequency matters
    * for a likelihood ratio): sliding `n`-token windows, or the whole
    * token sequence as one gram when shorter (Importance.gramSeq).
    */
  private def foreachGram(text: UTF8String, n: Int, useICU: Boolean)(
      f: String => Unit): Unit = {
    val toks = TextHash.tokensOf(text, useICU)
    if (toks.length < n) f(String.join(" ", toks: _*))
    else {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        f(sb.toString)
        i += 1
      }
    }
  }

  /** Per-occurrence feature buckets of the text — the histogram-side
    * kernel (`explode(gramBuckets)` then count by bucket).
    */
  def gramBuckets(text: UTF8String, n: Int, dim: Int,
      useICU: Boolean): GenericArrayData = {
    val md = TextHash.digest()
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    foreachGram(text, n, useICU) { g => out += bucket(md, g, dim).toLong }
    new GenericArrayData(out.toArray)
  }

  /** Positional 60-bit gram hashes: element i (0-based) is the md5
    * hex fold of the `n`-token window starting at token i — the
    * per-position kernel of span-level dedup (Dedup.dupSpans). No
    * short-document fallback: texts with fewer than `n` tokens yield
    * an empty array (a span needs a full window).
    */
  def gramHashSeq(text: UTF8String, n: Int,
      useICU: Boolean): GenericArrayData = {
    val md = TextHash.digest()
    val toks = TextHash.tokensOf(text, useICU)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      out(i) = Md5Fold.fold60(md.digest(sb.toString.getBytes("UTF-8")))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Exact fixed-point DSIR score: the long sum of
    * `ratios(bucket(gram))` over gram occurrences — the scoring-side
    * kernel. Order-independent (long addition), so partition-stable.
    */
  def dsirScore(text: UTF8String, n: Int, dim: Int,
      ratios: Array[Long], useICU: Boolean): Long = {
    val md = TextHash.digest()
    var acc = 0L
    foreachGram(text, n, useICU) { g => acc += ratios(bucket(md, g, dim)) }
    acc
  }

  /** Visit every CHARACTER n-gram occurrence of the normalized text
    * (code-point windows over TextHash.normalize, the fingerprintMd5
    * convention); texts shorter than `n` code points contribute the
    * whole normalized text as one gram — so every document, however
    * short, has at least one feature.
    */
  private def foreachCharGram(text: UTF8String, n: Int,
      useICU: Boolean)(f: String => Unit): Unit = {
    val norm = TextHash.normalize(text, useICU)
    val cps = norm.codePoints().toArray
    if (cps.length < n) f(norm)
    else {
      val sb = new java.lang.StringBuilder(n * 2)
      var start = 0
      while (start + n <= cps.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) { sb.appendCodePoint(cps(start + j)); j += 1 }
        f(sb.toString)
        start += 1
      }
    }
  }

  /** Per-occurrence character-gram feature buckets — the training-side
    * kernel of the n-gram language-ID model.
    */
  def charGramBuckets(text: UTF8String, n: Int, dim: Int,
      useICU: Boolean): GenericArrayData = {
    val md = TextHash.digest()
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    foreachCharGram(text, n, useICU) { g =>
      out += bucket(md, g, dim).toLong
    }
    new GenericArrayData(out.toArray)
  }

  /** All L language scores in ONE pass over the char grams:
    * score(l) = Σ flat(l·dim + bucket(gram)) — `flat` is the L
    * concatenated fixed-point log-prob tables. Exact long sums, so
    * partition-stable and engine-replayable.
    */
  def charGramScores(text: UTF8String, n: Int, dim: Int,
      flat: Array[Long], langs: Int,
      useICU: Boolean): GenericArrayData = {
    val md = TextHash.digest()
    val acc = new Array[Long](langs)
    foreachCharGram(text, n, useICU) { g =>
      val b = bucket(md, g, dim)
      var l = 0
      while (l < langs) { acc(l) += flat(l * dim + b); l += 1 }
    }
    val out = new Array[Any](langs)
    var l = 0
    while (l < langs) { out(l) = acc(l); l += 1 }
    new GenericArrayData(out)
  }
}

/** `gramBuckets(text, n, dim)` as one codegen'd call → array<long>. */
case class GramBuckets(child: Expression, n: Int, dim: Int,
    useICU: Boolean = TextHash.resolveUseICU()) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, false)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ImportanceNative.gramBuckets($c, $n, $dim, $useICU)")
  override def nullSafeEval(v: Any): Any =
    ImportanceNative.gramBuckets(v.asInstanceOf[UTF8String], n, dim,
      useICU)
  override protected def withNewChildInternal(c: Expression): GramBuckets =
    copy(child = c)
}

object GramBuckets {
  def apply(text: Column, n: Int, dim: Int): Column =
    ColumnGlue.column(GramBuckets(ColumnGlue.expression(text), n, dim))
}

/** `gramHashSeq(text, n)` as one codegen'd call → array<long>,
  * index = token position of the window start.
  */
case class GramHashSeq(child: Expression, n: Int,
    useICU: Boolean = TextHash.resolveUseICU()) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, false)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ImportanceNative.gramHashSeq($c, $n, $useICU)")
  override def nullSafeEval(v: Any): Any =
    ImportanceNative.gramHashSeq(v.asInstanceOf[UTF8String], n, useICU)
  override protected def withNewChildInternal(c: Expression)
      : GramHashSeq = copy(child = c)
}

object GramHashSeq {
  def apply(text: Column, n: Int): Column =
    ColumnGlue.column(GramHashSeq(ColumnGlue.expression(text), n))
}

/** `dsirScore(text, n, dim, ratios)` as one codegen'd call → long.
  * The ratio table rides the serialized plan as a reference object
  * (the MinhashBandBuckets coeffs pattern).
  */
case class DsirScore(child: Expression, n: Int, dim: Int,
    ratios: Array[Long],
    useICU: Boolean = TextHash.resolveUseICU()) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val rf = ctx.addReferenceObj("dsirRatios", ratios, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ImportanceNative.dsirScore($c, $n, $dim, $rf, $useICU)")
  }
  override def nullSafeEval(v: Any): Any =
    ImportanceNative.dsirScore(v.asInstanceOf[UTF8String], n, dim,
      ratios, useICU)
  override protected def withNewChildInternal(c: Expression): DsirScore =
    copy(child = c)
  // Array fields compare by reference in case-class equality; compare
  // the ratio table by value so plan matching (and CSE) work.
  override def equals(o: Any): Boolean = o match {
    case m: DsirScore =>
      m.child == child && m.n == n && m.dim == dim &&
        m.useICU == useICU && java.util.Arrays.equals(m.ratios, ratios)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(n),
      Integer.valueOf(dim), Integer.valueOf(
        java.util.Arrays.hashCode(ratios)))
}

object DsirScore {
  def apply(text: Column, n: Int, dim: Int,
      ratios: Array[Long]): Column =
    ColumnGlue.column(DsirScore(ColumnGlue.expression(text), n, dim,
      ratios))
}

/** `charGramBuckets(text, n, dim)` as one codegen'd call →
  * array<long>.
  */
case class CharGramBuckets(child: Expression, n: Int, dim: Int,
    useICU: Boolean = TextHash.resolveUseICU()) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, false)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ImportanceNative.charGramBuckets($c, $n, $dim, $useICU)")
  override def nullSafeEval(v: Any): Any =
    ImportanceNative.charGramBuckets(v.asInstanceOf[UTF8String], n,
      dim, useICU)
  override protected def withNewChildInternal(c: Expression)
      : CharGramBuckets = copy(child = c)
}

object CharGramBuckets {
  def apply(text: Column, n: Int, dim: Int): Column =
    ColumnGlue.column(CharGramBuckets(ColumnGlue.expression(text), n,
      dim))
}

/** `charGramScores(text, n, dim, flat, langs)` as one codegen'd call
  * → array<long> of the L language scores; the concatenated log-prob
  * tables ride the plan as a reference object.
  */
case class CharGramScores(child: Expression, n: Int, dim: Int,
    flat: Array[Long], langs: Int,
    useICU: Boolean = TextHash.resolveUseICU()) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, false)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ft = ctx.addReferenceObj("langTables", flat, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ImportanceNative.charGramScores($c, $n, $dim, $ft, $langs, $useICU)")
  }
  override def nullSafeEval(v: Any): Any =
    ImportanceNative.charGramScores(v.asInstanceOf[UTF8String], n,
      dim, flat, langs, useICU)
  override protected def withNewChildInternal(c: Expression)
      : CharGramScores = copy(child = c)
  override def equals(o: Any): Boolean = o match {
    case m: CharGramScores =>
      m.child == child && m.n == n && m.dim == dim &&
        m.langs == langs && m.useICU == useICU &&
        java.util.Arrays.equals(m.flat, flat)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(n),
      Integer.valueOf(dim), Integer.valueOf(langs),
      Integer.valueOf(java.util.Arrays.hashCode(flat)))
}

object CharGramScores {
  def apply(text: Column, n: Int, dim: Int, flat: Array[Long],
      langs: Int): Column =
    ColumnGlue.column(CharGramScores(ColumnGlue.expression(text), n,
      dim, flat, langs))
}

/** Native BPE tokenizer-encode (TextFns.bpeEncode semantics). The
  * Column form is a marker-wrapped literal `replace` chain — ~13 full
  * string passes over a 3×-inflated copy of every document. This
  * kernel applies each merge as ONE left-to-right non-overlapping
  * pair-merge pass over per-word symbol arrays, which is exactly what
  * the literal replace chain does (String.replace scans left-to-right
  * and never re-matches inside a replacement; merges cannot cross the
  * unmarked word separator). PipelineSpec pins kernel == chain on the
  * boundary battery and a corpus slice.
  */
object BpeNative {
  /** Apply the merge list to one word: returns the symbol array and
    * its live length (the array is oversized after merges shrink it).
    */
  private def encodeWord(w: String,
      flat: Array[String]): (Array[String], Int) = {
    val syms = new Array[String](w.length)
    var n = w.length
    var i = 0
    while (i < n) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    var m = 0
    while (m < flat.length) {
      val a = flat(m)
      val b = flat(m + 1)
      var r = 0
      var wr = 0
      while (r < n) {
        if (r + 1 < n && syms(r) == a && syms(r + 1) == b) {
          syms(wr) = a + b
          r += 2
        } else {
          syms(wr) = syms(r)
          r += 1
        }
        wr += 1
      }
      n = wr
      m += 2
    }
    (syms, n)
  }

  /** `flat` = [a0,b0,a1,b1,...] merge pairs in rank order. */
  def encode(text: UTF8String, flat: Array[String],
      useICU: Boolean): GenericArrayData = {
    val toks = TextHash.tokensOf(text, useICU)
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var wi = 0
    while (wi < toks.length) {
      val (syms, n) = encodeWord(toks(wi), flat)
      var i = 0
      while (i < n) { out += UTF8String.fromString(syms(i)); i += 1 }
      wi += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Adjacent symbol pairs WITHIN words (as "a b" strings, one per
    * occurrence) after applying the merge list — the counting kernel
    * of one BPE vocabulary-training round. Word boundaries separate
    * pairs, exactly the classic BPE formulation (Sennrich et al.
    * 2016, arXiv:1508.07909).
    */
  def adjPairs(text: UTF8String, flat: Array[String],
      useICU: Boolean): GenericArrayData = {
    val toks = TextHash.tokensOf(text, useICU)
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var wi = 0
    while (wi < toks.length) {
      val (syms, n) = encodeWord(toks(wi), flat)
      var i = 0
      while (i + 1 < n) {
        out += UTF8String.fromString(syms(i) + " " + syms(i + 1))
        i += 1
      }
      wi += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `BpeNative.encode(text, merges)` as one codegen'd call →
  * array<string> of subword tokens in document order.
  */
case class BpeEncode(child: Expression, merges: Array[String],
    useICU: Boolean = TextHash.resolveUseICU()) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, false)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val mf = ctx.addReferenceObj("bpeMerges", merges,
      "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeNative.encode($c, $mf, $useICU)")
  }
  override def nullSafeEval(v: Any): Any =
    BpeNative.encode(v.asInstanceOf[UTF8String], merges, useICU)
  override protected def withNewChildInternal(c: Expression): BpeEncode =
    copy(child = c)
  override def equals(o: Any): Boolean = o match {
    case m: BpeEncode =>
      m.child == child && m.useICU == useICU &&
        java.util.Arrays.equals(
          m.merges.asInstanceOf[Array[AnyRef]],
          merges.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child,
      Integer.valueOf(java.util.Arrays.hashCode(
        merges.asInstanceOf[Array[AnyRef]])))
}

object BpeEncode {
  def apply(text: Column, merges: Seq[(String, String)]): Column =
    ColumnGlue.column(BpeEncode(ColumnGlue.expression(text),
      merges.flatMap { case (a, b) => Seq(a, b) }.toArray))
}

/** `BpeNative.adjPairs(text, merges)` as one codegen'd call →
  * array<string> of within-word adjacent symbol pairs ("a b"), one
  * element per occurrence.
  */
case class BpeAdjPairs(child: Expression, merges: Array[String],
    useICU: Boolean = TextHash.resolveUseICU()) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, false)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val mf = ctx.addReferenceObj("bpeMerges", merges,
      "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeNative.adjPairs($c, $mf, $useICU)")
  }
  override def nullSafeEval(v: Any): Any =
    BpeNative.adjPairs(v.asInstanceOf[UTF8String], merges, useICU)
  override protected def withNewChildInternal(c: Expression)
      : BpeAdjPairs = copy(child = c)
  override def equals(o: Any): Boolean = o match {
    case m: BpeAdjPairs =>
      m.child == child && m.useICU == useICU &&
        java.util.Arrays.equals(
          m.merges.asInstanceOf[Array[AnyRef]],
          merges.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child,
      Integer.valueOf(java.util.Arrays.hashCode(
        merges.asInstanceOf[Array[AnyRef]])))
}

object BpeAdjPairs {
  def apply(text: Column, merges: Seq[(String, String)]): Column =
    ColumnGlue.column(BpeAdjPairs(ColumnGlue.expression(text),
      merges.flatMap { case (a, b) => Seq(a, b) }.toArray))
}
