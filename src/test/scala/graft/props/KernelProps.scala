package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Property tests for the round-9 pure kernels: unigram Viterbi
  * segmentation, the Aho–Corasick tagger, and the PQ/SQ quantizers —
  * all exercised directly (no Spark session), differentially against
  * brute-force references.
  */
object KernelProps extends Properties("graft.kernels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    PropBudget(p)

  private val word: Gen[String] =
    Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))

  private val vocabGen: Gen[Set[String]] =
    Gen.listOf(Gen.chooseNum(2, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
      .map(_.toSet)

  private def segment(w: String, vocab: Set[String]): Seq[String] = {
    val hs = new java.util.HashSet[String]()
    vocab.foreach(hs.add)
    val out = graft.functions.UnigramSegment.segment(
      UTF8String.fromString(w), hs, 4)
    (0 until out.numElements()).map(i =>
      out.getUTF8String(i).toString)
  }

  /** All segmentations of `s` under the l=1-always / vocab-for-longer
    * rule (words are short enough to enumerate).
    */
  private def allSplits(s: String, vocab: Set[String]): Seq[Seq[String]] =
    if (s.isEmpty) Seq(Seq.empty)
    else (1 to math.min(4, s.length)).flatMap { l =>
      val piece = s.take(l)
      if (l == 1 || vocab.contains(piece))
        allSplits(s.drop(l), vocab).map(piece +: _)
      else Seq.empty
    }

  property("unigram: pieces concat back to the word") =
    forAll(word, vocabGen) { (w, v) =>
      segment(w, v).mkString("") == w
    }

  property("unigram: multi-char pieces come from the vocab") =
    forAll(word, vocabGen) { (w, v) =>
      segment(w, v).forall(p => p.length == 1 || v.contains(p))
    }

  property("unigram: DP equals brute-force (count, joined) minimum") =
    forAll(word, vocabGen) { (w, v) =>
      val got = segment(w, v)
      val best = allSplits(w, v)
        .minBy(ps => (ps.size, ps.mkString(" ")))
      got == best
    }

  private val wpVocabGen: Gen[Set[String]] =
    Gen.listOf(for {
      cont <- Gen.oneOf(true, false)
      n <- Gen.chooseNum(1, 4)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield (if (cont) "##" else "") + cs.mkString).map(_.toSet)

  private def wpSegment(w: String, vocab: Set[String]): Seq[String] = {
    val hs = new java.util.HashSet[String]()
    vocab.foreach(hs.add)
    val out = graft.functions.WordpieceSegment.segment(
      UTF8String.fromString(w), hs, 4)
    (0 until out.numElements()).map(i =>
      out.getUTF8String(i).toString)
  }

  /** Independent greedy reference: longest continuation-aware match
    * at each cursor, whole-word [UNK] on any miss.
    */
  private def wpNaive(w: String, vocab: Set[String]): Seq[String] = {
    var pos = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (pos < w.length) {
      val hit = (1 to math.min(4, w.length - pos)).reverse.iterator
        .map(l => (if (pos == 0) "" else "##") +
          w.substring(pos, pos + l))
        .find(vocab.contains)
      hit match {
        case None => return Seq("[UNK]")
        case Some(p) =>
          out += p
          pos += p.length - (if (pos == 0) 0 else 2)
      }
    }
    out.toSeq
  }

  property("wordpiece: kernel equals the greedy reference walk") =
    forAll(word, wpVocabGen) { (w, v) =>
      wpSegment(w, v) == wpNaive(w, v)
    }

  property("wordpiece: non-UNK pieces reassemble the word") =
    forAll(word, wpVocabGen) { (w, v) =>
      val ps = wpSegment(w, v)
      ps == Seq("[UNK]") ||
        (ps.head + ps.tail.map(_.drop(2)).mkString) == w
    }

  private val textGen: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', ' ')).map(_.mkString))

  private val dictGen: Gen[List[String]] =
    Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n,
      Gen.chooseNum(1, 4).flatMap(l =>
        Gen.listOfN(l, Gen.oneOf('a', 'b')).map(_.mkString))))
      .map(_.distinct)

  private def naiveCount(t: String, kw: String): Long =
    (0 to t.length - kw.length)
      .count(i => t.regionMatches(i, kw, 0, kw.length)).toLong

  property("aho-corasick: counts equal naive overlap scan") =
    forAll(textGen, dictGen) { (t, dict) =>
      val auto = new graft.functions.AcAutomaton(dict.toArray)
      val counts = auto.countAll(t)
      dict.indices.forall(i => counts(i) == naiveCount(t, dict(i)))
    }

  private val vecGen: Gen[Array[Double]] =
    Gen.listOfN(8, Gen.chooseNum(-4.0, 4.0)).map(_.toArray)

  property("pq: every code is the per-subspace argmin") =
    forAll(vecGen) { v =>
      val books = graft.pipeline.Ann.pqBooks(2, 4, 4, seed = 5)
      val flat = Array.tabulate(2 * 4 * 4)(i =>
        books(i / 16)((i % 16) / 4)(i % 4))
      val nrms = Array.tabulate(2 * 4)(i =>
        books(i / 4)(i % 4).map(x => x * x).sum)
      val codes = graft.functions.PqCodes.encode(
        new GenericArrayData(v.map(x => x: Any)), flat, nrms, 2, 4, 4)
      (0 until 2).forall { s =>
        val sub = v.slice(s * 4, s * 4 + 4)
        def d(c: Int) = {
          val w = books(s)(c)
          w.zip(sub).map { case (a, b) => (a - b) * (a - b) }.sum
        }
        val got = codes.getInt(s)
        // argmin within float tolerance (the kernel uses the
        // |c|^2 - 2 v.c form; ties go to the smaller id)
        (0 until 4).forall(c => d(got) <= d(c) + 1e-9)
      }
    }

  property("sq: roundtrip error within half a quantization step") =
    forAll(vecGen) { v =>
      val enc = graft.functions.SqEncode.encode(
        new GenericArrayData(v.map(x => x: Any)))
      val dec = graft.functions.SqDecode.decode(enc)
      val lo = enc.getDouble(0)
      val hi = enc.getDouble(1)
      val half = (hi - lo) / 255.0 / 2.0
      v.indices.forall(i =>
        math.abs(dec.getDouble(i) - v(i)) <= half + 1e-12)
    }

  // unicode-ish payload text: latin, accented, CJK, emoji-plane
  private val payloadGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('ä', 'é', 'ß', 'ü', 'à'),
      1 -> Gen.oneOf('中', '文', '语'),
      1 -> Gen.const(' '))).map(_.mkString)

  /** Driver model of AudioFpWords' full contract (LCG samples →
    * consecutive 65-frame energies → 64 delta bits, word-packed). */
  private def audioRef(s: String): Seq[Int] = {
    val cps = s.codePoints.toArray
    val n = cps.length
    val e = new Array[Long](65)
    cps.indices.foreach { i =>
      val x = (cps(i).toLong * 1103515245L + i.toLong * 12345L) % 2048L
      e(((i.toLong * 65) / n).toInt) += x * x
    }
    val w = new Array[Int](4)
    for (b <- 0 until 64)
      if (e(b) < e(b + 1)) w(b / 16) |= 1 << (b % 16)
    w.toSeq
  }

  /** Row texts for the md5 fold: the unicode payloads, the empty
    * string, and multi-KB rows.
    */
  private[props] val foldTextGen: Gen[String] = Gen.frequency(
    6 -> payloadGen,
    1 -> Gen.const(""),
    2 -> payloadGen.map(s => ("{\"é中\": \"" + s + "\"}") * 400))

  /** Spark's string chain, evaluated by the Catalyst interpreter. */
  private def convChain(bytes: Array[Byte]): Long = {
    import org.apache.spark.sql.catalyst.expressions._
    Cast(Conv(Substring(Md5(Literal(bytes)), Literal(1), Literal(15)),
      Literal(16), Literal(10)), org.apache.spark.sql.types.LongType)
      .eval().asInstanceOf[Long]
  }

  property("md5 fold: kernel == conv(substring(md5(s),1,15),16,10)") =
    forAll(foldTextGen) { s =>
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val want = convChain(bytes)
      graft.functions.Md5Fold.md5Fold60(bytes) == want &&
        graft.functions.Md5Fold60(
          org.apache.spark.sql.catalyst.expressions.Literal(bytes)).eval() == want &&
        want >= 0 && want <= graft.functions.Md5Fold.Mask60
    }

  property("audio fp: kernel equals driver model on unicode payloads") =
    forAll(payloadGen) { s =>
      val out = graft.functions.AudioHashNative.audioFpWords(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val got = (0 until out.numElements()).map(out.getInt)
      val want = if (s.isEmpty) Seq(0, 0, 0, 0) else audioRef(s)
      got == want && got.forall(w => w >= 0 && w < 65536)
    }

  /** Brute-force winnowing: per window take the rightmost minimum,
    * dedupe consecutive same-position selections. Small value range
    * forces tie-heavy inputs — the rule the deque must get right.
    */
  private def winnowRef(hs: Seq[Long], w: Int): Seq[(Int, Long)] = {
    if (hs.isEmpty) return Seq.empty
    val nw = math.max(hs.length - w + 1, 1)
    val sels = (0 until nw).map { st =>
      val win = hs.slice(st, st + w)
      val mn = win.min
      val sel = st + win.lastIndexOf(mn)
      (sel, mn)
    }
    sels.foldLeft(Vector.empty[(Int, Long)]) { (acc, s) =>
      if (acc.nonEmpty && acc.last._1 == s._1) acc else acc :+ s
    }
  }

  private val winnowGen: Gen[(List[Long], Int)] = for {
    hs <- Gen.listOf(Gen.chooseNum(0L, 6L))
    w <- Gen.chooseNum(1, 10)
  } yield (hs, w)

  property("winnow: deque kernel equals brute force incl. ties") =
    forAll(winnowGen) { case (hs, w) =>
      val out = graft.functions.WinnowNative.winnowSelect(
        new GenericArrayData(hs.toArray), w)
      val got = (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2)
        (r.getInt(0), r.getLong(1))
      }
      got == winnowRef(hs, w)
    }

  property("winnow: selections are strictly increasing in position") =
    forAll(winnowGen) { case (hs, w) =>
      val out = graft.functions.WinnowNative.winnowSelect(
        new GenericArrayData(hs.toArray), w)
      val ps = (0 until out.numElements()).map(out.getStruct(_, 2).getInt(0))
      ps == ps.sorted && ps.distinct == ps
    }
}
