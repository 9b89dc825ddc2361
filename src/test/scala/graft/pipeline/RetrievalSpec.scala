package graft.pipeline

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Binary (sign-bit) embedding quantization + reciprocal-rank fusion. */
class RetrievalSpec extends SparkSpec {

  test("binEncode packs sign bits into 16-bit words") {
    import spark.implicits._
    val v = (0 until 64).map(i => if (i % 3 == 0) 1.0 else -1.0)
    val words = Seq(Tuple1(v)).toDF("v")
      .select(Ann.binEncode(col("v"), 64).as("b"))
      .head.getSeq[Int](0)
    val expected = (0 until 4).map { w =>
      (0 until 16).map(i =>
        if ((w * 16 + i) % 3 == 0) 1 << i else 0).sum
    }
    assert(words == expected)
    assert(words.forall(w => w >= 0 && w <= 0xffff))
  }

  test("binEncode: NULL vector yields NULL, not the dimension error") {
    import spark.implicits._
    val rows = Seq((1L, Option((0 until 64).map(i => i - 32.0))),
        (2L, None))
      .toDF("id", "v")
      .select(col("id"), Ann.binEncode(col("v"), 64).as("b"))
      .orderBy("id").collect()
    assert(!rows(0).isNullAt(1))
    assert(rows(1).isNullAt(1), "null input must propagate to null")
  }

  test("binaryTopK skips null-embedding corpus rows instead of crashing") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows: Seq[(Long, Option[Seq[Double]])] =
      (0L until 8L).map(i => (i, Option(Seq.fill(64)(rnd.nextGaussian())))) :+
        (8L, Option.empty[Seq[Double]])
    val df = rows.toDF("vec_id", "embedding")
    val got = Ann.binaryTopK(df.filter(col("vec_id") === 0),
      df, "vec_id", "vec_id", "embedding", k = 3, shortlist = 5)
      .collect()
    assert(got.length == 3)
    assert(!got.exists(_.getLong(2) == 8L),
      "the unsearchable null row must not appear as a neighbor")
    // the rerank cosine rides out next to the Hamming shortlist metric
    assert(got.forall(r => math.abs(r.getDouble(4)) <= 1.0 + 1e-12))
  }

  test("hammingWords equals the naive sign-mismatch count") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 24).map { i =>
      val a = Seq.fill(64)(rnd.nextGaussian())
      val b = Seq.fill(64)(rnd.nextGaussian())
      (i, a, b, (0 until 64).count(j => (a(j) > 0) != (b(j) > 0)))
    }
    val got = rows.toDF("i", "a", "b", "naive")
      .select(col("i"), col("naive"),
        Ann.hammingWords(Ann.binEncode(col("a"), 64),
          Ann.binEncode(col("b"), 64)).as("ham"))
      .collect()
    got.foreach(r => assert(r.getInt(2) == r.getInt(1),
      s"row ${r.getInt(0)}"))
  }

  test("binaryTopK: Hamming shortlist, exact cosine order within it") {
    val emb = Tables.embeddings(spark, sf())
    val queries = emb.orderBy("vec_id").limit(3)
    val res = Ann.binaryTopK(queries, emb, "vec_id", "vec_id",
        "embedding", k = 5, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3)))

    // Scala reference implementation over the same vectors
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def bits(v: Array[Double]): Array[Int] =
      (0 until 4).map(w => (0 until 16).map(i =>
        if (v(w * 16 + i) > 0) 1 << i else 0).sum).toArray
    def ham(a: Array[Double], b: Array[Double]): Int =
      bits(a).zip(bits(b)).map { case (x, y) =>
        Integer.bitCount(x ^ y) }.sum
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    (0L until 3L).foreach { q =>
      val short = vecs.keys.filter(_ != q).toSeq
        .map(c => (ham(vecs(q), vecs(c)), c))
        .sortBy(identity).take(20)
      val expect = short.map { case (h, c) =>
        (cos(vecs(q), vecs(c)), c, h) }
        .sortBy { case (s, c, _) => (-s, c) }.take(5)
      val gotQ = res.filter(_._1 == q).sortBy(_._2)
      assert(gotQ.map(_._3).toSeq == expect.map(_._2),
        s"query $q neighbor order")
      assert(gotQ.map(_._4).toSeq == expect.map(_._3),
        s"query $q hamming values")
    }
  }

  test("bm25Queries equals per-term-set bm25 calls") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf())
    val sets = Seq(0L -> Seq("spark", "window"), 1L -> Seq("vector"))
    val multi = TextFns.bm25Queries(docs, "doc_id", "text",
        sets.toDF("query_id", "terms"), "query_id", "terms",
        topK = 20, logIdf = false)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(r =>
          (r.getLong(2), r.getDouble(3), r.getLong(4))).toSeq
      }
    sets.foreach { case (qid, terms) =>
      val single = TextFns.bm25(docs, "doc_id", "text", terms,
          topK = 20, logIdf = false)
        .collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      assert(multi(qid) == single, s"query $qid")
    }
    graft.core.Caches.releaseAll(spark)
  }

  test("bm25Queries: duplicate and case-variant terms score once") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf())
    val clean = TextFns.bm25Queries(docs, "doc_id", "text",
        Seq((0L, Seq("spark"))).toDF("query_id", "terms"),
        "query_id", "terms", topK = 5, logIdf = false)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
    val duped = TextFns.bm25Queries(docs, "doc_id", "text",
        Seq((0L, Seq("spark", "Spark", "spark"))).toDF("query_id",
          "terms"),
        "query_id", "terms", topK = 5, logIdf = false)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(duped == clean)
    graft.core.Caches.releaseAll(spark)
  }

  test("hardNegatives: unlabeled rows are excluded from mining") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0, 0.0), Some(1)), (1L, Seq(0.9, 0.1), Some(1)),
      (2L, Seq(0.8, 0.2), None), (3L, Seq(0.0, 1.0), Some(2)))
      .toDF("vec_id", "embedding", "label")
    val got = Retrieval.hardNegatives(emb.filter(col("vec_id") === 0),
        emb, "vec_id", "vec_id", "embedding", "label", 2, 2)
      .collect().map(r => (r.getBoolean(1), r.getLong(3))).toSet
    // vec 2 (NULL label) appears in neither polarity
    assert(got == Set((true, 1L), (false, 3L)))
  }

  test("rankMetrics: a query with no approx rows scores zero") {
    import spark.implicits._
    val approx = Seq((1L, 10L, 1)).toDF("query_id", "doc_id", "rank")
    val exact = Seq((1L, 10L, 1), (7L, 20L, 1))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rankMetrics(approx, exact, 1)
      .orderBy("query_id").collect()
    assert(got.length == 2)
    assert(got(1).getLong(0) == 7L && got(1).getLong(1) == 0L &&
      got(1).getDouble(2) == 0.0 && got(1).getDouble(3) == 0.0 &&
      got(1).getDouble(4) == 0.0)
  }

  test("rankMetrics: a reference shorter than k can still score 1.0") {
    import spark.implicits._
    // corpus of 3: only 2 reference rows exist for k=3 — a /k
    // denominator would cap recall at 2/3 and nDCG below 1
    val approx = Seq((1L, 10L, 1), (1L, 11L, 2))
      .toDF("query_id", "doc_id", "rank")
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rankMetrics(approx, exact, 3).head
    assert(got.getLong(1) == 2L)
    assert(got.getDouble(2) == 1.0, s"recall ${got.getDouble(2)}")
    assert(got.getDouble(3) == 1.0)
    assert(got.getDouble(4) == 1.0, s"ndcg ${got.getDouble(4)}")
  }

  test("binEncode fails loudly on a wrong-dimension vector") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq(Tuple1(Seq(1.0, -1.0))).toDF("v")
        .select(Ann.binEncode(col("v"), 64)).collect()
    }
    assert(err.getMessage.contains("binEncode expects 64"))
  }

  test("wordpieceEncode rejects vocab pieces longer than the cap") {
    val err = intercept[IllegalArgumentException] {
      TextFns.wordpieceEncode(col("t"), Seq("customer", "##s"),
        maxPieceLen = 6)
    }
    assert(err.getMessage.contains("customer"))
  }

  test("rrf fuses a hand-computed example") {
    import spark.implicits._
    val la = Seq((0L, 10L, 1), (0L, 11L, 2)).toDF("query_id", "doc_id",
      "rank")
    val lb = Seq((0L, 11L, 1), (0L, 12L, 2)).toDF("query_id", "doc_id",
      "rank")
    val got = Retrieval.rrf(Seq(la, lb), kConst = 60, topK = 10)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    def dec(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val s11 = (dec(1.0 / 62) + dec(1.0 / 61)).toDouble
    val s10 = dec(1.0 / 61).toDouble
    val s12 = dec(1.0 / 62).toDouble
    assert(got.toSeq == Seq((1, 11L, s11, 2L), (2, 10L, s10, 1L),
      (3, 12L, s12, 1L)))
  }

  test("hardNegatives: polarity honors labels; ranks follow cosine") {
    val emb = Tables.embeddings(spark, sf())
    val anchors = emb.orderBy("vec_id").limit(3)
    val got = Retrieval.hardNegatives(anchors, emb, "vec_id",
        "vec_id", "embedding", "label", nPos = 2, nNeg = 2)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        r.getInt(2), r.getLong(3), r.getInt(4)))
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    (0L until 3L).foreach { anc =>
      Seq(true, false).foreach { pos =>
        val expect = vecs.keys.filter(c => c != anc &&
            (labels(c) == labels(anc)) == pos).toSeq
          .map(c => (cos(vecs(anc), vecs(c)), c))
          .sortBy { case (s, c) => (-s, c) }.take(2).map(_._2)
        val gotP = got.filter(r => r._1 == anc && r._2 == pos)
          .sortBy(_._3)
        assert(gotP.map(_._4).toSeq == expect, s"anchor $anc pos=$pos")
        assert(gotP.forall(r =>
          (labels(r._4) == labels(anc)) == pos))
      }
    }
  }

  test("rankMetrics: hand-computed recall, MRR, nDCG") {
    import spark.implicits._
    val approx = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
        (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3))
      .toDF("query_id", "doc_id", "rank")
    val exact = Seq((1L, 11L, 1), (1L, 13L, 2), (1L, 10L, 3),
        (2L, 30L, 1), (2L, 31L, 2), (2L, 32L, 3))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rankMetrics(approx, exact, 3)
      .orderBy("query_id").collect()
    def dec(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val g = Retrieval.dcgGains(3)
    val idcg = (dec(g(0)) + dec(g(1)) + dec(g(2))).toDouble
    // query 1: hits at ranks 1 and 2 (docs 10, 11), miss at 3
    val q1 = got(0)
    assert(q1.getLong(1) == 2L)
    assert(q1.getDouble(2) == 2.0 / 3)
    assert(q1.getDouble(3) == 1.0)
    assert(q1.getDouble(4) ==
      (dec(g(0)) + dec(g(1))).toDouble / idcg)
    // query 2: zero overlap → all-zero metrics
    val q2 = got(1)
    assert(q2.getLong(1) == 0L)
    assert(q2.getDouble(2) == 0.0)
    assert(q2.getDouble(3) == 0.0)
    assert(q2.getDouble(4) == 0.0)
  }

  test("rrf: a document present in both lists outranks one with the " +
      "same best rank in a single list") {
    import spark.implicits._
    // doc 5 is rank 3 in both lists; doc 6 is rank 3 in one only
    val la = Seq((1L, 5L, 3), (1L, 7L, 1)).toDF("query_id", "doc_id",
      "rank")
    val lb = Seq((1L, 5L, 3), (1L, 6L, 3)).toDF("query_id", "doc_id",
      "rank")
    val order = Retrieval.rrf(Seq(la, lb), topK = 10)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(order.indexOf(5L) < order.indexOf(6L))
  }

  test("mmr demotes a near-duplicate of the first pick in favor of " +
      "a diverse candidate") {
    import spark.implicits._
    def pad(xs: Double*): Seq[Double] =
      xs ++ Seq.fill(64 - xs.length)(0.0)
    // query between two clusters: cand 10 = best, cand 11 ≈ clone of
    // 10 (second by relevance), cand 12 = the OTHER cluster, third by
    // relevance but nearly orthogonal to 10 — MMR must flip 11 and 12
    val q = Seq((1L, pad(1.0))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, pad(0.8, 0.6)),
      (11L, pad(0.8, 0.601)),
      (12L, pad(0.79, -0.6))).toDF("vec_id", "embedding")
    val byRel = Ann.bruteForceTopK(q, corpus, "vec_id", "vec_id",
      "embedding", 3).orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(byRel == Seq(10L, 11L, 12L), s"fixture broken: $byRel")
    val sel = Retrieval.mmrRerank(q, corpus, "vec_id", "vec_id",
        "embedding", k = 2, shortlist = 3, lambdaPct = 70)
      .orderBy("step").collect().map(_.getLong(2)).toSeq
    assert(sel == Seq(10L, 12L),
      s"MMR should pick the diverse candidate second, got $sel")
  }

  test("mmr over a binaryTopK shortlist: full-cover shortlist equals " +
      "the exact-cosine trajectory") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf())
    val queries = emb.orderBy("vec_id").limit(5)
    // binary candidate pool: Hamming-100 shortlist reranked to the
    // cosine top-20, rel = the rerank cosine the index probe already
    // computes — the same (query, cand, rel) contract as the exact
    // path. A 20-wide Hamming probe loses tail candidates (the
    // quantization trade p_rank_eval measures); 100/500 recovers most
    // of the exact pool, which is the production posture: widen the
    // probe, not the final k.
    val short = Ann.binaryTopK(queries, emb, "vec_id", "vec_id",
        "embedding", k = 20, shortlist = 100)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        col("cos").as("rel"))
    val vecs = emb.select(col("vec_id").as("cand_id"),
      col("embedding").cast("array<double>").as("v"))
    val viaIndex = Retrieval.mmr(short, vecs, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    graft.core.Caches.releaseAll(spark)
    val exact = Retrieval.mmrRerank(queries, emb, "vec_id", "vec_id",
        "embedding", k = 3, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    graft.core.Caches.releaseAll(spark)
    // Hamming-shortlist membership is approximate; require high but
    // not total agreement on this fixture, and identical shape
    assert(viaIndex.map(_._1) == exact.map(_._1))
    val overlap = viaIndex.intersect(exact).size.toDouble / exact.size
    assert(overlap >= 0.6, s"overlap $overlap: $viaIndex vs $exact")
  }

  test("mmr at lambda=100 is pure relevance order") {
    import spark.implicits._
    def pad(xs: Double*): Seq[Double] =
      xs ++ Seq.fill(64 - xs.length)(0.0)
    val q = Seq((1L, pad(1.0))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, pad(0.8, 0.6)),
      (11L, pad(0.8, 0.601)),
      (12L, pad(0.79, -0.6))).toDF("vec_id", "embedding")
    val sel = Retrieval.mmrRerank(q, corpus, "vec_id", "vec_id",
        "embedding", k = 3, shortlist = 3, lambdaPct = 100)
      .orderBy("step").collect().map(_.getLong(2)).toSeq
    assert(sel == Seq(10L, 11L, 12L))
  }
}
