package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Padding-waste accounting for a batch assignment frame
    * ((shard, bin) batches of `n_tokens` chunks): the padded-token
    * fraction a trainer would burn, `1 − Σtokens / (n_batches ·
    * capacity)`.
    */
  private def packingStats(assignment: DataFrame, capacity: Int)
      : DataFrame =
    assignment.groupBy("shard", "bin")
      .agg(sum("n_tokens").as("tokens"))
      .agg(count(lit(1)).as("n_batches"), sum("tokens").as("tokens"))
      .select((lit(1.0d) - col("tokens") /
        (col("n_batches") * capacity)).as("waste_frac"))

  /** PQ reconstruction: the concatenated codebook entries of `codes`. */
  private def pqDecode(codes: Seq[Int],
      books: Array[Array[Array[Double]]]): Seq[Double] =
    codes.zipWithIndex.flatMap { case (c, s) => books(s)(c).toSeq }

  private val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "The quick brown fox jumps over the lazy dog near the river bend"),
    (3L, "A completely different document about Spark query processing"),
    (4L, "The quick brown fox jumps over the lazy dog near the river bank"),
    (5L, "the  QUICK brown fox jumps over the lazy dog near the river bank"))
    .toDF("doc_id", "text")

  test("exact dedup groups by normalized content") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    // 1, 4 and 5 (case/whitespace) normalize equal → one group of 3
    assert(g.filter($"n_dups" === 3).select("keep_id")
      .head().getLong(0) == 1L)
    // one group per distinct normalized text: the dedup keeps 3 rows
    assert(g.count() == 3)
  }

  test("minhash LSH finds near-dup pair, skips unrelated") {
    // the corpus against itself: self pairs are excluded, so every
    // near-dup pair shows in both orientations
    val pairs = Dedup.incrementalDupPairsMd5(docs, "doc_id", docs,
        "doc_id", "text", n = 3, k = 64, b = 16, threshold = 0.5)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // one word differs
    assert(pairs.contains((1L, 4L))) // identical
    assert(pairs.forall { case (a, b) => pairs.contains((b, a)) })
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("hash-interval split is repartition-stable and covers all rows") {
    val big = spark.range(0, 2000).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Sampling.split(big, "id", splits, seed = 5)
      .select("id", "split").as[(Long, String)].collect().toMap
    val b = Sampling.split(big.repartition(13), "id", splits, seed = 5)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(a == b, "split membership must not depend on partitioning")
    assert(a.size == 2000)
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    // uniform hash → counts close to the weights
    assert(math.abs(counts("train") - 1600) < 100, counts)
    assert(math.abs(counts("val") - 200) < 60, counts)
    // membership is append-stable: a subset sees identical labels
    val sub = Sampling.split(big.filter($"id" < 100), "id", splits,
      seed = 5).select("id", "split").as[(Long, String)].collect().toMap
    assert(sub.forall { case (k, v) => a(k) == v })
  }

  test("minhash calibration: identical pair at k matches, disjoint at 0") {
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine"),
      (4L, "utterly disjoint content words entirely other tokens"))
      .toDF("doc_id", "text")
    val cal = Dedup.minhashCalibration(rows, "doc_id", "text",
        deltas = Seq(1L, 2L, 3L))
      .orderBy("matches")
      .select("matches", "n_pairs", "avg_jaccard")
      .as[(Int, Long, Double)].collect()
    // the identical pair (1,2) lands in the top bucket with jac 1.0
    assert(cal.last._1 == 32 && cal.last._3 == 1.0, cal.toSeq)
    // disjoint pairs land at 0 matches with jac 0.0
    assert(cal.head._1 == 0 && cal.head._3 == 0.0, cal.toSeq)
    graft.core.Caches.releaseAll(spark)
  }

  test("grouped split: every row of a group lands in one split") {
    // key the split on the GROUP column — the leakage-safe form:
    // near-dups concentrate within a source, so putting whole
    // sources in one split keeps them off the train/test boundary
    val rows = (0 until 600).map(i => (i.toLong, s"src${i % 7}"))
      .toDF("doc_id", "source")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Sampling.split(rows, "source", splits, seed = 5)
      .select("source", "split").distinct().collect()
    // one split per source — no source straddles a boundary
    assert(got.length == 7, got.mkString(", "))
  }

  test("packChunks bins consecutive chunks greedily under the budget") {
    // 10 tokens, window 3 -> chunks of 3/3/3/1; budget 7 packs
    // 3+3 | 3+1 (second 3 opens bin 1? no: 3+3=6 fits, +3=9 > 7 ->
    // bin 1 gets chunks 2,3 with 3+1=4)
    val t = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"))
      .toDF("doc_id", "text")
    val got = t.select(explode(
        TextFns.packChunks(col("text"), 3, 7)).as("c"))
      .select("c.idx", "c.n_tokens", "c.bin")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 3L, 0L), (1L, 3L, 0L), (2L, 3L, 1L),
      (3L, 1L, 1L)))
    // an oversize document chunk still gets a bin of its own
    val one = Seq((2L, "a b c")).toDF("doc_id", "text")
    val g1 = one.select(explode(
        TextFns.packChunks(col("text"), 3, 3)).as("c"))
      .select("c.bin").as[Long].collect().toSeq
    assert(g1 == Seq(0L))
  }

  test("bpePairStats counts adjacent token pairs, heaviest first") {
    val t = Seq(
      (1L, "new york new york city"),
      (2L, "in new york"),
      (3L, "solo")).toDF("doc_id", "text")
    val got = TextFns.bpePairStats(t, "text", topN = 3)
      .as[(String, Long)].collect().toSeq
    // "new york" appears 3x (twice in doc 1, once in doc 2)
    assert(got.head == ("new york", 3L), got)
    // count-desc then pair-asc tiebreak pins the top-3 exactly
    assert(got == Seq(("new york", 3L), ("in new", 1L),
      ("york city", 1L)), got)
    // single-token docs contribute nothing; counts are occurrences
    val all = TextFns.bpePairStats(t, "text", topN = 100)
      .as[(String, Long)].collect().toMap
    assert(all("york new") == 1L) // pair spanning repeated bigram
    assert(all.values.sum == 4 + 2) // doc1: 4 pairs, doc2: 2, doc3: 0
  }

  test("capPerKey keeps the exact per-key top-cap, partition-stable") {
    val df = spark.range(0, 3000).toDF("id")
      .withColumn("domain", concat(lit("d"), col("id") % 7))
      .withColumn("score", (col("id") * 37) % 101)
    def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.select("id").as[Long].collect().sorted.toSeq
    val one = Sampling.capPerKey(df, "domain",
      Seq(col("score").desc, col("id")), cap = 25)
    assert(one.count() == 7L * 25)
    // deterministic under repartitioning (rank ties broken by id)
    val rep = Sampling.capPerKey(df.repartition(13), "domain",
      Seq(col("score").desc, col("id")), cap = 25)
    assert(ids(one) == ids(rep))
    // keys under the cap pass whole
    val small = Sampling.capPerKey(df.filter(col("id") < 10), "domain",
      Seq(col("id")), cap = 25)
    assert(small.count() == 10)
  }

  test("urlDomain extracts the lowercased hostname, strips www") {
    val rows = Seq(
      "https://www.Example.ORG/path?q=1",
      "http://sub.site.co.uk:8080/x",
      "ftp://files.example.net/a",
      "not a url",
      "//missing.scheme/x").toDF("url")
      .select(TextFns.urlDomain(col("url"))).as[String].collect().toSeq
    assert(rows == Seq("example.org", "sub.site.co.uk",
      "files.example.net", "", ""))
  }

  test("weighted sampling is weight-monotone and partition-stable") {
    val df = spark.range(0, 2000).toDF("id")
    val half = Sampling.weighted(df, "id", lit(0.5), seed = 3)
      .as[Long].collect().toSet
    assert(math.abs(half.size - 1000) < 100, s"got ${half.size}")
    // weight 1.0 keeps everything, 0.0 nothing
    assert(Sampling.weighted(df, "id", lit(1.0), seed = 3).count() == 2000)
    assert(Sampling.weighted(df, "id", lit(0.0), seed = 3).count() == 0)
    // membership is scan-local: repartitioning cannot change it, and
    // a higher weight strictly grows the kept set
    val rep = Sampling.weighted(df.repartition(13), "id", lit(0.5),
      seed = 3).as[Long].collect().toSet
    assert(rep == half)
    val more = Sampling.weighted(df, "id", lit(0.8), seed = 3)
      .as[Long].collect().toSet
    assert(half.subsetOf(more))
  }

  test("assembleBatches: shard-local bins bounded by capacity + one chunk") {
    val docs = (1L to 40L).map(i =>
      (i, ("tok " * (i % 17 + 1).toInt).trim)).toDF("doc_id", "text")
    val got = TextFns.assembleBatches(docs, "doc_id", "text",
      window = 5, capacity = 12, shards = 4)
      .select("doc_id", "idx", "n_tokens", "shard", "bin")
      .as[(Long, Long, Long, Int, Long)].collect().toSeq
    assert(got.map(_._4).toSet.subsetOf((0 until 4).toSet))
    // every batch's token total <= capacity + (window - 1): the
    // prefix-sum assignment lets only the straddling chunk overflow
    val perBin = got.groupBy(r => (r._4, r._5)).view
      .mapValues(_.map(_._3).sum)
    perBin.foreach { case (k, tot) =>
      assert(tot <= 12 + 4, s"batch $k holds $tot tokens") }
    // bins are contiguous from 0 within each shard
    got.groupBy(_._4).foreach { case (sh, rows) =>
      val bins = rows.map(_._5).distinct.sorted
      assert(bins == (0L to bins.max).toSeq, s"shard $sh bins $bins") }
    // deterministic under repartitioning
    val rep = TextFns.assembleBatches(docs.repartition(7), "doc_id",
      "text", window = 5, capacity = 12, shards = 4)
      .select("doc_id", "idx", "n_tokens", "shard", "bin")
      .as[(Long, Long, Long, Int, Long)].collect().toSeq
    assert(rep.sortBy(r => (r._1, r._2)) == got.sortBy(r => (r._1, r._2)))
  }

  test("repetition signals: duplicate trigrams and top-token fraction") {
    val t = Seq(
      (1L, "spam spam spam spam spam spam"),      // all one token
      (2L, "a b c d e f g h"),                    // no repetition
      (3L, "x y z x y z x y z q")                 // repeated trigrams
    ).toDF("doc_id", "text")
    val got = t.select(col("doc_id"),
        TextFns.dupGramFrac(col("text"), 3).as("dup3"),
        TextFns.topTokenFrac(col("text")).as("top"))
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L)._1 == 0.75) // 4 identical trigrams: 1 - 1/4
    assert(got(1L)._2 == 1.0)
    assert(got(2L) == ((0.0, 0.125)))
    // doc 3: 8 trigrams, 4 distinct (xyz yzx zxy repeated + yzq): 0.5
    assert(got(3L)._1 == 0.5, got(3L))
    assert(got(3L)._2 == 0.3)
    // short/empty docs are 0.0, not null/NaN
    val short = Seq((9L, "one two"), (10L, "")).toDF("doc_id", "text")
      .select(TextFns.dupGramFrac(col("text"), 3).as("d"),
        TextFns.topTokenFrac(col("text")).as("t"))
      .as[(Double, Double)].collect().toSeq
    assert(short == Seq((0.0, 0.5), (0.0, 0.0)))
  }

  test("repeatedGrams surfaces cross-document boilerplate only") {
    val t = Seq(
      (1L, "SHARED FOOTER sentence here exactly once plus alpha"),
      (2L, "SHARED FOOTER sentence here exactly once plus beta"),
      (3L, "unique words only in this one document"))
      .toDF("doc_id", "text")
    val reps = Dedup.repeatedGrams(t, "doc_id", "text",
      n = 5, minDocs = 2)
    assert(reps.count() > 0, "the shared 5-grams must surface")
    assert(reps.agg(min("example_id")).head().getLong(0) == 1L)
    // within-doc repetition does not count: per-row hashes are distinct
    val solo = Seq((9L, "again again again again again again again"))
      .toDF("doc_id", "text")
    assert(Dedup.repeatedGrams(solo, "doc_id", "text", 5, 2)
      .count() == 0)
  }

  test("incremental dedup matches incoming docs against the corpus only") {
    val incoming = Seq(
      (100L, "The quick brown fox jumps over the lazy dog near the river bank"),
      (101L, "Nothing remotely similar lives in this sentence at all today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.incrementalDupPairsMd5(incoming, "doc_id",
      docs, "doc_id", "text", threshold = 0.5)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    // 100 duplicates corpus docs 1/2/4/5; 101 matches nothing; corpus-
    // internal dups (1,4) must NOT surface
    assert(pairs.contains((100L, 1L)) && pairs.contains((100L, 4L)))
    assert(!pairs.exists(_._1 == 101L))
    assert(pairs.forall(_._1 >= 100L),
      "only incoming ids may appear on the new side")
  }

  test("dupGroups: connected components close transitive chains") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    // chain 1-2-3, pair 5-6, singleton 4; mixed edge orientations
    val pairs = Seq((2L, 1L), (2L, 3L), (6L, 5L)).toDF("id1", "id2")
    val comp = Dedup.dupGroups(ids, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L), comp)
  }

  test("dupGroups: chain diameter far beyond maxIter converges " +
      "(pointer doubling)") {
    val n = 60 // path graph 1-2-...-60: diameter 59 > maxIter=20 rounds
    val ids = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id1", "id2")
    val comp = Dedup.dupGroups(ids, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == (1L to n).map(_ -> 1L).toMap)
  }

  test("minhashElementMd5 equals element_at of the full signature") {
    val sh = Dedup.shingles($"text")
    val both = docs.select(
      element_at(Dedup.minhashSignatureMd5(sh, 8), 1).as("a"),
      Dedup.minhashElementMd5(sh, 0, 8).as("b"),
      element_at(Dedup.minhashSignatureMd5(sh, 8), 8).as("c"),
      Dedup.minhashElementMd5(sh, 7, 8).as("d"))
      .as[(Long, Long, Long, Long)].collect()
    both.foreach { case (a, b, c, d) => assert(a == b && c == d) }
  }

  test("chunks: window boundaries, overlap, short docs") {
    val t = Seq((1L, "a b c d e f g h i j"), (2L, "x y"), (3L, ""))
      .toDF("doc_id", "text")
    val out = t.select($"doc_id",
      explode(TextFns.chunks($"text", 4, 2)).as("c"))
      .select($"doc_id", $"c.idx", $"c.chunk", $"c.n_tokens")
      .as[(Long, Long, String, Long)].collect().toSeq.sorted
    // 10 tokens, size 4, step 2 → starts 0,2,4,6 then tail start 8
    assert(out.filter(_._1 == 1L).map(_._3) == Seq(
      "a b c d", "c d e f", "e f g h", "g h i j"))
    assert(out.filter(_._1 == 2L) == Seq((2L, 0L, "x y", 2L)))
    assert(out.filter(_._1 == 3L) == Seq((3L, 0L, "", 0L)))
  }

  test("jaccard n-gram similarity") {
    val j = docs.as("a").crossJoin(docs.as("b"))
      .filter($"a.doc_id" === 1 && $"b.doc_id" === 3)
      .select(Dedup.jaccard($"a.text", $"b.text"))
      .head().getDouble(0)
    assert(j < 0.1)
    val jSame = docs.as("a").crossJoin(docs.as("b"))
      .filter($"a.doc_id" === 1 && $"b.doc_id" === 4)
      .select(Dedup.jaccard($"a.text", $"b.text")).head().getDouble(0)
    assert(jSame == 1.0)
  }

  test("simhash: near-identical docs within small hamming distance") {
    val sigs = docs.select($"doc_id", Dedup.simhashMd5($"text").as("sh"))
      .as[(Long, String)].collect().toMap
    assert(sigs(1L) == sigs(4L)) // identical text
    assert(sigs(1L) == sigs(5L)) // normalization invariant
    def dist(a: Long, b: Long): Int = spark.range(1)
      .select(Dedup.hammingBits(lit(sigs(a)), lit(sigs(b))))
      .head().getInt(0)
    assert(dist(1L, 2L) <= 12, dist(1L, 2L))
    assert(dist(1L, 3L) > 12, dist(1L, 3L))
    val pairs = Dedup.simhashPairsMd5(docs, "doc_id", "text",
      maxDistance = 3)
    assert(pairs.filter($"id1" === 1 && $"id2" === 4).count() == 1)
  }

  test("embedding cosine + hyperplane LSH dedup") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Array(0.99f, 0.01f, 0.5f, 0.2f)), // near-dup of 1
      (3L, Array(-1.0f, 0.5f, -0.5f, 0.1f)))
      .toDF("vec_id", "embedding")
    val cos12 = vecs.as("a").crossJoin(vecs.as("b"))
      .filter($"a.vec_id" === 1 && $"b.vec_id" === 2)
      .select(Dedup.cosine($"a.embedding".cast("array<double>"),
        $"b.embedding".cast("array<double>")))
      .head().getDouble(0)
    assert(cos12 > 0.999)
    // bucket by one hyperplane signature (p_embed_dup's kernel), then
    // verify by cosine within buckets
    val v = vecs.select($"vec_id", $"embedding".cast("array<double>")
        .as("vec"))
      .withColumn("bucket", element_at(
        graft.functions.HyperplaneBuckets($"vec", 4, 1, 4, 42), 1))
    val pairs = v.as("l").join(v.as("r"),
        $"l.bucket" === $"r.bucket" && $"l.vec_id" < $"r.vec_id")
      .filter(Dedup.cosine($"l.vec", $"r.vec") >= 0.99)
      .select($"l.vec_id", $"r.vec_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("ANN: LSH top-k achieves high recall vs brute force") {
    val emb = Seq(sf("sf0.001")).map(d =>
      spark.read.parquet(s"$d/embeddings.parquet")).head.limit(200).cache()
    val queries = emb.limit(10)
    val bf = Ann.bruteForceTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5, planes = 4, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(approx).size.toDouble / bf.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("ANN: IVF top-k achieves high recall vs brute force") {
    val emb = Seq(sf("sf0.001")).map(d =>
      spark.read.parquet(s"$d/embeddings.parquet")).head.limit(200).cache()
    val queries = emb.limit(10)
    val bf = Ann.bruteForceTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Ann.ivfTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5, nCentroids = 16, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(approx).size.toDouble / bf.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    // assignment is total and single: every vector has exactly one list
    val n = emb.count()
    val assigned = emb.select(Ann.assignCentroid(
      org.apache.spark.sql.functions.col("embedding")
        .cast("array<double>"))).distinct().count()
    assert(assigned <= 16 && n == 200)
  }

  test("strict packing: capacity holds, partition-invariant, NFD cuts waste") {
    val d = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    def run(bySize: Boolean, src: org.apache.spark.sql.DataFrame = d) =
      TextFns.assembleBatchesStrict(src, "doc_id", "text",
        window = 32, capacity = 80, shards = 8, bySize = bySize)
    // strict: no (shard, bin) exceeds capacity, in either order
    Seq(run(false), run(true)).foreach { a =>
      val over = a.groupBy("shard", "bin")
        .agg(sum("n_tokens").as("t")).filter($"t" > 80).count()
      assert(over == 0, "strict packing must never exceed capacity")
    }
    // deterministic under input partitioning
    val base = run(true).collect().toSet
    assert(run(true, d.repartition(13)).collect().toSet == base,
      "assignment must not depend on input partitioning")
    // every chunk packed exactly once
    val nChunks = d.select(explode(
      graft.functions.ChunkSizes($"text", 32, 0))).count()
    assert(base.size.toLong == nChunks)
    // size-sorted (next-fit-decreasing) waste ≤ doc-order waste
    def waste(bySize: Boolean): Double =
      packingStats(run(bySize), capacity = 80)
        .select("waste_frac").head().getDouble(0)
    val (doc, nfd) = (waste(false), waste(true))
    info(f"padding waste: doc-order $doc%.4f vs size-sorted $nfd%.4f")
    assert(nfd <= doc,
      s"NFD must not waste more than doc order: $nfd vs $doc")
    // at a real context ratio (capacity = 4 windows) size-sorting is
    // a strict win — 11.3% → 3.8% padded tokens on this corpus
    // (COVERAGE.md records the capacity-ratio sweep)
    def waste128(bySize: Boolean): Double =
      packingStats(TextFns.assembleBatchesStrict(d, "doc_id",
        "text", 32, 128, 8, bySize), 128)
        .select("waste_frac").head().getDouble(0)
    assert(waste128(true) < waste128(false),
      "size-sorted order must strictly cut waste at capacity=4·window")
  }

  test("unigram trainer: segmentation laws + usage conservation") {
    // kernel laws on a controlled vocab, brute-force differential
    val vocab = Array("ab", "ba", "aba", "abab", "ng", "ing")
    val words = Seq("abab", "ababa", "singing", "x", "queue")
    val seg = words.toDF("w")
      .select($"w", graft.functions.UnigramSegment($"w", vocab, 4)
        .as("pieces"))
      .as[(String, Seq[String])].collect().toMap
    words.foreach { w =>
      val p = seg(w)
      assert(p.mkString("") == w, s"pieces must concat back to $w")
      assert(p.forall(x => x.length == 1 || vocab.contains(x)),
        s"every multi-char piece of $w must be in vocab: $p")
      // brute force: fewest pieces, ties by joined string
      def splits(s: String): Seq[Seq[String]] =
        if (s.isEmpty) Seq(Seq.empty)
        else (1 to math.min(4, s.length)).flatMap { l =>
          val piece = s.take(l)
          if (l == 1 || vocab.contains(piece))
            splits(s.drop(l)).map(piece +: _)
          else Seq.empty
        }
      val best = splits(w).minBy(ps => (ps.size, ps.mkString(" ")))
      assert(p == best, s"$w: got $p, brute force says $best")
    }
    // corpus training: usage mass equals total character-piece mass
    // segmented, and training is partition-invariant
    val d = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val out = TextFns.unigramTrain(d, "text", seedSize = 40,
      vocabSize = 20, rounds = 2, maxPieceLen = 4)
    val rows = out.orderBy("piece").collect()
    graft.core.Caches.releaseAll(spark)
    val out2 = TextFns.unigramTrain(d.repartition(7), "text",
      seedSize = 40, vocabSize = 20, rounds = 2, maxPieceLen = 4)
      .orderBy("piece").collect()
    graft.core.Caches.releaseAll(spark)
    assert(rows.toSeq == out2.toSeq,
      "training must not depend on input partitioning")
    // piece-char mass == corpus token-char mass (nothing lost/dup'd)
    val pieceChars = rows.map(r =>
      r.getString(0).length * r.getLong(1)).sum
    val tokChars = d.select(explode(Dedup.tokens($"text")).as("w"))
      .select(sum(length($"w"))).head().getLong(0)
    assert(pieceChars == tokChars,
      s"segmented char mass $pieceChars != corpus char mass $tokChars")
    // encode agrees with the trained tokenizer's segmentation rule
    val vocab2 = rows.map(_.getString(0)).filter(_.length >= 2)
    val enc = Seq("the quick percentile").toDF("text")
      .select(TextFns.unigramEncode($"text", vocab2.toSeq, 4).as("p"))
      .as[Seq[String]].head()
    assert(enc.mkString("") == "thequickpercentile")
  }

  test("PQ: roundtrip is exact when vectors ARE codebook entries") {
    val books = Ann.pqBooks(m = 4, ks = 8, subDim = 4, seed = 77)
    // vectors built by concatenating one entry per subspace
    val rows = (0 until 8).map { c =>
      (c.toLong, (0 until 4).flatMap(s => books(s)(c)).toArray)
    }
    val df = rows.toDF("id", "v")
    val out = df.select($"id",
      Ann.pqEncode($"v", books).as("codes"))
      .collect()
    out.foreach { r =>
      val c = r.getSeq[Int](1)
      assert(c == Seq.fill(4)(r.getLong(0).toInt),
        s"codes must recover the entry id, got $c for id ${r.getLong(0)}")
      val orig = rows(r.getLong(0).toInt)._2
      assert(pqDecode(c, books) == orig.toSeq,
        "decode must be bit-exact on entries")
    }
  }

  test("PQ: trained codebooks reduce reconstruction distortion") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .limit(200).cache()
    def distortion(books: Array[Array[Array[Double]]]): Double = {
      val errs = emb.select(Ann.pqEncode($"embedding", books),
          $"embedding".cast("array<double>"))
        .collect().map { r =>
          r.getSeq[Double](1).zip(pqDecode(r.getSeq[Int](0), books))
            .foldLeft(0.0d) { case (s, (a, b)) => s + (a - b) * (a - b) }
        }
      errs.sum / errs.length
    }
    val seeded = distortion(Ann.pqBooks(8, 16, 8, seed = 9090))
    val trained = distortion(Ann.pqTrain(emb, "embedding",
      m = 8, ks = 16, subDim = 8, iters = 3, seed = 9090))
    assert(trained < seeded,
      s"Lloyd codebooks must beat seeded: trained=$trained seeded=$seeded")
  }

  test("PQ: ADC scores rank true near neighbors above the field") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .limit(200).cache()
    val queries = emb.limit(10)
    val bf = Ann.bruteForceTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // full ADC field per query (k = corpus size): mean ADC score of the
    // true top-5 must exceed the mean over all candidates — the ranking
    // signal PQ compresses the vectors down to
    val adc = Ann.pqTopK(queries, emb, "vec_id", "vec_id", "embedding",
      k = 200, m = 8, ks = 16, dim = 64, seed = 9090)
      .select("query_id", "neighbor_id", "score")
      .as[(Long, Long, Double)].collect()
    val byQ = adc.groupBy(_._1)
    byQ.foreach { case (q, rows) =>
      val all = rows.map(_._3)
      val top = rows.filter(r => bf.contains((r._1, r._2))).map(_._3)
      assert(top.nonEmpty, s"query $q lost its true neighbors")
      assert(top.sum / top.size > all.sum / all.size,
        s"ADC must separate true neighbors for query $q")
    }
  }

  test("keyword tagging: Aho-Corasick matches naive overlap counts") {
    val dict = Seq("he", "she", "his", "hers", "aa")
    val texts = Seq(
      (1L, "ushers"),           // classic: she, he, hers overlap
      (2L, "aaaa"),             // aa x3 (overlapping)
      (3L, "His cat"),          // case-normalized his
      (4L, "nothing here at all"),
      (5L, ""))
    def naive(t: String, kw: String): Long =
      (0 to t.length - kw.length)
        .count(i => t.regionMatches(i, kw, 0, kw.length)).toLong
    val got = texts.toDF("id", "text")
      .select($"id", explode(TextFns.tagKeywords($"text", dict)).as("t"))
      .select($"id", $"t.keyword", $"t.n")
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap)
      .toMap
    texts.foreach { case (id, raw) =>
      val t = raw.toLowerCase.replaceAll("\\s+", " ").trim
      val want = dict.map(k => k -> naive(t, k)).filter(_._2 > 0).toMap
      assert(got.getOrElse(id, Map.empty) == want,
        s"doc $id: got ${got.get(id)}, want $want")
    }
    assert(got(1L) == Map("she" -> 1L, "he" -> 1L, "hers" -> 1L))
    assert(got(2L) == Map("aa" -> 3L))
    // the dictionary normalizes like the text: a natural-casing or
    // doubled-space blocklist entry still matches, case variants
    // collapse to one row
    val cased = Seq((1L, "the credit  card\nand another credit card"))
      .toDF("id", "text")
      .select(explode(TextFns.tagKeywords($"text",
        Seq("Credit  Card", "CREDIT CARD"))).as("t"))
      .select($"t.keyword", $"t.n").as[(String, Long)].collect().toSeq
    assert(cased == Seq("credit card" -> 2L), cased)
  }

  test("PQ refine: exact re-rank of the ADC shortlist lifts recall") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .limit(200).cache()
    val queries = emb.limit(10)
    val bf = Ann.bruteForceTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      bf.intersect(got).size.toDouble / bf.size
    }
    val adc = recall(Ann.pqTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5))
    val ref = recall(Ann.pqTopKRefined(queries, emb, "vec_id",
      "vec_id", "embedding", k = 5, shortlist = 25))
    info(f"recall@5: adc $adc%.2f refined $ref%.2f")
    assert(ref >= adc, s"refinement must not lose recall: $ref < $adc")
    // refined results come from the ADC shortlist by construction
    val short = Ann.pqTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 25)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val refPairs = Ann.pqTopKRefined(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5, shortlist = 25)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(refPairs.subsetOf(short))
  }

  test("SQ int8: decode error bounded by half a step; constant vectors exact") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .limit(100)
    val worst = emb.select(
        $"embedding".cast("array<double>").as("v"),
        Ann.sqDecode(Ann.sqEncode($"embedding")).as("dec"),
        Ann.sqEncode($"embedding").getField("hi").as("hi"),
        Ann.sqEncode($"embedding").getField("lo").as("lo"))
      .select(aggregate(zip_with($"v", $"dec",
          (a, b) => abs(a - b)), lit(0.0d),
          (acc, x) => greatest(acc, x)).as("err"),
        (($"hi" - $"lo") / 255.0 / 2.0).as("half_step"))
      .filter($"err" > $"half_step" * 1.0000001).count()
    assert(worst == 0, "per-component error must be <= half a step")
    // constant vector: span 0 -> all-zero codes, exact roundtrip
    val c = Seq(Tuple1(Array.fill(4)(0.25d))).toDF("v")
      .select(Ann.sqEncode($"v").as("sq"))
      .select($"sq.codes", Ann.sqDecode($"sq").as("dec"))
      .as[(Seq[Int], Seq[Double])].head()
    assert(c._1 == Seq(0, 0, 0, 0) && c._2 == Seq.fill(4)(0.25d))
  }

  test("IVF-PQ: candidates respect probed lists; ADC ranks contiguous") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .limit(200).cache()
    val queries = emb.limit(10)
    val res = Ann.ivfPqTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5, nCentroids = 16, nprobe = 4)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect()
    // every neighbor's coarse list must be among the query's probes
    val assign = emb.select($"vec_id", Ann.assignCentroid(
        $"embedding".cast("array<double>")).as("cent"))
      .as[(Long, Int)].collect().toMap
    val probes = queries.select($"vec_id",
        Ann.probeCentroids($"embedding".cast("array<double>"), 4)
          .as("ps"))
      .as[(Long, Seq[Int])].collect().toMap
    res.foreach { case (q, _, n) =>
      assert(probes(q).contains(assign(n)),
        s"neighbor $n of query $q not in a probed list")
    }
    // ranks are 1..k contiguous per query and neighbors distinct
    res.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length),
        s"ranks must be contiguous for query $q")
      assert(rows.map(_._3).distinct.length == rows.length)
    }
  }

  test("residual IVF-PQ: list membership, assignment consistency, " +
      "and trained-residual recall wins on clustered data (measured)") {
    // planted clusters: 16 deterministic centers, 12 members each
    // with small seeded noise — the corpus shape IVF-PQ exists for
    val centers = Ann.centroids(16, 64, 999)
    val rows = (0 until 192).map { i =>
      val c = i % 16
      val rnd = new scala.util.Random(1234L + i)
      val v = centers(c).map(_ + rnd.nextGaussian() * 0.15)
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding").cache()
    val queries = emb.filter($"vec_id" < 10)
    val seededBooks = Ann.pqBooks(8, 16, 8, 9090)
    val res = Ann.ivfPqResidualTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5, books = seededBooks, nCentroids = 16,
      nprobe = 4, dim = 64, seed = 4242)
    val got = res.select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect()
    // structural invariants shared with the raw form
    val assign = emb.select($"vec_id", Ann.assignCentroid(
        $"embedding".cast("array<double>")).as("cent"))
      .as[(Long, Int)].collect().toMap
    val probes = queries.select($"vec_id",
        Ann.probeCentroids($"embedding".cast("array<double>"), 4)
          .as("ps"))
      .as[(Long, Seq[Int])].collect().toMap
    got.foreach { case (q, _, n) =>
      assert(probes(q).contains(assign(n)),
        s"neighbor $n of query $q not in a probed list")
    }
    // the kernel's assignment must equal the probe-side top-1 rule
    val kAssign = emb.select($"vec_id",
        graft.functions.ResidualPqCodes(
          $"embedding".cast("array<double>"), 16, 64, 4242,
          seededBooks).getField("cent").as("c"))
      .as[(Long, Int)].collect().toMap
    assert(kAssign == assign)
    // ... and ResidualVec must subtract exactly that assignment
    val rv = emb.select($"vec_id", graft.functions.ResidualVec(
        $"embedding".cast("array<double>"), 16, 64, 4242).as("r"),
        $"embedding")
      .as[(Long, Seq[Double], Seq[Double])].collect()
    rv.foreach { case (id, r, v) =>
      val cw = Ann.centroids(16, 64, 4242)(assign(id))
      r.indices.foreach(j =>
        assert(math.abs(r(j) - (v(j) - cw(j))) == 0.0d, s"vec $id"))
    }
    // recall A/B with the engine's own evaluator: trained residual
    // books must beat (a) the same residual search on books trained
    // in the WRONG space — seeded random unit entries sit at the
    // wrong scale for the residual ball — and (b) the raw-coding
    // default path
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
      val exact = Ann.bruteForceTopK(queries, emb, "vec_id",
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val a = approx
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      graft.pipeline.Retrieval.rankMetrics(a, exact, k = 5)
        .agg(avg("recall")).head.getDouble(0)
    }
    val trained = Ann.pqTrainResidual(emb, "embedding", m = 8,
      ks = 16, iters = 3)
    val rTrained = recallOf(Ann.ivfPqResidualTopK(queries, emb,
      "vec_id", "vec_id", "embedding", k = 5, books = trained,
      nCentroids = 16, nprobe = 4, dim = 64, seed = 4242))
    val rSeeded = recallOf(res)
    val rRaw = recallOf(Ann.ivfPqTopK(queries, emb, "vec_id",
      "vec_id", "embedding", k = 5, nCentroids = 16, nprobe = 4))
    info(s"recall@5: residual-trained $rTrained, " +
      s"residual-seeded $rSeeded, raw-seeded $rRaw")
    assert(rTrained >= rSeeded,
      s"training must not hurt: $rTrained vs $rSeeded")
    assert(rTrained >= rRaw,
      s"trained residual must not lose to raw: $rTrained vs $rRaw")
    graft.core.Caches.releaseAll(spark)
  }

  test("stratified sample: exact counts, stable under repartition") {
    val docs = (1L to 100L).map(i =>
      (i, if (i <= 40) "en" else if (i <= 70) "de" else "xx"))
      .toDF("doc_id", "lang")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Sampling.stratified(d, "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.1), default = 0.0, seed = 7)
        .select("doc_id").as[Long].collect().toSet
    val base = ids(docs)
    assert(ids(docs.repartition(7)) == base,
      "sample must not depend on partitioning")
    val byLang = docs.filter($"doc_id".isin(base.toSeq: _*))
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang == Map("en" -> 20L, "de" -> 3L),
      s"exact per-stratum counts, got $byLang")
    // deterministic shuffle: a stable total order, same rows
    val order1 = Sampling.deterministicShuffle(docs, "doc_id", 9)
      .select("doc_id").as[Long].collect().toSeq
    val order2 = Sampling.deterministicShuffle(docs.repartition(5),
      "doc_id", 9).select("doc_id").as[Long].collect().toSeq
    assert(order1 == order2 && order1.toSet == (1L to 100L).toSet)
    assert(order1 != (1L to 100L).toSeq, "order should be shuffled")
  }

  test("docFrequency: tf counts occurrences, df counts documents") {
    val t = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry"),
      (3L, "banana! BANANA cherry"))
      .toDF("id", "text")
    val out = TextFns.docFrequency(t, "id", "text", 10)
      .collect().map(r => (r.getAs[String]("token"),
        r.getAs[Long]("tf"), r.getAs[Long]("df"))).toList
    // ordered by (df desc, token): apple/banana/cherry all df=2
    assert(out == List(("apple", 3L, 2L), ("banana", 3L, 2L),
      ("cherry", 2L, 2L)))
    // topN truncates on the same total order
    val top1 = TextFns.docFrequency(t, "id", "text", 1)
      .collect().map(_.getAs[String]("token")).toList
    assert(top1 == List("apple"))
  }

  test("gopher rules: each flag trips on its own violation") {
    val good = ("the deal was done with care and that gave " +
      "everyone time to have lunch near the office be it rain " +
      "or shine and of course they came back later ") * 2
    def flags(s: String): Map[String, Any] = {
      val r = Seq((1L, s)).toDF("id", "text")
        .select(TextFns.gopherRules(col("text"), minWords = 10).as("g"))
        .select(col("g.*")).collect()(0)
      r.schema.fieldNames.zip(r.toSeq).toMap
    }
    val g = flags(good)
    assert(g("keep") == true, g.toString)
    assert(flags("too few words the and of")("ok_words") == false)
    assert(flags(("a " * 30) + "the be to of")("ok_mean_len") == false,
      "mean word length below 3")
    assert(flags(("## # " * 10) + "the be to of and")("ok_symbols")
      == false)
    assert(flags(("123 456 " * 10) + "the be of")("ok_alpha") == false)
    assert(flags((1 to 10).map(i => s"- bullet $i the be of and")
      .mkString("\n"))("ok_bullets") == false)
    assert(flags((1 to 10).map(i => s"line $i the be of and...")
      .mkString("\n"))("ok_ellipsis") == false)
    assert(flags("viele worte ohne englische funktionswoerter " * 5)(
      "ok_stopwords") == false)
  }

  test("dupSpans: merged maximal spans, island gaps, self-repeats") {
    val t = Seq(
      (1L, "p q r s t u v w"),
      (2L, "z z p q r s t u z"),
      (3L, "m n o p m n o p"),
      (4L, "all tokens unique here nine total words now"))
      .toDF("id", "text")
    val out = Dedup.dupSpans(t, "id", "text", n = 4, minCount = 2)
      .orderBy("doc_id", "start_tok")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("start_tok"), r.getAs[Long]("end_tok"),
        r.getAs[Long]("n_grams"))).toList
    // docs 1/2 share "p q r s t u": three 4-gram windows each, merged
    // into one maximal span; doc 3's self-repeated "m n o p" marks
    // positions 0 and 4 — a gap, so TWO spans; doc 4 yields nothing
    assert(out == List(
      (1L, 0L, 5L, 3L), (2L, 2L, 7L, 3L),
      (3L, 0L, 3L, 1L), (3L, 4L, 7L, 1L)))
  }

  test("postings: per-token top-cap by tf, exact uncapped df/cf") {
    val t = Seq(
      (1L, "apple apple apple banana"),
      (2L, "apple apple cherry"),
      (3L, "apple banana banana"),
      (4L, "apple date"))
      .toDF("id", "text")
    val out = TextFns.postings(t, "id", "text", cap = 2, minDf = 2)
      .orderBy("token", "rk")
      .collect().map(r => (r.getAs[String]("token"),
        r.getAs[Long]("df"), r.getAs[Long]("cf"),
        r.getAs[Int]("rk"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("tf"))).toList
    // apple: df=4 docs, cf=7 occurrences; cap keeps docs 1 (tf=3)
    // and 2 (tf=2); banana: df=2, cf=3, doc 3 (tf=2) then doc 1;
    // cherry/date df=1 fall below minDf
    assert(out == List(
      ("apple", 4L, 7L, 1, 1L, 3L), ("apple", 4L, 7L, 2, 2L, 2L),
      ("banana", 2L, 3L, 1, 3L, 2L), ("banana", 2L, 3L, 2, 1L, 1L)))
    // ties within equal tf break on doc_id (deterministic postings)
    val tie = TextFns.postings(t, "id", "text", cap = 3, minDf = 2)
      .filter(col("token") === "apple")
      .orderBy("rk").select("doc_id").as[Long].collect().toList
    assert(tie == List(1L, 2L, 3L),
      "tf ties (docs 2,3... ) order by doc_id")
  }

  test("contamination: inverted-gram join finds leaked pairs only") {
    import graft.pipeline.Decontam
    val train = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six seven"),
      (12L, "totally unrelated content right here"))
      .toDF("id", "text")
    val test = Seq(
      (1L, "alpha beta gamma delta NOT the rest"), // 2 shared 3-grams w/ 10
      (2L, "nothing in common with anything"),
      (3L, "one two three four nine ten"))         // 2 shared 3-grams w/ 11
      .toDF("id", "text")
    val got = Decontam.contamination(train, "id", test, "id", "text",
        n = 3, minCommon = 2)
      .collect().map(r => (r.getAs[Long]("test_id"),
        r.getAs[Long]("train_id"), r.getAs[Long]("n_common"))).toSet
    assert(got == Set((1L, 10L, 2L), (3L, 11L, 2L)), got)
    // boilerplate cap: with maxShingleFreq = 0 every gram is dropped
    val capped = Decontam.contamination(train, "id", test, "id", "text",
      n = 3, minCommon = 1, maxShingleFreq = 0).count()
    assert(capped == 0L)
    // empty eval side: nothing matches
    val none = Decontam.contamination(train, "id",
      test.filter(col("id") < 0), "id", "text",
      n = 3, minCommon = 1).count()
    assert(none == 0L)
    // RELATIVE cap: "alpha beta gamma" lands in 2/4 train docs (50%);
    // frac=0.25 → cap ceil(0.25·4)=1 drops it, demoting pair (1,10)
    // below minCommon; the rarer (3,11) grams (df=1) survive. The
    // DEFAULT frac (0.001) rounds up to cap 1 on this 3-doc corpus,
    // which is why `got` above — all df=1 grams — is unaffected by
    // it; frac=1.0 opts back into the legacy absolute-only cap
    val train2 = train.unionAll(Seq(
      (13L, "alpha beta gamma something else here")).toDF("id", "text"))
    val rel = Decontam.contamination(train2, "id", test, "id", "text",
        n = 3, minCommon = 2, maxShingleFrac = 0.25)
      .collect().map(r => (r.getAs[Long]("test_id"),
        r.getAs[Long]("train_id"))).toSet
    assert(rel == Set((3L, 11L)), rel)
    val noop = Decontam.contamination(train, "id", test, "id", "text",
        n = 3, minCommon = 2, maxShingleFrac = 1.0)
      .collect().map(r => (r.getAs[Long]("test_id"),
        r.getAs[Long]("train_id"), r.getAs[Long]("n_common"))).toSet
    assert(noop == got)
  }

  test("redact: typed placeholders, ordered patterns, match counts") {
    val t = Seq(
      (1L, "mail a.b-c%d@ex-ample.co.uk or call 555-123-4567 from 10.0.0.1"),
      (2L, "no pii here"),
      (3L, "double x@y.io z@w.ai and 1.2.3.4"))
      .toDF("id", "text")
    val out = t.select($"id",
        TextFns.redact($"text").as("r"),
        TextFns.piiCount($"text").as("n"))
      .orderBy("id").collect()
    assert(out(0).getAs[String]("r") ==
      "mail <EMAIL> or call <PHONE> from <IP>")
    assert(out(0).getAs[Long]("n") == 3L)
    assert(out(1).getAs[String]("r") == "no pii here")
    assert(out(1).getAs[Long]("n") == 0L)
    assert(out(2).getAs[String]("r") == "double <EMAIL> <EMAIL> and <IP>")
    assert(out(2).getAs[Long]("n") == 3L)
  }

  test("text analysis: counts, quality, language id, fingerprint") {
    val t = Seq(
      (1L, "The cat and the dog are in the house with the mouse."),
      (2L, "Der Hund und die Katze sind in dem Haus mit der Maus."),
      (3L, "Le chien et le chat sont dans la maison avec la souris."),
      (4L, "zzz qqq xxx"))
      .toDF("id", "text")
    val out = t.select($"id",
      TextFns.tokenCount($"text").as("tc"),
      TextFns.languageId($"text").as("lang"),
      TextFns.qualityScore($"text").as("q"),
      TextFns.stopwordRatio($"text").as("sr"))
      .orderBy("id").collect()
    assert(out(0).getAs[Long]("tc") == 12L)
    assert(out(0).getAs[String]("lang") == "en")
    assert(out(1).getAs[String]("lang") == "de")
    assert(out(2).getAs[String]("lang") == "fr")
    assert(out(3).getAs[String]("lang") == "und")
    assert(out(0).getAs[Double]("q") > out(3).getAs[Double]("q"))
    // fingerprint: invariant to case/whitespace (normalization), and
    // deterministic
    val fp = Seq((1L, "Shared  prefix body of TEXT aaa"),
      (2L, "shared prefix body of text AAA"),
      (3L, "something else entirely different"))
      .toDF("id", "text")
      .select(TextFns.fingerprintMd5($"text")).as[String].collect()
    assert(fp(0) == fp(1) && fp(0) != fp(2))
  }

  test("bm25: textbook log-idf ranking on a controlled micro-corpus") {
    val corpus = Seq(
      (1L, "spark spark spark query engine"),
      (2L, "spark query"),
      (3L, "database index btree storage"),
      (4L, "spark")).toDF("doc_id", "text")
    val top = TextFns.bm25(corpus, "doc_id", "text", Seq("spark"),
      topK = 10, logIdf = true)
      .select("doc_id", "score", "n_terms")
      .as[(Long, Double, Long)].collect()
    // only docs containing the term appear
    assert(top.map(_._1).toSet == Set(1L, 2L, 4L))
    assert(top.forall(_._2 > 0) && top.forall(_._3 == 1L))
    // doc 4 (dl=1, tf=1) outranks doc 2 (dl=2, tf=1): shorter doc,
    // same tf; doc 1 has tf=3 but dl=5 — length normalization at
    // b=0.75 still ranks it above the tf=1 docs
    val byRank = top.sortBy(-_._2).map(_._1).toSeq
    assert(byRank.head == 1L && byRank == Seq(1L, 4L, 2L), byRank.toString)
    // multi-term: rarer term contributes higher idf
    val two = TextFns.bm25(corpus, "doc_id", "text",
      Seq("spark", "btree"), topK = 10)
      .select("doc_id", "n_terms").as[(Long, Long)].collect().toMap
    assert(two(3L) == 1L && two(1L) == 1L)
  }

  test("paragraph dedup drops cross-document boilerplate, keeps order") {
    val sep = "\n\n"
    val pdocs = Seq(
      (1L, s"alpha one${sep}COMMON FOOTER${sep}beta one"),
      (2L, s"alpha two${sep}COMMON FOOTER${sep}beta two"),
      (3L, s"alpha three${sep}COMMON FOOTER${sep}beta three"),
      (4L, s"COMMON FOOTER")).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedParagraphs(pdocs, "doc_id", "text",
      sep = sep, minDocs = 3)
      .orderBy("doc_id")
      .select("doc_id", "text", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect()
    assert(out.length == 4)
    assert(out(0) == ((1L, s"alpha one${sep}beta one", 2L, 1L)))
    assert(out(1) == ((2L, s"alpha two${sep}beta two", 2L, 1L)))
    // all-boilerplate doc survives with empty text (caller decides)
    assert(out(3) == ((4L, "", 0L, 1L)))
  }

  test("paragraph dedup keeps null-text documents (one row per input doc)") {
    val sep = "\n\n"
    val pdocs = Seq(
      (1L, Some(s"real one${sep}FOOT${sep}tail one")),
      (2L, Some(s"real two${sep}FOOT${sep}tail two")),
      (3L, None: Option[String]),
      (4L, None: Option[String])).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedParagraphs(pdocs, "doc_id", "text",
      sep = sep, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "text", "n_kept")
      .as[(Long, Option[String], Long)].collect()
    // null-text docs survive as rows with null text, and their
    // synthesized empty paragraph never enters the boilerplate profile
    assert(out.length == 4, out.mkString("; "))
    assert(out(2) == ((3L, None, 0L)))
    assert(out(3) == ((4L, None, 0L)))
    assert(out(0) == ((1L, Some(s"real one${sep}tail one"), 2L)))
  }

  test("linear quality classifier: deterministic margins, literal weights") {
    val out = TextFns.linearQuality(docs, "doc_id", "text",
      dim = 16, seed = 3).orderBy("doc_id")
      .select("doc_id", "margin", "n_tokens", "keep")
      .as[(Long, Double, Long, Boolean)].collect()
    assert(out.length == 5)
    // identical text (1 vs 4) → identical margin; near-identical (2:
    // one word differs) → different margin
    assert(out(0)._2 == out(3)._2)
    assert(out(0)._2 != out(1)._2)
    assert(out.forall(r => r._4 == (r._2 > 0)))
    // repartition-stable (DECIMAL-reduced sum, hash-derived weights)
    val re = TextFns.linearQuality(docs.repartition(7), "doc_id",
      "text", dim = 16, seed = 3)
      .orderBy("doc_id").select("margin").as[Double].collect()
    assert(re.toSeq == out.map(_._2).toSeq)
    // literal trained weights: all-ones weights → margin = Σ tf/dl = 1
    val ones = TextFns.linearQuality(docs, "doc_id", "text", dim = 4,
      weights = Some(Seq(1.0, 1.0, 1.0, 1.0)))
      .select("margin").as[Double].collect()
    assert(ones.forall(m => math.abs(m - 1.0) < 1e-9), ones.toSeq.toString)
    // bias shifts the margin and flips keep decisions
    val biased = TextFns.linearQuality(docs, "doc_id", "text", dim = 4,
      weights = Some(Seq(1.0, 1.0, 1.0, 1.0)), bias = -2.0)
      .select("keep").as[Boolean].collect()
    assert(biased.forall(_ == false))
    // weights outside the fixed-point envelope are rejected up front
    // (a 1.2e5 weight would overflow decimal(20,15) to NULL and
    // silently poison every margin in that bucket)
    val e = intercept[IllegalArgumentException] {
      TextFns.linearQuality(docs, "doc_id", "text", dim = 4,
        weights = Some(Seq(1.0, 1.2e5, 1.0, 1.0)))
    }
    assert(e.getMessage.contains("fixed-point margin bound"))
    val e2 = intercept[IllegalArgumentException] {
      TextFns.linearQuality(docs, "doc_id", "text", dim = 4,
        weights = Some(Seq(1.0, Double.NaN, 1.0, 1.0)))
    }
    assert(e2.getMessage.contains("finite"))
  }

  test("bpe encode: rank-ordered merges, word boundaries, full words") {
    val merges = Seq(("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"))
    def enc(s: String): Seq[String] =
      Seq(s).toDF("text")
        .select(TextFns.bpeEncode(col("text"), merges).as("e"))
        .as[Seq[String]].head()
    // full cascade: t+a → ta, ta+b → tab, l+e → le, tab+le → table
    assert(enc("table") == Seq("table"))
    // partial application where later merges don't fire
    assert(enc("tale") == Seq("ta", "le"))
    // merges never cross word boundaries: "ta ble" keeps b,le apart
    // from ta (no (ta,b) across the space)
    assert(enc("ta ble") == Seq("ta", "b", "le"))
    // word-initial merge fires on the second word too
    assert(enc("x table") == Seq("x", "table"))
    // rank order is load-bearing: with (a,b) ranked FIRST, "tab"
    // becomes t + ab (the (t,a) merge finds its 'a' consumed)
    val reordered = Seq(("a", "b"), ("t", "a"))
    val r = Seq("tab").toDF("text")
      .select(TextFns.bpeEncode(col("text"), reordered).as("e"))
      .as[Seq[String]].head()
    assert(r == Seq("t", "ab"))
    // left-to-right all-occurrence semantics within a word
    assert(enc("tata") == Seq("ta", "ta"))
  }

  test("bpe train: learns the textbook merges with deterministic ties") {
    val t = Seq((1L, "low lower lowest low low")).toDF("id", "text")
    // pair counts round 1: "l o"=5, "o w"=5, "w e"=2, rest 1 — the
    // 5-5 tie breaks on the pair string ("l o" < "o w")
    val m = TextFns.bpeTrain(t, "text", nMerges = 3)
    assert(m == Seq(("l", "o", 5L), ("lo", "w", 5L), ("low", "e", 2L)))
    // the learned merges drive the encoder
    val enc = t.select(TextFns.bpeEncode($"text",
        m.map { case (a, b, _) => (a, b) }).as("e"))
      .as[Seq[String]].head()
    assert(enc == Seq("low", "lowe", "r", "lowe", "s", "t", "low",
      "low"))
    // training dries out when every word is a single symbol
    val tiny = Seq((1L, "ab ab")).toDF("id", "text")
    assert(TextFns.bpeTrain(tiny, "text", nMerges = 5) ==
      Seq(("a", "b", 2L)))
  }

  test("bpe encode: native kernel equals the literal replace chain") {
    val merges = Seq(("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"),
      ("a", "a"), ("e", "r"))
    val battery = Seq("table", "tale", "ta ble", "x table", "tata",
      "aaaa aaa", "ERror TArter", "", "?!", "a", "tab tab le tables",
      "Üppige Straßen 42, éclairs!")
    val df = battery.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val native = df.select($"id",
        TextFns.bpeEncode($"text", merges).as("e"))
      .as[(Long, Seq[String])].collect().toMap
    val chain = df.select($"id",
        BpeReference.encodeChain($"text", merges).as("e"))
      .as[(Long, Seq[String])].collect().toMap
    assert(native == chain)
  }

  test("count-min sketch: est >= exact, sharded merge == global build") {
    val tokens = docs.select(
      explode(graft.functions.TokenCounts($"text")).as("tc"))
      .groupBy($"tc.token".as("token"))
      .agg(sum($"tc.cnt").as("exact"))
    val global = CountMin.build(docs, "text", depth = 4, width = 32)
    val merged = CountMin.merge(
      CountMin.buildSharded(docs, "text", col("doc_id") % 2,
        depth = 4, width = 32))
    // additivity: per-shard build + merge is the global sketch
    assert(merged.orderBy("row", "col").collect().toSeq ==
      global.orderBy("row", "col").collect().toSeq)
    val est = CountMin.estimate(merged, tokens.select("token"),
        depth = 4, width = 32)
      .join(tokens, "token")
      .select("token", "est", "exact").as[(String, Long, Long)].collect()
    assert(est.nonEmpty && est.forall(r => r._2 >= r._3), est.toSeq.toString)
    // unseen token estimates 0 (absent cells are true zeros) — width
    // 32 over this tiny vocabulary may collide, so probe a few and
    // require at least that the floor holds
    val unseen = CountMin.estimate(merged,
      Seq("zzz-unseen").toDF("token"), depth = 4, width = 32)
      .select("est").as[Long].head()
    assert(unseen >= 0)
  }

  test("temperature mix flattens the stratum distribution") {
    val rows = (0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 1000).map(i => (i.toLong, "small"))
    val df = rows.toDF("id", "stratum")
    val kept = Sampling.temperatureMix(df, "stratum", "id",
      targetFrac = 0.3, alpha = 0.5, seed = 11)
      .groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    // alpha=0.5 rates: p_big = 30/40, p_small = 10/40 → expected keeps
    // big: 0.3*1000*0.75 = 225 of 900 (25%), small: 75 of 100 (75%) —
    // the small stratum keeps a 3x higher fraction (flattening)
    val fracBig = kept("big").toDouble / 900
    val fracSmall = kept("small").toDouble / 100
    assert(fracSmall > fracBig * 2, s"big=$fracBig small=$fracSmall")
    // hash-Bernoulli draw: counts land near expectation
    assert(math.abs(kept("big") - 225) < 45 &&
      math.abs(kept("small") - 75) < 25, kept.toString)
    // alpha = 1 is proportional sampling: every stratum keeps
    // targetFrac, and targetFrac = 1 keeps everything
    assert(Sampling.temperatureMix(df, "stratum", "id", 1.0,
      alpha = 1.0, seed = 11).count() == 1000)
  }

  test("multimodal: batched stub decode + frame sampling plumbing") {
    val media = docs.select($"doc_id",
      Multimodal.packFakeMedia($"text").as("media"))
    val feats = Multimodal.extractFeatures(media, "doc_id", "media",
      dim = 8, batch = 2)
    assert(feats.columns.toSeq == Seq("doc_id", "features"))
    val f = feats.orderBy("doc_id").as[(Long, Array[Float])].collect()
    assert(f.length == 5 && f.forall(_._2.length == 8))
    // identical payloads → identical features (deterministic stub)
    assert(f(0)._2.toSeq == f(3)._2.toSeq)
    val frames = Multimodal.sampleFrames(media, "doc_id", "media", 100L)
    assert(frames.filter($"doc_id" === 1).count() ==
      (63 * 10) / 100 + 1) // duration 630ms, every 100ms, inclusive 0
    val resized = media.select(
      Multimodal.resizeMeta($"media", 64).getField("meta")
        .getField("width").as("w")).as[Int].collect()
    assert(resized.forall(_ <= 64))
  }

  test("image dedup: dHash kernel matches reference, pairs verify by Hamming") {
    // Scala reference of the kernel's contract: stripe luma grid →
    // 64 horizontal comparisons → binEncode word packing
    def ref(text: String): Seq[Int] = {
      val cps = text.codePoints.toArray
      val luma = new Array[Long](72)
      cps.indices.foreach(i => luma(i % 72) +=
        (cps(i).toLong * 2654435761L + i.toLong * 40503L) % 1000L)
      val w = new Array[Int](4)
      for (b <- 0 until 64) {
        val r = b / 8; val c = b % 8
        if (luma(r * 9 + c) < luma(r * 9 + c + 1)) w(b / 16) |= 1 << (b % 16)
      }
      w.toSeq
    }
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with other words entirely here"),
      (4L, "")).toDF("doc_id", "text")
    val media = rows.select($"doc_id",
      Multimodal.packFakeMedia($"text").as("media"))
    val got = media.select($"doc_id", Multimodal.dHash($"media").as("dh"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    got.foreach { case (id, dh) =>
      val text = rows.filter($"doc_id" === id).head.getString(1)
      assert(dh == ref(text), s"doc $id")
    }
    // empty payload → all-zero luma → no strict inequalities → 0 words
    assert(got(3)._2 == Seq(0, 0, 0, 0))
    // identical payloads are distance-0 pairs; the unrelated doc isn't
    val pairs = Multimodal.imageDupPairs(media, "doc_id", "media",
      maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // NULL payload yields NULL hash, not a crash
    val n = Seq((9L, null: String)).toDF("doc_id", "text")
      .select(Multimodal.dHash(
        Multimodal.packFakeMedia($"text")).as("dh"))
      .head
    assert(n.isNullAt(0))
  }

  test("audio dedup: fingerprint kernel matches reference, pairs verify") {
    // Scala reference of the kernel's contract: LCG samples →
    // 65 consecutive frame energies → 64 delta bits, word-packed
    def ref(text: String): Seq[Int] = {
      val cps = text.codePoints.toArray
      val n = cps.length
      val e = new Array[Long](65)
      cps.indices.foreach { i =>
        val s = (cps(i).toLong * 1103515245L + i.toLong * 12345L) % 2048L
        e(((i.toLong * 65) / n).toInt) += s * s
      }
      val w = new Array[Int](4)
      for (b <- 0 until 64)
        if (e(b) < e(b + 1)) w(b / 16) |= 1 << (b % 16)
      w.toSeq
    }
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with other words entirely here"),
      (4L, "")).toDF("doc_id", "text")
    val media = rows.select($"doc_id",
      Multimodal.packFakeMedia($"text").as("media"))
    val got = media.select($"doc_id",
        Multimodal.audioFp($"media").as("fp"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    got.take(3).foreach { case (id, fp) =>
      val text = rows.filter($"doc_id" === id).head.getString(1)
      assert(fp == ref(text), s"doc $id")
    }
    // empty payload → all-zero energies → no strict inequalities
    assert(got(3)._2 == Seq(0, 0, 0, 0))
    // identical payloads are distance-0 pairs; the unrelated doc isn't
    val pairs = Multimodal.audioDupPairs(media, "doc_id", "media",
      maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // NULL payload yields NULL fingerprint, not a crash
    val n = Seq((9L, null: String)).toDF("doc_id", "text")
      .select(Multimodal.audioFp(
        Multimodal.packFakeMedia($"text")).as("fp"))
      .head
    assert(n.isNullAt(0))
  }

  test("Neyman allocation: water-filling cap, sums are exact") {
    // A = {0, 10}: V = 2·100 − 100 = 100 → w = 10; B = {5, 5}: V = 0.
    // Classical allocation hands A the whole budget (10), but A has
    // only 2 rows — the cap freezes A at n_rows and the remaining 8
    // re-apportions to the zero-variance pool, itself capped at
    // B.n_rows = 2 (you can never sample more rows than exist).
    val df = Seq(("A", 0), ("A", 10), ("B", 5), ("B", 5))
      .toDF("g", "x")
    val out = Sampling.neymanAllocation(df, "g", $"x", budget = 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .toMap
    assert(out("A") == ((2L, 10L, "100", 2L)),
      "the varying stratum is capped at its own row count")
    assert(out("B") == ((2L, 10L, "50", 2L)),
      "the freed budget re-apportions, itself capped at n_rows")
    // cap binds on ONE stratum and the re-apportioned remainder fits
    // the rest without a second cap pass: A = {0, 100} (w = 100),
    // B = {5,5,5,5} (w = 0). budget 4 → pass 1 trial A = 4 > 2,
    // freeze A at 2; pass 2 gives the leftover 2 to B (prop-by-count)
    val oneCap = Seq(("A", 0), ("A", 100),
      ("B", 5), ("B", 5), ("B", 5), ("B", 5)).toDF("g", "x")
    val oc = Sampling.neymanAllocation(oneCap, "g", $"x", budget = 4)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(oc == Map("A" -> 2L, "B" -> 2L))
    // zero variance everywhere → proportional-by-count fallback
    val flat = Seq(("A", 5), ("A", 5), ("B", 3), ("B", 3), ("B", 3))
      .toDF("g", "x")
    val fb = Sampling.neymanAllocation(flat, "g", $"x", budget = 5)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(fb == Map("A" -> 2L, "B" -> 3L))
    // an all-NULL stratum: moments coalesce to 0 (not NPE), weight 0,
    // so it competes only in the zero-variance pool
    val withNull = Seq(("A", Some(0)), ("A", Some(10)),
      ("C", None: Option[Int]), ("C", None), ("C", None))
      .toDF("g", "x")
    val nn = Sampling.neymanAllocation(withNull, "g", $"x", budget = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .toMap
    assert(nn("C") == ((3L, 0L, "0", 1L)),
      "all-NULL stratum: zero moments, absorbs only the capped surplus")
    assert(nn("A") == ((2L, 10L, "100", 2L)))
    // largest-remainder: allocations sum EXACTLY to min(budget, Σn) —
    // budget 7 over the 6-row frame saturates at 6
    val mixed = Seq(("A", 1), ("A", 9), ("B", 2), ("B", 8),
      ("C", 3), ("C", 7)).toDF("g", "x")
    (1 to 7).foreach { b =>
      val s = Sampling.neymanAllocation(mixed, "g", $"x", budget = b)
        .agg(sum("alloc")).head.getLong(0)
      assert(s == math.min(b, 6), s"budget $b: Σalloc = min(b, Σn)")
    }
  }

  test("video dedup: frame kernel matches reference, trims still match") {
    // Scala reference of the kernel's contract: per-frame stripe luma
    // (indexes relative to frame start) → 64 comparisons → (hi, lo)
    def ref(text: String, frameLen: Int): Seq[(Long, Long)] = {
      val cps = text.codePoints.toArray
      cps.grouped(frameLen).map { fr =>
        val luma = new Array[Long](72)
        fr.indices.foreach(j => luma(j % 72) +=
          (fr(j).toLong * 2654435761L + j.toLong * 40503L) % 1000L)
        val w = new Array[Long](4)
        for (b <- 0 until 64) {
          val r = b / 8; val c = b % 8
          if (luma(r * 9 + c) < luma(r * 9 + c + 1))
            w(b / 16) |= 1L << (b % 16)
        }
        ((w(3) << 16) | w(2), (w(1) << 16) | w(0))
      }.toSeq
    }
    // four 128-codepoint "scenes"; videos share scenes at frame
    // boundaries, the content-ID situation (B = A minus its first
    // scene plus a new one: a trim + re-cut)
    val scene = (0 until 4).map(i =>
      (0 until 128).map(j => ('a' + (i * 7 + j * 3) % 26).toChar)
        .mkString)
    val rows = Seq(
      (1L, scene(0) + scene(1) + scene(2)),
      (2L, scene(1) + scene(2) + scene(3)),
      (3L, (0 until 300).map(j => ('a' + (j * 11 + 5) % 26).toChar)
        .mkString),
      (4L, scene(0) + scene(1) + scene(2)),
      (5L, scene(3) + scene(3)), // internal repeat counts ONCE
      (6L, "")).toDF("doc_id", "text")
    val media = rows.select($"doc_id",
      Multimodal.packFakeMedia($"text").as("media"))
    val got = media.select($"doc_id",
        Multimodal.videoFrameHashes($"media", 128).as("fh"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1)
        .map(x => (x.getLong(1), x.getLong(2))))
    got.foreach { case (id, fh) =>
      val text = rows.filter($"doc_id" === id).head.getString(1)
      assert(fh == ref(text, 128), s"doc $id")
    }
    assert(got(5)._2.isEmpty, "empty payload → no frames")
    val pairs = Multimodal.videoDupPairs(media, "doc_id", "media",
        frameLen = 128, minShared = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // exact dup: all 3 frames shared; trim/re-cut: the 2 common scenes
    assert(pairs((1L, 4L)) == ((3L, 3L, 3L)))
    assert(pairs((1L, 2L)) == ((2L, 3L, 3L)))
    assert(pairs((2L, 4L)) == ((2L, 3L, 3L)))
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated video matches nothing")
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L),
      "single shared scene stays below minShared even when repeated")
    // NULL payload yields NULL fingerprint array, not a crash
    val n = Seq((9L, null: String)).toDF("doc_id", "text")
      .select(Multimodal.videoFrameHashes(
        Multimodal.packFakeMedia($"text"), 128).as("fh"))
      .head
    assert(n.isNullAt(0))
  }

  test("spread widens single-split file scans without double planning") {
    val par = spark.sparkContext.defaultParallelism
    // sf0.001 documents is one small parquet file = one split; the
    // stats-derived estimate must trigger the round-robin widen
    val one = spark.read.parquet(sf() + "/documents.parquet")
      .select($"doc_id", $"text")
    assert(Dedup.spread(one).rdd.getNumPartitions == par)
    // a wide (unknown-stats) plan passes through: no forced exchange
    val joined = one.as("a").join(one.as("b"), "doc_id")
    assert(Dedup.spread(joined) eq joined)
  }

  test("persisted eval filter: no false negatives vs exact contamination") {
    import graft.pipeline.Decontam
    val train = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six seven"),
      (12L, "totally unrelated content right here"))
      .toDF("id", "text")
    val eval = Seq(
      (1L, "alpha beta gamma delta NOT the rest"),
      (3L, "one two three four nine ten"))
      .toDF("id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("evalfilter").toString + "/f"
    Decontam.writeEvalFilter(eval, "text", dir, n = 3,
      mBits = 4096, nHashes = 4, nShards = 2)
    val sus = Decontam.suspiciousGrams(train, "id", "text",
        graft.pipeline.SeenSet.open(spark, dir), n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // exact contamination says docs 10 and 11 leak; the filter must
    // flag at least their shared grams (n >= 2 each)
    assert(sus(10L) >= 2 && sus(11L) >= 2, sus.toString)
    // doc 12 shares nothing; at this filter load FPs are ~0
    assert(sus(12L) == 0, sus.toString)
  }
}
