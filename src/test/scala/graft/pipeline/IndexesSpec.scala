package graft.pipeline

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted retrieval indexes: write → open → probe must reproduce
  * the recompute operator's rows EXACTLY (the gates pin this against
  * the DuckDB oracle at sf0.01; these specs pin it in-engine at
  * sf0.001 including the non-default knobs the gates don't reach).
  */
class IndexesSpec extends SparkSpec {

  private val root = "/tmp/graft_idx_spec"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("binary index probe == recompute binaryTopK") {
    val emb = Tables.embeddings(spark, sf())
    val qs = emb.orderBy("vec_id").limit(7)
    Indexes.writeBinaryIndex(emb, "vec_id", "embedding",
      s"$root/binary")
    val idx = Indexes.openBinaryIndex(spark, s"$root/binary")
    val got = Indexes.binaryTopKIndexed(qs, idx, emb, "vec_id",
      "vec_id", "embedding", k = 4, shortlist = 20)
    val want = Ann.binaryTopK(qs, emb, "vec_id", "vec_id",
      "embedding", k = 4, shortlist = 20)
    assert(rows(got) == rows(want))
  }

  test("binary point-fetch probe == join-form probe (incl. empty batch)") {
    val emb = Tables.embeddings(spark, sf())
    val qs = emb.orderBy("vec_id").limit(7)
    Indexes.writeBinaryIndex(emb, "vec_id", "embedding",
      s"$root/binpoint")
    val idx = Indexes.openBinaryIndex(spark, s"$root/binpoint")
    val point = Indexes.binaryTopKIndexedPoint(qs, idx, emb, "vec_id",
      "vec_id", "embedding", k = 4, shortlist = 20)
    val join = Indexes.binaryTopKIndexed(qs, idx, emb, "vec_id",
      "vec_id", "embedding", k = 4, shortlist = 20)
    assert(rows(point) == rows(join))
    assert(point.count() == 7 * 4)
    // the re-rank's corpus side must be a pushed In filter, not a
    // full scan: PushedFilters carries In(vec_id, …)
    val scan = point.queryExecution.executedPlan.toString()
    assert(scan.contains("In(vec_id"),
      s"point fetch must push the id list to the scan:\n$scan")
    // empty query batch → empty result, no degenerate isin
    val none = Indexes.binaryTopKIndexedPoint(qs.limit(0), idx, emb,
      "vec_id", "vec_id", "embedding", k = 4, shortlist = 20)
    assert(none.count() == 0)
  }

  test("point-fetch shortlists beyond the IN threshold chunk into " +
      "pushed filters") {
    import spark.implicits._
    // enough distinct shortlist ids to exceed graft.Sessions.
    // InFilterThreshold (one chunk) — every chunk must still reach
    // the scan as an exact pushed In, or pruning silently degrades
    // to a min/max range filter (the Sessions/Indexes coupling this
    // pins; the constant is shared so drift cannot open a gap)
    val n = graft.Sessions.InFilterThreshold + 400
    val emb = (0 until n).map { i =>
      (i.toLong, Array.tabulate(16)(d =>
        math.sin(i * 31 + d).toFloat))
    }.toDF("vec_id", "embedding")
    emb.write.mode("overwrite").parquet(s"$root/binchunk_emb")
    val embP = spark.read.parquet(s"$root/binchunk_emb")
    Indexes.writeBinaryIndex(embP, "vec_id", "embedding",
      s"$root/binchunk", dim = 16)
    val idx = Indexes.openBinaryIndex(spark, s"$root/binchunk")
    val qs = embP.orderBy("vec_id").limit(40)
    val point = Indexes.binaryTopKIndexedPoint(qs, idx, embP,
      "vec_id", "vec_id", "embedding", k = 3,
      shortlist = n / 30, dim = 16)
    val join = Indexes.binaryTopKIndexed(qs, idx, embP, "vec_id",
      "vec_id", "embedding", k = 3, shortlist = n / 30, dim = 16)
    assert(rows(point) == rows(join))
    val scan = point.queryExecution.executedPlan.toString()
    val pushedIns = "In\\(vec_id".r.findAllIn(scan).size
    assert(pushedIns >= 2,
      s"expected >=2 chunked pushed In filters, got $pushedIns:\n" +
        scan.take(2000))
  }

  test("binary index append == rebuild over base ∪ batch") {
    val emb = Tables.embeddings(spark, sf())
    val qs = emb.orderBy("vec_id").limit(7)
    val base = emb.filter(col("vec_id") % 7 =!= 2)
    val batch = emb.filter(col("vec_id") % 7 === 2)
    Indexes.writeBinaryIndex(base, "vec_id", "embedding",
      s"$root/binapp")
    Indexes.appendBinaryIndex(batch, "vec_id", "embedding",
      s"$root/binapp")
    val got = Indexes.binaryTopKIndexed(qs,
      Indexes.openBinaryIndex(spark, s"$root/binapp"), emb,
      "vec_id", "vec_id", "embedding", k = 4, shortlist = 20)
    // rebuild over the union = the recompute twin over the full corpus
    val want = Ann.binaryTopK(qs, emb, "vec_id", "vec_id",
      "embedding", k = 4, shortlist = 20)
    assert(rows(got) == rows(want))
  }

  test("colliding-id external probe: selfExclude=false keeps the true neighbor") {
    import spark.implicits._
    // external query batch whose id space OVERLAPS the corpus's
    // (both 0-based): query 2's true nearest corpus vector also
    // carries id 2 — exactly the pair self-search exclusion drops
    def v(axis: Int) = Array.tabulate(16)(j =>
      if (j == axis) 1.0 else 0.01 * ((j + axis) % 3))
    val corpus = (0 until 5).map(i => (i.toLong, v(i)))
      .toDF("vec_id", "embedding")
    val queries = Seq((2L, v(2))).toDF("vec_id", "embedding")
    Indexes.writeBinaryIndex(corpus, "vec_id", "embedding",
      s"$root/bincoll", dim = 16)
    val idx = Indexes.openBinaryIndex(spark, s"$root/bincoll")
    val crossCorpus = Indexes.binaryTopKIndexed(queries, idx, corpus,
        "vec_id", "vec_id", "embedding", k = 1, shortlist = 5,
        dim = 16, selfExclude = false)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(crossCorpus.toSeq == Seq((2L, 2L)),
      s"cross-corpus probe must keep the id-colliding true neighbor: " +
        crossCorpus.mkString(","))
    // the single-corpus default still excludes the self-match
    val self = Indexes.binaryTopKIndexed(queries, idx, corpus,
        "vec_id", "vec_id", "embedding", k = 1, shortlist = 5,
        dim = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(self.nonEmpty && self.forall(p => p._2 != 2L),
      s"self-search posture must keep excluding id==id: " +
        self.mkString(","))
  }

  test("minhash index append == rebuild over base ∪ batch") {
    val docs = Tables.documents(spark, sf())
    val inc = docs.filter(col("doc_id") % 10 === 7)
    val corA = docs.filter(col("doc_id") % 10 === 0)
    val corB = docs.filter(col("doc_id") % 10 > 0 &&
      col("doc_id") % 10 =!= 7)
    val cor = corA.union(corB)
    Indexes.writeMinhashIndex(corA, "doc_id", "text", s"$root/mhapp")
    Indexes.appendMinhashIndex(corB, "doc_id", "text", s"$root/mhapp")
    val got = Indexes.incrementalDupPairsIndexed(inc, "doc_id",
      Indexes.openMinhashIndex(spark, s"$root/mhapp"), cor, "doc_id",
      "text")
    val want = Dedup.incrementalDupPairsMd5(inc, "doc_id", cor,
      "doc_id", "text")
    assert(rows(got) == rows(want))
  }

  test("index freshness certifies appends and flags drift") {
    val emb = Tables.embeddings(spark, sf())
    val base = emb.filter(col("vec_id") % 5 =!= 1)
    val batch = emb.filter(col("vec_id") % 5 === 1)
    Indexes.writeBinaryIndex(base, "vec_id", "embedding",
      s"$root/fresh")
    def idx = Indexes.openBinaryIndex(spark, s"$root/fresh")
    def isFresh(corpus: org.apache.spark.sql.DataFrame): Boolean =
      Indexes.indexFreshness(idx, "neighbor_id", corpus, "vec_id")
        .filter(!col("ok")).isEmpty
    // fresh against the corpus it was built from
    assert(isFresh(base))
    // stale against the grown corpus: some shard must flag
    assert(!isFresh(emb))
    val diff = Indexes.indexFreshness(idx, "neighbor_id", emb,
      "vec_id")
    assert(diff.filter(!col("ok")).count() > 0)
    // the matching append restores certification
    Indexes.appendBinaryIndex(batch, "vec_id", "embedding",
      s"$root/fresh")
    assert(isFresh(emb))
  }

  test("ivf-pq index probe == recompute, unprobed lists pruned") {
    val emb = Tables.embeddings(spark, sf())
    val qs = emb.orderBy("vec_id").limit(7)
    Indexes.writeIvfPqIndex(emb, "vec_id", "embedding",
      s"$root/ivfpq")
    val idx = Indexes.openIvfPqIndex(spark, s"$root/ivfpq")
    val want = rows(Ann.ivfPqTopK(qs, emb, "vec_id", "vec_id",
      "embedding", k = 4, nprobe = 2))
    val pruned = Indexes.ivfPqTopKIndexed(qs, idx, "vec_id",
      "embedding", k = 4, nprobe = 2)
    assert(rows(pruned) == want)
    // the probed list ids reach the scan as a partition filter
    assert(pruned.queryExecution.executedPlan.toString
      .matches("(?s).*PartitionFilters: \\[[^\\]]*cent#\\d+ IN.*"),
      pruned.queryExecution.executedPlan.toString)
  }

  test("postings index probe == recompute bm25Queries, scores bit-equal") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf())
    Indexes.writePostingsIndex(docs, "doc_id", "text",
      s"$root/postings")
    val queries = Seq((0L, Seq("customer", "the")),
      (1L, Seq("order", "part", "zzz-no-such-token")))
      .toDF("query_id", "terms")
    val got = Indexes.bm25QueriesIndexed(spark, s"$root/postings",
      queries, "query_id", "terms", topK = 8)
    val want = TextFns.bm25Queries(docs, "doc_id", "text", queries,
      "query_id", "terms", topK = 8)
    assert(rows(got) == rows(want))
    graft.core.Caches.releaseAll(spark)
  }

  test("minhash index probe == recompute incremental pairs") {
    val docs = Tables.documents(spark, sf())
    val inc = docs.filter(col("doc_id") % 10 === 7)
    val cor = docs.filter(col("doc_id") % 10 =!= 7)
    Indexes.writeMinhashIndex(cor, "doc_id", "text", s"$root/mh")
    val idx = Indexes.openMinhashIndex(spark, s"$root/mh")
    val got = Indexes.incrementalDupPairsIndexed(inc, "doc_id", idx,
      cor, "doc_id", "text")
    val want = Dedup.incrementalDupPairsMd5(inc, "doc_id", cor,
      "doc_id", "text")
    assert(rows(got) == rows(want))
  }

  test("winnow index probe == batch winnowPairs restricted to cross pairs") {
    val docs = Tables.documents(spark, sf())
    val cor = docs.filter(col("doc_id") % 2 === 0)
    val inc = docs.filter(col("doc_id") % 2 === 1)
    Indexes.writeWinnowIndex(cor, "doc_id", "text", s"$root/win")
    val got = Indexes.winnowCandidatesIndexed(inc, "doc_id", "text",
        Indexes.openWinnowIndex(spark, s"$root/win"))
      .select(col("batch_id"), col("corpus_id"), col("n_shared"))
    // batch authority: winnowPairs over the union, kept only where
    // the pair crosses the parity split. The corpus here carries no
    // >1000-doc boilerplate fingerprint (asserted), so the probe-time
    // cap and winnowPairs' union-side cap coincide.
    val all = Dedup.winnowPairs(docs, "doc_id", "text")
    val want = all.filter(col("id1") % 2 =!= col("id2") % 2)
      .select(
        when(col("id1") % 2 === 1, col("id1")).otherwise(col("id2"))
          .as("batch_id"),
        when(col("id1") % 2 === 1, col("id2")).otherwise(col("id1"))
          .as("corpus_id"),
        col("n_shared"))
    assert(rows(got) == rows(want))
    assert(got.count() > 0, "fixture must exercise real candidates")
  }

  test("winnow index append == rebuild over base ∪ batch") {
    val docs = Tables.documents(spark, sf())
    val base = docs.filter(col("doc_id") % 3 === 0)
    val delta = docs.filter(col("doc_id") % 3 === 1)
    Indexes.writeWinnowIndex(base, "doc_id", "text", s"$root/winapp")
    Indexes.appendWinnowIndex(delta, "doc_id", "text", s"$root/winapp")
    Indexes.writeWinnowIndex(base.union(delta), "doc_id", "text",
      s"$root/winfull")
    assert(rows(Indexes.openWinnowIndex(spark, s"$root/winapp")) ==
      rows(Indexes.openWinnowIndex(spark, s"$root/winfull")))
  }

  test("residual IVF-PQ index probe == recompute ivfPqResidualTopK") {
    val emb = Tables.embeddings(spark, sf())
    val qs = emb.orderBy("vec_id").limit(7)
    val books = Ann.pqBooks(8, 16, 8, 9090)
    Indexes.writeIvfPqResIndex(emb, "vec_id", "embedding",
      s"$root/ivfpqres", books)
    val got = Indexes.ivfPqResTopKIndexed(qs,
      Indexes.openIvfPqIndex(spark, s"$root/ivfpqres"),
      "vec_id", "embedding", k = 4, books = books, nprobe = 4)
    val want = Ann.ivfPqResidualTopK(qs, emb, "vec_id", "vec_id",
      "embedding", k = 4, books = books, nCentroids = 16,
      nprobe = 4, dim = 64, seed = 4242)
    assert(rows(got) == rows(want))
    assert(got.count() > 0)
  }

  test("media index probe == imageDupPairs restricted to cross pairs") {
    val docs = Tables.documents(spark, sf())
    val media = docs.select(col("doc_id"),
      Multimodal.packFakeMedia(col("text")).as("media"))
    val cor = media.filter(col("doc_id") % 2 === 0)
    val inc = media.filter(col("doc_id") % 2 === 1)
    Indexes.writeMediaIndex(cor, "doc_id", "media", s"$root/med")
    val got = Indexes.mediaDupPairsIndexed(inc, "doc_id", "media",
      Indexes.openMediaIndex(spark, s"$root/med"))
    // batch authority: imageDupPairs over the union, kept only where
    // the pair crosses the parity split (no >1000-doc boilerplate
    // signature in the fixture, so the cap sides coincide)
    val all = Multimodal.imageDupPairs(media, "doc_id", "media")
    val want = all.filter(col("id1") % 2 =!= col("id2") % 2)
      .select(
        when(col("id1") % 2 === 1, col("id1")).otherwise(col("id2"))
          .as("batch_id"),
        when(col("id1") % 2 === 1, col("id2")).otherwise(col("id1"))
          .as("corpus_id"),
        col("dist"))
    assert(rows(got) == rows(want))
    assert(got.count() > 0, "fixture must exercise real candidates")
    graft.core.Caches.releaseAll(spark)
  }

  test("media index append == rebuild; audio kernel variant probes") {
    val docs = Tables.documents(spark, sf())
    val media = docs.select(col("doc_id"),
      Multimodal.packFakeMedia(col("text")).as("media"))
    val base = media.filter(col("doc_id") % 3 === 0)
    val delta = media.filter(col("doc_id") % 3 === 1)
    Indexes.writeMediaIndex(base, "doc_id", "media", s"$root/medapp",
      kernel = "audio")
    Indexes.appendMediaIndex(delta, "doc_id", "media", s"$root/medapp",
      kernel = "audio")
    Indexes.writeMediaIndex(base.union(delta), "doc_id", "media",
      s"$root/medfull", kernel = "audio")
    assert(rows(Indexes.openMediaIndex(spark, s"$root/medapp")) ==
      rows(Indexes.openMediaIndex(spark, s"$root/medfull")))
    // a probe against the appended artifact sees both halves
    val probe = media.filter(col("doc_id") % 3 === 2)
    val got = Indexes.mediaDupPairsIndexed(probe, "doc_id", "media",
      Indexes.openMediaIndex(spark, s"$root/medapp"), kernel = "audio")
    assert(got.columns.toSeq ==
      Seq("batch_id", "corpus_id", "dist"))
    intercept[IllegalArgumentException] {
      Indexes.writeMediaIndex(base, "doc_id", "media",
        s"$root/medbad", kernel = "nope")
    }
    graft.core.Caches.releaseAll(spark)
  }

  test("media probe above the literal-list cap falls back to the " +
      "semi-join pruning with identical results") {
    val docs = Tables.documents(spark, sf())
    val media = docs.select(col("doc_id"),
      Multimodal.packFakeMedia(col("text")).as("media"))
    val cor = media.filter(col("doc_id") % 2 === 0)
    val inc = media.filter(col("doc_id") % 2 === 1)
    Indexes.writeMediaIndex(cor, "doc_id", "media", s"$root/medg")
    val idx = Indexes.openMediaIndex(spark, s"$root/medg")
    val pushed = Indexes.mediaDupPairsIndexed(inc, "doc_id", "media",
      idx)
    val joined = Indexes.mediaDupPairsIndexed(inc, "doc_id", "media",
      idx, maxProbeKeys = 3)
    assert(rows(pushed) == rows(joined))
    assert(pushed.count() > 0)
    graft.core.Caches.releaseAll(spark)
  }

  test("winnow probe above the literal-list cap falls back to the " +
      "semi-join pruning with identical results") {
    val docs = Tables.documents(spark, sf())
    val cor = docs.filter(col("doc_id") % 2 === 0)
    val inc = docs.filter(col("doc_id") % 2 === 1)
    Indexes.writeWinnowIndex(cor, "doc_id", "text", s"$root/wing")
    val idx = Indexes.openWinnowIndex(spark, s"$root/wing")
    val pushed = Indexes.winnowCandidatesIndexed(inc, "doc_id",
      "text", idx)
    // force the join path by shrinking the literal-list cap
    val joined = Indexes.winnowCandidatesIndexed(inc, "doc_id",
      "text", idx, maxProbeFps = 10)
    assert(rows(pushed) == rows(joined))
    assert(pushed.count() > 0)
  }
}
