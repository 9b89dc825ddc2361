package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.HyperplaneBuckets
import graft.pipeline.{Ann, Dedup, TextFns}

/** Training-data pipeline operators over documents/embeddings as gate
  * entries. Every entry is DuckDB-hash-checked: the dedup/LSH gates use
  * the portable md5-derived hash family (`Dedup.*Md5`) whose values an
  * SQL engine reproduces exactly, and the hyperplane gates embed the
  * deterministic plane matrix as SQL literals. MinHash, SimHash and
  * the content fingerprint have only the portable form; there are no
  * engine-native (Murmur3/xxhash64) twins.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Exact dedup groups over documents (md5 of normalized text). */
  def pExactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
      .orderBy("h")

  /** Token/subword/punct counts + stopword ratio + content hash. */
  def pTextStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFns.tokenCount(col("text")).as("n_tokens"),
      TextFns.punctCount(col("text")).as("n_punct"),
      TextFns.stopwordRatio(col("text")).as("stop_ratio"),
      TextFns.contentHash(col("text")).as("chash"))
      .orderBy("doc_id")

  /** Language-ID heuristic (en/de/fr stopword argmax). */
  def pLangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFns.languageId(col("text")).as("lang_guess"))
      .orderBy("doc_id")

  /** Quality scores, bucketed (rows-only would hide regressions; the
    * formula is portable arithmetic so it is oracle-checked).
    */
  def pQuality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFns.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Portable banded-MinHash near-dup: first signature element + the
    * count of Jaccard-verified (≥ 0.8) partners among a FIXED 500-doc
    * probe set (Dedup.incrementalDupPairsMd5 — the production
    * incremental-check shape). Re-gated r13 with the winnow/simhash
    * gates: the all-pairs self-join's verified-candidate volume grows
    * quadratically on a shared-vocabulary corpus (sf100 rehearsal:
    * 585 s, 20.9×/decade vs the 8.5× scan control), and that volume
    * is answer mass, not plan cost. k=32 hashes in 8 bands of 4 —
    * collision probability at s=0.8 is 1-(1-0.8^4)^8 ≈ 0.985, and
    * candidates are verified exactly, so parameters only shape
    * recall, which the oracle mirrors by construction.
    */
  def pMinhash(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    // single-element native expression, not element_at(signature, 1):
    // the array form evaluates all 32 permutation branches under a
    // full-evaluation sink (ElementAt over CreateArray is not pruned),
    // each re-running the md5-per-shingle pass — 265 s vs ~1 s at
    // sf0.1. spread() so a single-split parquet input doesn't pin the
    // hashing to one task.
    val sigs = Dedup.spread(doc.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        graft.functions.MinhashSigElement(col("text"), 3, 0, 32)
          .as("minhash0"))
    val pairs = Dedup.incrementalDupPairsMd5(
      doc.filter(col("doc_id") < 500), "doc_id", doc, "doc_id",
      "text", n = 3, k = 32, b = 8, threshold = 0.8)
      .filter(col("new_id") =!= col("corpus_id"))
    sigs.join(pairs.groupBy(col("corpus_id").as("doc_id"))
        .agg(count(lit(1)).as("n_dups")), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dups"))
      .orderBy("doc_id")
  }

  /** Portable SimHash fingerprints (64-char bit strings), the md5
    * 8-gram content fingerprint, and Hamming≤3 partner counts vs a
    * FIXED 500-doc probe set (Dedup.simhashPairsMd5AgainstFps — the
    * production incremental-check shape). Re-gated r13 from the
    * all-pairs self-join: chunk-bucket sizes grow linearly with SF on
    * a shared-vocabulary corpus, so the self-join's candidate volume
    * was quadratic (236 s at sf10, VERDICT r12); the probe join is
    * |probe|·density-bounded and the gate now measures the
    * fingerprint scan linearly — the p_contamination fixed-eval-suite
    * precedent.
    */
  def pSimhash(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    // stage fingerprints ONCE (spread + exchange barrier), then the
    // output projection and both pair-join sides reuse them — the
    // previous shape computed simhashMd5 twice, each time on the
    // single input split (39.5 s at sf0.1 under the full sink).
    val fps = graft.core.Caches.stage(
      Dedup.spread(doc.select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          Dedup.simhashMd5(col("text")).as("fp"),
          TextFns.fingerprintMd5(col("text")).as("gram_fp"))
        .repartition(s.sparkContext.defaultParallelism))
    val pairs = Dedup.simhashPairsMd5AgainstFps(
      fps.filter(col("doc_id") < 500), "doc_id", "fp",
      fps, "doc_id", "fp", 3)
    fps.join(pairs.groupBy(col("corpus_id").as("doc_id"))
        .agg(count(lit(1)).as("n_dups")), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dups"))
      .orderBy("doc_id")
  }

  /** Hyperplane-LSH bucket per embedding (12 planes, seed 42) — the
    * bucketing that drives embedding near-dup; the oracle recomputes it
    * from the identical plane literals.
    */
  def pEmbedDup(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"),
      element_at(HyperplaneBuckets(col("embedding"), 12, 1, 64, 42), 1)
        .as("bucket"))
      .orderBy("vec_id")

  /** ANN: LSH top-k neighbors for the first 20 vectors. Fully
    * oracle-checked: the 8×4 plane matrix is embedded in the SQL, so
    * DuckDB reproduces candidate generation and the cosine ranking.
    */
  def pAnnTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.orderBy("vec_id").limit(20)
    Ann.lshTopK(queries, emb, "vec_id", "vec_id", "embedding",
      k = 5, planes = 4, tables = 8)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** IVF ANN: 16 deterministic centroid lists, queries probe the 4
    * nearest — fully oracle-checked (the centroid matrix is embedded
    * in the SQL, so DuckDB replays assignment, probing, and ranking).
    */
  def pAnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.orderBy("vec_id").limit(20)
    Ann.ivfTopK(queries, emb, "vec_id", "vec_id", "embedding",
      k = 5, nCentroids = 16, nprobe = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Product-quantization ADC top-k (Ann.pqTopK): corpus vectors
    * compress to 8 codebook ids (one fused codegen'd encode pass) and
    * candidate scoring is 8 lookups into the query's precomputed LUT —
    * the scan-local, code-column-only search shape that makes
    * billion-vector ANN feasible. The oracle replays encode (per-
    * subspace argmin, ordered-sum dots), LUT, and the fixed-order ADC
    * fold exactly.
    */
  def pAnnPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.orderBy("vec_id").limit(20)
    Ann.pqTopK(queries, emb, "vec_id", "vec_id", "embedding",
      k = 5, m = 8, ks = 16, dim = 64, seed = 9090)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ composition (Ann.ivfPqTopK): centroid-list equi-probe +
    * code-only ADC scoring — the billion-vector layout; the oracle
    * replays coarse assignment, probe lists, PQ encode, and the
    * fixed-order ADC fold.
    */
  def pAnnIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.orderBy("vec_id").limit(20)
    Ann.ivfPqTopK(queries, emb, "vec_id", "vec_id", "embedding",
      k = 5, nCentroids = 16, nprobe = 4, m = 8, ks = 16)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Residual IVF-PQ (Ann.ivfPqResidualTopK — the FAISS IVFPQ
    * layout): codes quantize vec − centroid; scores decompose as
    * <q, centroid> + residual ADC. Seeded books here so the oracle
    * replays statically (residual-TRAINED books are measured
    * superior in PipelineSpec's planted-cluster A/B; Lloyd replay at
    * 8 subspaces is the kmeans oracle ×8 — spec-level by choice).
    */
  def pAnnIvfPqRes(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.orderBy("vec_id").limit(20)
    Ann.ivfPqResidualTopK(queries, emb, "vec_id", "vec_id",
        "embedding", k = 5, books = Ann.pqBooks(8, 16, 8, 9090),
        nCentroids = 16, nprobe = 4, dim = 64, seed = 4242)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** The tagging dictionary for p_tag_keywords: common corpus tokens
    * plus entries that exercise overlap counting ("ata" hits inside
    * "data"/"database") and shared-suffix automaton paths.
    */
  private val TagDict = Seq("the", "data", "ata", "spark", "window",
    "er", "re")

  /** Dictionary tagging (TextFns.tagKeywords): one Aho–Corasick pass
    * per document over the normalized text; the oracle counts every
    * (possibly overlapping) occurrence with a per-keyword position
    * scan, pinning the automaton's exact match semantics.
    */
  def pTagKeywords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextFns.tagKeywords(col("text"), TagDict)).as("t"))
      .select(col("doc_id"), col("t.keyword").as("keyword"),
        col("t.n").as("n"))
      .orderBy("doc_id", "keyword")

  /** PQ + exact refinement (Ann.pqTopKRefined): ADC shortlist of 25,
    * exact-cosine top-5 re-rank — the production two-stage recipe,
    * both stages oracle-replayed.
    */
  def pAnnPqRefined(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.orderBy("vec_id").limit(20)
    Ann.pqTopKRefined(queries, emb, "vec_id", "vec_id", "embedding",
      k = 5, shortlist = 25, m = 8, ks = 16)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Scalar int8 embedding quantization (Ann.sqEncode): the affine
    * per-vector code layout, hash-pinned end to end (lo/hi doubles +
    * full code arrays) — deterministic IEEE arithmetic both engines
    * execute identically.
    */
  def pSqEncode(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), Ann.sqEncode(col("embedding")).as("sq"))
      .select(col("vec_id"), col("sq.lo").as("lo"),
        col("sq.hi").as("hi"),
        md5(array_join(col("sq.codes"), "/")).as("chash"))
      .orderBy("vec_id")

  /** Binary (1-bit sign) embedding quantization search
    * (Ann.binaryTopK): Hamming shortlist of 50 over the packed
    * 16-bit sign words, exact-cosine top-5 re-rank. The output keeps
    * the integer Hamming distance so the gate pins the shortlist
    * metric itself, not just the final ranking.
    */
  def pAnnBinary(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.orderBy("vec_id").limit(20)
    Ann.binaryTopK(queries, emb, "vec_id", "vec_id", "embedding",
      k = 5, shortlist = 50, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("ham"))
      .orderBy("query_id", "rank")
  }

  /** Per-sf-dir scratch root for the persisted-index gates: each
    * gate writes its artifact fresh (overwrite) then queries it, so
    * the gate proves the full write→open→probe contract and can
    * never consume a stale artifact from an earlier code version.
    */
  private def idxDir(d: String): String =
    "/tmp/graft_idx_" + d.replaceAll("[^A-Za-z0-9.]", "_")

  /** Persisted binary-ANN index (Indexes.writeBinaryIndex →
    * binaryTopKIndexed): same search as p_ann_binary but the corpus
    * side is the prebuilt (neighbor_id, cb) parquet — the query plan
    * contains no corpus-side encode kernel and no exchange below the
    * probe join (PlanSpec pins). Hash-matches p_ann_binary's oracle
    * verbatim.
    */
  def pAnnIndexed(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val path = idxDir(d) + "/binary"
    graft.pipeline.Indexes.writeBinaryIndex(emb, "vec_id",
      "embedding", path)
    val queries = emb.orderBy("vec_id").limit(20)
    graft.pipeline.Indexes.binaryTopKIndexed(queries,
        graft.pipeline.Indexes.openBinaryIndex(s, path), emb,
        "vec_id", "vec_id", "embedding", k = 5, shortlist = 50)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("ham"))
      .orderBy("query_id", "rank")
  }

  /** PCA top component (Pca.fit/project): one corpus scan through
    * the VecMomentSums aggregate (fixed long-array buffer) for mean +
    * second moments, 12 driver power steps (dim-bounded model math,
    * the k-means pattern), projection as a scan-local centered dot
    * product with the model baked in as literals. The oracle
    * recomputes the moments, assembles the covariance with the
    * identical expression order, replays all 12 iterations in a
    * recursive CTE over a DOUBLE[64] state, and projects — every
    * cross-row reduction integer/decimal-pinned, every scalar step
    * IEEE.
    */
  def pPca(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val model = graft.pipeline.Pca.fit(emb, "embedding", dim = 64,
      iters = 12)
    emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        graft.pipeline.Pca.project(col("embedding"), model).as("proj"))
      .orderBy("vec_id")
  }

  /** Top-2 PCA via Hotelling deflation (Pca.fitK): the practical
    * whitening form — after the top component converges, λ = vᵀCv
    * deflates the covariance and the second power iteration yields
    * the next component. The oracle chains a second recursive CTE
    * over the deflated matrix, every reduction decimal-pinned and
    * the deflation arithmetic in the driver's exact entry order.
    */
  def pPca2(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val m = graft.pipeline.Pca.fitK(emb, "embedding", dim = 64,
      k = 2, iters = 12)
    emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        graft.pipeline.Pca.project(col("embedding"), m, 0)
          .as("proj1"),
        graft.pipeline.Pca.project(col("embedding"), m, 1)
          .as("proj2"))
      .orderBy("vec_id")
  }

  /** Incremental index maintenance (Indexes.appendBinaryIndex): 90%
    * of the corpus writes the base artifact, the remaining 10%
    * appends as an ingest batch, and the probe runs over base+delta
    * with no merge step. Hash-matching the full-rebuild oracle
    * (p_ann_binary's, verbatim) proves append == rebuild — the
    * property that lets the artifact absorb a batch without
    * re-encoding the corpus.
    */
  def pAnnIndexAppend(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val path = idxDir(d) + "/binary_append"
    graft.pipeline.Indexes.writeBinaryIndex(
      emb.filter(col("vec_id") % 10 =!= 3), "vec_id", "embedding",
      path)
    graft.pipeline.Indexes.appendBinaryIndex(
      emb.filter(col("vec_id") % 10 === 3), "vec_id", "embedding",
      path)
    val queries = emb.orderBy("vec_id").limit(20)
    graft.pipeline.Indexes.binaryTopKIndexed(queries,
        graft.pipeline.Indexes.openBinaryIndex(s, path), emb,
        "vec_id", "vec_id", "embedding", k = 5, shortlist = 50)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("ham"))
      .orderBy("query_id", "rank")
  }

  /** Persisted IVF-PQ index (Indexes.writeIvfPqIndex →
    * ivfPqTopKIndexed): the billion-vector layout actually laid out —
    * one directory per inverted list, probe reads codes only.
    * Hash-matches p_ann_ivfpq's oracle verbatim.
    */
  def pAnnIvfPqIdx(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val path = idxDir(d) + "/ivfpq"
    graft.pipeline.Indexes.writeIvfPqIndex(emb, "vec_id",
      "embedding", path, nCentroids = 16, m = 8, ks = 16)
    val queries = emb.orderBy("vec_id").limit(20)
    graft.pipeline.Indexes.ivfPqTopKIndexed(queries,
        graft.pipeline.Indexes.openIvfPqIndex(s, path),
        "vec_id", "embedding", k = 5, nCentroids = 16, nprobe = 4,
        m = 8, ks = 16)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Persisted residual IVF-PQ index (Indexes.writeIvfPqResIndex →
    * ivfPqResTopKIndexed): p_ann_ivfpq_res against the prebuilt
    * partitioned artifact — no encode kernel and no vector read on
    * the corpus side; reuses the recompute twin's oracle verbatim.
    */
  def pAnnIvfPqResIdx(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val path = idxDir(d) + "/ivfpqres"
    val books = Ann.pqBooks(8, 16, 8, 9090)
    graft.pipeline.Indexes.writeIvfPqResIndex(emb, "vec_id",
      "embedding", path, books, nCentroids = 16)
    val queries = emb.orderBy("vec_id").limit(20)
    graft.pipeline.Indexes.ivfPqResTopKIndexed(queries,
        graft.pipeline.Indexes.openIvfPqIndex(s, path),
        "vec_id", "embedding", k = 5, books = books,
        nCentroids = 16, nprobe = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Persisted BM25 postings index (Indexes.writePostingsIndex →
    * bm25QueriesIndexed): the corpus is tokenized once at write
    * time; the probe reads only the query vocabulary's posting rows
    * (pushed In filter) plus the write-time dfs/stats side tables.
    * Hash-matches p_bm25_multi's oracle verbatim.
    */
  def pBm25Indexed(s: SparkSession, d: String): DataFrame = {
    val path = idxDir(d) + "/postings"
    graft.pipeline.Indexes.writePostingsIndex(Tables.documents(s, d),
      "doc_id", "text", path)
    graft.pipeline.Indexes.bm25QueriesIndexed(s, path,
        rrfQueryFrame(s), "query_id", "terms", topK = 10,
        logIdf = false)
      .orderBy("query_id", "rank")
  }

  /** Persisted MinHash band index (Indexes.writeMinhashIndex →
    * incrementalDupPairsIndexed): the incremental-ingest probe
    * against the write-once band-bucket artifact; corpus text is
    * read only to Jaccard-verify matched candidates. Hash-matches
    * p_incr_dedup's oracle verbatim.
    */
  def pIncrIndexed(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    // same fixed ~500-doc batch as p_incr_dedup (shared oracle)
    val inc = doc.filter(col("doc_id") % 10 === 7 &&
      col("doc_id") < 5000)
    val cor = doc.filter(col("doc_id") % 10 =!= 7)
    val path = idxDir(d) + "/minhash"
    graft.pipeline.Indexes.writeMinhashIndex(cor, "doc_id", "text",
      path)
    val pairs = graft.pipeline.Indexes.incrementalDupPairsIndexed(
      inc, "doc_id", graft.pipeline.Indexes.openMinhashIndex(s, path),
      cor, "doc_id", "text")
    inc.select(col("doc_id"))
      .join(pairs.groupBy(col("new_id").as("doc_id"))
        .agg(count(lit(1)).as("n_dups"),
          min("corpus_id").as("first_dup")),
        Seq("doc_id"), "left")
      .na.fill(Map("n_dups" -> 0, "first_dup" -> -1))
      .orderBy("doc_id")
  }

  /** Per-query lexical term sets for p_rrf (corpus-vocabulary tokens;
    * q2 has three terms so list lengths differ across queries).
    */
  private[queries] val RrfTerms: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "window"),
    1L -> Seq("vector", "stream"),
    2L -> Seq("join", "hash", "merge"))

  /** Hybrid retrieval (Retrieval.rrf): BM25 lexical top-30 per query
    * fused with exact-cosine vector top-30 for the same query ids
    * (vec_id n ↔ query n's embedding) by reciprocal-rank fusion with
    * the SIGIR'09 constant k=60. Scores are per-addend decimal-rounded
    * (Tables.dsum) so DuckDB replays the fused ranking exactly.
    */
  /** The RrfTerms tuples as a query frame (query_id, terms). */
  private def rrfQueryFrame(s: SparkSession): DataFrame = {
    import s.implicits._
    RrfTerms.toDF("query_id", "terms")
  }

  def pRrf(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.Retrieval
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    // one corpus scan for ALL lexical queries (bm25Queries); ranks
    // are identical to per-query bm25 calls by construction
    val lex = TextFns.bm25Queries(docs, "doc_id", "text",
        rrfQueryFrame(s), "query_id", "terms", topK = 30,
        logIdf = false)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val vec = Ann.bruteForceTopK(
        emb.filter(col("vec_id") < RrfTerms.size), emb,
        "vec_id", "vec_id", "embedding", k = 30)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank"))
    Retrieval.rrf(Seq(lex, vec), kConst = 60, topK = 10)
      .orderBy("query_id", "rank")
  }

  /** Multi-query BM25 (TextFns.bm25Queries): the whole query table
    * scored in one corpus tokenization pass; scores + ranks pinned
    * (the decimal-reduced sums replay exactly in SQL).
    */
  def pBm25Multi(s: SparkSession, d: String): DataFrame =
    TextFns.bm25Queries(Tables.documents(s, d), "doc_id", "text",
        rrfQueryFrame(s), "query_id", "terms", topK = 10,
        logIdf = false)
      .orderBy("query_id", "rank")

  /** WordPiece vocab for p_wordpiece: corpus-realistic pieces chosen
    * to exercise every semantic branch — longest-match preference
    * ("table" beats "ta"), ## continuations (window = wind + ##ow),
    * and whole-word [UNK] poisoning both at the opener (no "r" piece
    * → "row" is UNK) and MID-word ("ha" matches but "##sh" doesn't,
    * so "hash" is UNK despite a successful first piece).
    */
  private[queries] val WpVocab = Seq("spark", "wind", "##ow", "custom",
    "##er", "table", "ta", "##ble", "val", "##ue", "data", "da", "##ta",
    "sca", "##n", "join", "merge", "a", "##a", "ha", "or", "##der",
    "stream", "key")

  /** WordPiece greedy encode (TextFns.wordpieceEncode): per-doc piece
    * sequence pinned via md5 plus piece/UNK counts; the oracle replays
    * the greedy cursor walk with a linear recursive CTE.
    */
  def pWordpiece(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextFns.wordpieceEncode(col("text"), WpVocab, 6).as("p"))
      .select(col("doc_id"),
        md5(concat_ws(" ", col("p"))).as("chash"),
        size(col("p")).cast("bigint").as("n_pieces"),
        size(filter(col("p"), x => x === "[UNK]")).cast("bigint")
          .as("n_unk"))
      .orderBy("doc_id")

  /** HTML main-content extraction (TextFns.htmlToText). The documents
    * fixture is plain text, so the gate wraps each doc in a
    * deterministic HTML page both engines construct identically — a
    * head subtree with style+script (dropped, including a raw '<'
    * inside script code), heading/paragraph/list markup (block-tag
    * newlines), an anchor whose href holds an entity (tag stripped
    * BEFORE entity decode), and the six-entity set — then pins the
    * extracted text via md5 + length.
    */
  def pHtmlExtract(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val html = concat(
      lit("<html><head><title>t</title><style type=\"text/css\">" +
        "body { color: #fff; }</style>"),
      lit("<script>if (1 < 2) { x = \"y\"; }</script></head><body>"),
      lit("<h1 class=\"hd\">doc "), id.cast("string"), lit("</h1>"),
      lit("<p>"), substring(col("text"), 1, 160), lit("</p>"),
      lit("<div><a href=\"http://example.com/a?b=1&amp;c=2\">link "),
      id.cast("string"),
      lit("</a> &amp; more &lt;raw&gt;&nbsp;text&quot;&#39;</div>"),
      when(id % 2 === 0,
        lit("<ul><li>item one</li><li>item two</li></ul>"))
        .otherwise(lit("<br><br><p>tail para</p>")),
      lit("</body></html>"))
    Tables.documents(s, d)
      .select(id, TextFns.htmlToText(html).as("x"))
      .select(id, md5(col("x")).as("chash"),
        length(col("x")).cast("bigint").as("n_chars"))
      .orderBy("doc_id")
  }

  /** k-anonymity audit (Privacy.kAnonymityClasses) over customer
    * quasi-identifiers — market segment, nation, account-balance
    * band: per-class sizes + the k=8 verdict. The balance band keeps
    * classes fine enough that violating classes exist at every sf,
    * so the gate discriminates on both verdict values.
    */
  def pKAnon(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Privacy.kAnonymityClasses(Tables.customer(s, d),
        Seq(col("c_mktsegment"), col("c_nationkey"),
          floor(col("c_acctbal") / 2000.0).as("bal_band")),
        k = 8)
      .orderBy("c_mktsegment", "c_nationkey", "bal_band")

  /** l-diversity audit (Privacy.lDiversityClasses) over customer:
    * quasi = (segment, balance band), sensitive = nation. l=20/c=2
    * chosen so BOTH verdict columns carry both values at sf0.01
    * (23/30 distinct-diverse, 16/30 recursively diverse) — the gate
    * discriminates the window rank, the tail sum, and both rules.
    */
  def pLDiv(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Privacy.lDiversityClasses(Tables.customer(s, d),
        Seq(col("c_mktsegment"),
          floor(col("c_acctbal") / 2000.0).as("bal_band")),
        col("c_nationkey"), l = 20, c = 2)
      .orderBy("c_mktsegment", "bal_band")

  /** Host-graph ranking — the crawl seed-selection composition: HTML
    * outlink extraction (TextFns.extractLinks) → host canonicalization
    * (TextFns.urlDomain) → aggregated host→host edges → fixed-point
    * weighted PageRank (LinkGraph.pagerank). Source hosts rotate over
    * 5 sites, outlinks over 7 + a hub domain, so the graph has real
    * in-degree skew. At 100 TB the edge aggregation is the only
    * corpus-scale stage (map-side partial agg); the iterations touch
    * the aggregated host graph.
    */
  def pHostRank(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val html = concat(
      lit("<html><body><a href=\"http://site"), (id % 7).cast("string"),
      lit(".com/p/"), (id % 40).cast("string"), lit("\">out</a>"),
      when(id % 2 === 0,
        lit("<a href=\"https://hub.example.org/home\">hub</a>"))
        .otherwise(lit("<a href=\"http://site0.com/x\">s0</a>")),
      lit("</body></html>"))
    val src = concat(lit("site"), (id % 5).cast("string"), lit(".com"))
    val edges = Tables.documents(s, d)
      .select(src.as("src"),
        explode(graft.pipeline.TextFns.extractLinks(html)).as("url"))
      .select(col("src"),
        graft.pipeline.TextFns.urlDomain(col("url")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    graft.pipeline.LinkGraph.pagerank(edges, iters = 3)
      .select(col("id").as("host"), col("rank"))
      .orderBy(col("rank").desc, col("host"))
  }

  /** Greedy k-center coreset (Cluster.kcenterGreedy): 6 farthest-point
    * selections over the embeddings plus the literal-centroid
    * assignment pass. The oracle unrolls the selection trajectory —
    * every step's min-distance argmax with the identical ordered-fold
    * distance arithmetic — so both the chosen centers and the final
    * partition are pinned.
    */
  def pKcenter(s: SparkSession, d: String): DataFrame = {
    val (assigned, _) = graft.pipeline.Cluster.kcenterGreedy(
      Tables.embeddings(s, d), "vec_id", "embedding", k = 6)
    assigned.orderBy("id")
  }

  /** MMR diversity re-ranking (Retrieval.mmrRerank): exact-cosine
    * shortlist of 20 per query, then 5 greedy picks balancing
    * relevance against max-similarity-to-selected at λ=0.7. The
    * oracle replays the ENTIRE greedy trajectory — shortlist, pair
    * sims, and every step's argmax — with the same ordered-fold IEEE
    * arithmetic, so the selection ids are pinned, not just plausible.
    */
  def pMmr(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.orderBy("vec_id").limit(12)
    graft.pipeline.Retrieval.mmrRerank(queries, emb, "vec_id",
        "vec_id", "embedding", k = 5, shortlist = 20, lambdaPct = 70)
      .orderBy("query_id", "step")
  }

  /** Ranking-metrics evaluation (Retrieval.rankMetrics): the binary-
    * quantized retriever measured in-engine against the exact-cosine
    * reference — recall@5, MRR, nDCG@5 per query with the discount
    * factors embedded as shared literals; both ranked lists AND the
    * metric arithmetic replay in the oracle.
    */
  def pRankEval(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.orderBy("vec_id").limit(20)
    val approx = Ann.binaryTopK(queries, emb, "vec_id", "vec_id",
        "embedding", k = 5, shortlist = 50)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank"))
    val exact = Ann.bruteForceTopK(queries, emb, "vec_id", "vec_id",
        "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank"))
    graft.pipeline.Retrieval.rankMetrics(approx, exact, 5)
      .orderBy("query_id")
  }

  /** Sentence segmentation + sentence-aware chunking
    * (TextFns.sentences / sentenceChunks). The documents fixture has
    * no punctuation, so the gate builds a punctuated text from
    * deterministic substrings (., !, ? terminators, a double
    * terminator, and trailing unterminated tail) and pins the
    * sentence list and the greedy budget-12 chunk assignment.
    */
  def pSentences(s: SparkSession, d: String): DataFrame = {
    val punct = concat(
      substring(col("text"), 1, 40), lit(". "),
      substring(col("text"), 41, 55), lit("! "),
      substring(col("text"), 96, 30), lit("?? "),
      substring(col("text"), 126, 25), lit(".  "),
      substring(col("text"), 151, 20))
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextFns.sentences(punct).as("sents"))
      .select(col("doc_id"),
        size(col("sents")).cast("bigint").as("n_sentences"),
        md5(concat_ws("|", col("sents"))).as("shash"),
        TextFns.sentenceChunks(col("sents"), budget = 12).as("cids"))
      .select(col("doc_id"), col("n_sentences"), col("shash"),
        coalesce(element_at(col("cids"), -1) + 1, lit(0))
          .cast("bigint").as("n_chunks"),
        md5(concat_ws("/", col("cids"))).as("chash"))
      .orderBy("doc_id")
  }

  /** Contrastive-pair mining (Retrieval.hardNegatives): nearest
    * same-label positives + nearest different-label hard negatives
    * per anchor over the labeled embeddings — the training-pair
    * generator for embedding models, fully oracle-replayed.
    */
  def pHardNeg(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val anchors = emb.orderBy("vec_id").limit(10)
    graft.pipeline.Retrieval.hardNegatives(anchors, emb, "vec_id",
        "vec_id", "embedding", "label", nPos = 3, nNeg = 3)
      .orderBy("anchor_id", "is_positive", "rank")
  }

  /** URL canonicalization (TextFns.canonicalizeUrl): synthetic crawl
    * URLs built per doc covering every rule — case-variant scheme and
    * host (path case preserved), default ports under both schemes,
    * duplicate/trailing slashes, tracking params, unsorted params,
    * fragments — plus the canonical-key dedup count.
    */
  def pUrlCanon(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val raw = concat(
      when(id % 3 === 0, lit("HTTPS://")).otherwise(lit("http://")),
      when(id % 2 === 0, lit("WWW.Example")).otherwise(lit("Site")),
      lit(".com"),
      when(id % 4 === 0, lit(":443"))
        .when(id % 4 === 1, lit(":80")).otherwise(lit("")),
      lit("/Dir//Sub/page"), (id % 7).cast("string"),
      when(id % 2 === 0, lit("/")).otherwise(lit("")),
      lit("?z="), (id % 5).cast("string"),
      lit("&utm_source=feed&a=1"),
      when(id % 5 === 0, lit("&gclid=zz")).otherwise(lit("")),
      lit("#sec"), (id % 3).cast("string"))
    val base = Tables.documents(s, d)
      .select(id, raw.as("url"))
      .select(id, col("url"),
        TextFns.canonicalizeUrl(col("url")).as("canon"))
    val dups = base.groupBy("canon").agg(count(lit(1)).as("n_urls"))
    base.join(dups, "canon")
      .select(col("doc_id"), col("canon"), col("n_urls"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sample + reproducible training order:
    * keep 50% of en, 25% of de, all fr, 12.5% of everything else
    * (binary-exact fractions), then emit the global shuffle position.
    * Fully hash-checked — the sampling hash is md5, portable.
    */
  def pSample(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.Sampling
    val kept = Sampling.stratified(Tables.documents(s, d), "lang",
      "doc_id", Map("en" -> 0.5, "de" -> 0.25, "fr" -> 1.0),
      default = 0.125, seed = 7)
    Sampling.deterministicShuffle(kept, "doc_id", seed = 9)
      .select(col("doc_id"), col("lang"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          Sampling.sampleHash(col("doc_id"), 9), col("doc_id"))))
      .orderBy("doc_id")
  }

  /** Brute-force cosine top-3 neighbor IDs for 10 queries — DuckDB-
    * checked (IDs only; scores stay engine-local to avoid float-repr
    * mismatches).
    */
  def pAnnBrute(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.orderBy("vec_id").limit(10)
    Ann.bruteForceTopK(queries, emb, "vec_id", "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** $llmExtract with the deterministic replay client (the production
    * client swaps in behind the same batch trait). The replay
    * heuristic is a regex, so DuckDB can oracle it exactly.
    */
  def pLlmExtract(s: SparkSession, d: String): DataFrame =
    graft.llm.Llm.extract(Tables.documents(s, d), "text",
      "Extract the amount number mentioned")
      .select(col("doc_id"), col("extracted"))
      .orderBy("doc_id")

  /** Multimodal plumbing over documents: the decode stub produces
    * integral per-stripe sums (exact in Float), so the feature value is
    * oracle-checked alongside the metadata math and frame sampling.
    */
  def pMultimodal(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.Multimodal
    val media = Tables.documents(s, d)
      .select(col("doc_id"), Multimodal.packFakeMedia(col("text"))
        .as("media"))
    val feats = Multimodal.extractFeatures(media, "doc_id", "media",
      dim = 8, batch = 64)
    val frames = Multimodal.sampleFrames(media, "doc_id", "media", 5000L)
      .groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
    media.select(col("doc_id"),
        col("media.meta.width").as("width"),
        Multimodal.resizeMeta(col("media"), 64)
          .getField("meta").getField("width").as("resized_w"))
      .join(feats, "doc_id")
      .join(frames, "doc_id")
      .select(col("doc_id"), col("width"), col("resized_w"),
        element_at(col("features"), 1).cast("long").as("f0"),
        col("n_frames"))
      .orderBy("doc_id")
  }

  /** Perceptual-hash image dedup (Multimodal.dHash / imageDupPairs):
    * every document's fake-media payload hashes to a 64-bit dHash
    * (the stub luma grid is the decode seam; the packing, word
    * layout, pigeonhole block join, and popcount verify are the real
    * machinery, shared with the binary-ANN family), and pairs within
    * Hamming ≤ 3 surface as per-doc dup counts. Exact duplicate
    * payloads hash identically (distance 0), so the fixture's planted
    * dups discriminate. Fully integer — the oracle replays the grid,
    * the 64 comparisons, the word packing, the block join, and the
    * xor-popcount verify.
    */
  def pImageDedup(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.Multimodal
    val media = Tables.documents(s, d)
      .select(col("doc_id"),
        Multimodal.packFakeMedia(col("text")).as("media"))
    // signature kernel runs ONCE into a staged frame consumed by
    // both the output projection and the pair join
    val sigW = graft.core.Caches.stage(media.select(
      col("doc_id").as("id"), Multimodal.dHash(col("media")).as("dh")))
    val sigs = sigW.select(col("id").as("doc_id"),
      array_join(col("dh"), "/").as("dh"))
    val pairs = Multimodal.imageDupPairsFromSigs(sigW, maxHamming = 3)
    val sym = pairs.select(col("id1").as("doc_id"), col("id2").as("p"))
      .unionAll(pairs.select(col("id2").as("doc_id"),
        col("id1").as("p")))
    sigs.join(sym.groupBy("doc_id")
        .agg(count(lit(1)).as("n_dups"), min("p").as("first_dup")),
        Seq("doc_id"), "left")
      .na.fill(Map("n_dups" -> 0, "first_dup" -> -1))
      .orderBy("doc_id")
  }

  /** MinHash calibration vs exact Jaccard (Dedup.minhashCalibration):
    * the measurement that turns a signature threshold into a defended
    * choice — systematic id-delta pair sample, per-pair signature
    * match count vs exact shingle Jaccard, grouped into a ≤ k+1-row
    * calibration table. Oracle replays signatures, the pair sample,
    * both similarity computations, and the decimal-pinned averages.
    */
  def pDedupEval(s: SparkSession, d: String): DataFrame =
    // FIXED 5000-doc contiguous calibration sample (r14; no-op at the
    // oracle SFs, which have ≤ 5000 docs): calibration is a sampling
    // operation by design — a ≤ k+1-row table of per-match-count
    // Jaccard means needs a sample, not the corpus, and the exact-
    // Jaccard verify carries SHINGLE SETS through its pair join
    // (corpus-wide at sf100 that sort spilled past the disk: 54 GB+,
    // SPILL_OUT_OF_MEMORY — the one rehearsal failure of r14).
    // Contiguity keeps the id-delta pair design intact.
    graft.pipeline.Dedup.minhashCalibration(
        Tables.documents(s, d).filter(col("doc_id") < 5000),
        "doc_id", "text")
      .orderBy("matches")

  /** Acoustic-fingerprint audio dedup (Multimodal.audioFp /
    * audioDupPairs): the Haitsma–Kalker-shaped twin of p_image_dedup
    * — 65 consecutive frame energies over the stub-decoded PCM, 64
    * delta bits, the same word layout / pigeonhole block join /
    * popcount verify. Fully integer; the oracle replays the LCG
    * samples, the temporal framing, the energy sums, and the pair
    * topology end to end.
    */
  def pAudioDedup(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.Multimodal
    val media = Tables.documents(s, d)
      .select(col("doc_id"),
        Multimodal.packFakeMedia(col("text")).as("media"))
    val sigW = graft.core.Caches.stage(media.select(
      col("doc_id").as("id"),
      Multimodal.audioFp(col("media")).as("dh")))
    val sigs = sigW.select(col("id").as("doc_id"),
      array_join(col("dh"), "/").as("fp"))
    val pairs = Multimodal.audioDupPairsFromSigs(sigW, maxHamming = 3)
    val sym = pairs.select(col("id1").as("doc_id"), col("id2").as("p"))
      .unionAll(pairs.select(col("id2").as("doc_id"),
        col("id1").as("p")))
    sigs.join(sym.groupBy("doc_id")
        .agg(count(lit(1)).as("n_dups"), min("p").as("first_dup")),
        Seq("doc_id"), "left")
      .na.fill(Map("n_dups" -> 0, "first_dup" -> -1))
      .orderBy("doc_id")
  }

  /** Near-dup clusters: connected components over the PROBE-ANCHORED
    * Jaccard-verified md5-minhash pair graph (keep-one-per-group is
    * then a trivial `comp = doc_id` filter). The oracle replays the
    * same pair generation and closes the graph with a recursive CTE.
    * Re-gated r14 with p_lpa/p_triangles: the gate's former input was
    * the all-pairs self-join pair list, whose verified volume grows
    * ~SF² on the shared-vocabulary corpus (the shape p_minhash
    * measured at 585 s / 20.9×/decade in the r13 sf100 rehearsal —
    * answer mass, not operator cost; dupGroups itself is |E|-bounded
    * rounds). The fixed 500-doc probe pair source measures CC
    * linearly.
    */
  def pDupGroups(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val doc = Tables.documents(s, d)
    val pairs = Dedup.incrementalDupPairsMd5(
        doc.filter(col("doc_id") < 500), "doc_id", doc, "doc_id",
        "text", n = 3, k = 32, b = 8, threshold = 0.8)
      .select(col("new_id").as("id1"), col("corpus_id").as("id2"))
    Dedup.dupGroups(doc, "doc_id", pairs)
      .select(col("id").as("doc_id"), col("comp"))
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy("comp")))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary statistics: top-200 tokens by document
    * frequency with total occurrence counts — integer-exact, fully
    * oracle-checked.
    */
  def pDocFreq(s: SparkSession, d: String): DataFrame =
    TextFns.docFrequency(Tables.documents(s, d), "doc_id", "text", 200)
      .orderBy(col("df").desc, col("token"))

  /** PII redaction over documents with deterministic synthetic PII
    * appended in-query (both engines replay the construction, so the
    * redaction provably fires on every row): email + phone + IP are
    * derived from doc_id, scrubbed, and the gate pins the redacted
    * content hash and the per-row match count.
    */
  def pRedact(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val pii = concat(col("text"),
      lit(" reach user"), id.cast("string"),
      lit("@example"), (id % 5).cast("string"), lit(".org or 555-"),
      lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((id % 10000).cast("string"), 4, "0"), lit(" ip 10."),
      (id % 256).cast("string"), lit(".0."), (id % 100).cast("string"))
    Tables.documents(s, d)
      .select(id, pii.as("pii_text"))
      .select(id,
        md5(TextFns.redact(col("pii_text"))).as("rhash"),
        TextFns.piiCount(col("pii_text")).as("n_pii"))
      .orderBy("doc_id")
  }

  /** Train/eval decontamination: every 20th document plays the eval
    * set; pairs sharing ≥ 2 distinct word n-grams (by the portable
    * 60-bit hash) surface with their common-gram counts, bounded by a
    * total order. Integer-exact against the DuckDB replay. The gate
    * uses 3-grams — on this corpus longer grams only ever match the
    * two planted near-dups, so 3 keeps the check discriminating
    * (117 pairs at sf0.01); production decontamination uses the
    * operator default (8).
    */
  /** PRODUCTION-SHAPED decontamination gate: a FIXED 250-document
    * eval suite (doc_id < 250 — constant at every SF, the way real
    * benchmark suites are constant while the train corpus grows) and
    * n = 8 grams (the production gram width; n = 3 on prose makes
    * every gram boilerplate — ROADMAP round-9). Under this shape the
    * operator is linear in the train corpus: the eval gram set is a
    * constant, the train side streams through one hash join against
    * it, and output is bounded by real 8-gram collisions, not the
    * quadratic all-pairs mass the old %-20 split manufactured at
    * scale. frac = 1.0 pins the LEGACY absolute-cap-only path; the
    * production default (relative cap) is p_contamination_frac.
    */
  def pContamination(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    graft.pipeline.Decontam.contamination(
        doc.filter(col("doc_id") >= 250), "doc_id",
        doc.filter(col("doc_id") < 250), "doc_id",
        "text", n = 8, minCommon = 2, maxShingleFrac = 1.0)
      .orderBy(col("n_common").desc, col("test_id"), col("train_id"))
      .limit(500)
  }

  /** The production-DEFAULT decontamination posture (no cap argument
    * passed at all) over the same fixed-eval-suite split as
    * p_contamination: the corpus-RELATIVE boilerplate cap,
    * effective = min(maxShingleFreq, ceil(0.001·|train|)), train
    * count computed in-plan. At sf0.01 that is cap 1 (ceil(0.25)) —
    * only grams unique to a single train doc join — which genuinely
    * discriminates from p_contamination's legacy absolute-cap pin
    * (different pair set), so the gate proves the default code path,
    * not just the signature.
    */
  def pContaminationFrac(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    graft.pipeline.Decontam.contamination(
        doc.filter(col("doc_id") >= 250), "doc_id",
        doc.filter(col("doc_id") < 250), "doc_id",
        "text", n = 8, minCommon = 2)
      .orderBy(col("n_common").desc, col("test_id"), col("train_id"))
      .limit(500)
  }

  /** Overlapping token-window chunking (64-token windows, 16-token
    * overlap): one row per chunk with the chunk content hashed so the
    * gate pins exact window boundaries without shipping full text.
    */
  def pChunks(s: SparkSession, d: String): DataFrame =
    // ChunkHashes feeds the md5 digest token bytes incrementally —
    // identical hashes to md5(concat_ws(" ", slice)), but the chunk
    // strings (a full copy of the corpus + overlap) are never built
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.ChunkHashes(col("text"), 64, 16))
          .as("c"))
      .select(col("doc_id"), col("c.idx").as("idx"),
        col("c.n_tokens").as("n_tokens"),
        col("c.chunk_hash").as("chunk_hash"))
      .orderBy("doc_id", "idx")

  /** Per-document distinctive keywords (tf/df-ranked, top 3): the
    * keyword-extraction pass over the corpus vocabulary. Integer tf/df
    * and one IEEE division keep the ranking engine-portable.
    */
  def pKeywords(s: SparkSession, d: String): DataFrame =
    TextFns.keywords(Tables.documents(s, d), "doc_id", "text", perDoc = 3)
      .orderBy("doc_id", "rank")

  /** Gopher rule battery over the documents table: every flag plus
    * the composite keep decision, all thresholds integer-exact.
    */
  def pGopher(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextFns.gopherRules(col("text")).as("g"))
      .select(col("doc_id"), col("g.*"))
      .orderBy("doc_id")

  private val LangModelLangs = Seq("de", "en", "es", "fr", "zh")

  /** Trained n-gram language-ID over the documents table: char-trigram
    * log-likelihood profiles per labeled language (one training scan,
    * 5×256 driver cells), argmax classification — the trainable
    * counterpart of the stopword-heuristic p_lang_id. Whole train +
    * classify replays in DuckDB (the dsirOracle pattern × 5 labels).
    */
  def pLangModel(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val m = graft.pipeline.Importance.trainLangId(doc, "lang", "text",
      LangModelLangs, dim = 256, gram = 3)
    graft.pipeline.Importance.langIdModel(doc, m, LangModelLangs,
        "doc_id", "text", dim = 256, gram = 3)
      .orderBy("doc_id")
  }

  /** Span-level exact-substring dedup over the documents table:
    * maximal token spans covered by 8-token windows occurring >= 2
    * times corpus-wide — positions, run merging, and the duplicated-
    * hash threshold all replay in DuckDB.
    */
  def pDupSpans(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Dedup.dupSpans(Tables.documents(s, d), "doc_id",
        "text", n = 8, minCount = 2)
      .orderBy("doc_id", "start_tok")

  /** In-engine BPE vocabulary training over the documents table: 4
    * merge rounds, each one corpus scan reduced to the argmax pair.
    * The gate pins the LEARNED MERGES and their selection-time counts
    * — whole training rounds replay in DuckDB (the p_quality_train
    * pattern), so pair counting, the merge-apply semantics, and the
    * deterministic tie-break are all load-bearing.
    */
  def pBpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextFns.bpeTrain(Tables.documents(s, d), "text", nMerges = 4)
      .zipWithIndex
      .map { case ((a, b, c), i) => (i, a, b, c) }
      .toDF("step", "sym_a", "sym_b", "cnt")
      .orderBy("step")
  }

  /** Inverted-index build over the documents table: per-token top-5
    * postings by (tf DESC, doc_id) for every token seen in at least
    * two documents, with exact df/cf — the WindowGroupLimit cap and
    * the uncapped header counts discriminate independently.
    */
  def pPostings(s: SparkSession, d: String): DataFrame =
    TextFns.postings(Tables.documents(s, d), "doc_id", "text",
        cap = 5, minDf = 2)
      .orderBy("token", "rk")

  /** Lloyd k-means over the embeddings (k=8, 3 assignment passes, 2
    * exact fixed-point centroid updates) — the oracle replays whole
    * iterations in SQL because every update is exact integer sums +
    * one IEEE division (Cluster.kmeans determinism notes).
    */
  /** SemDeDup over the embeddings table: k-means topic clusters
    * (k=8, 2 Lloyd passes — the same replayable fixed-point iteration
    * p_kmeans pins), hyperplane sub-blocking (6 planes), and a
    * within-cell cosine prune at 0.3 (the synthetic unit-scale
    * embeddings are near-orthogonal, so 0.3 is deep in the paired
    * tail: some cells dedup, most don't — the gate discriminates both
    * outcomes). Every stage replays in DuckDB: literal centroids,
    * literal planes, ordered list-sum cosine, fixed-point threshold.
    */
  def pSemDedup(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Cluster.semDedup(Tables.embeddings(s, d),
      "vec_id", "embedding", k = 8, iters = 2, threshold = 0.3,
      planes = 6, planeSeed = 77)
      .select(col("id").as("vec_id"), col("cluster"), col("is_dup"))
      .orderBy("vec_id")

  /** Per-domain cap over a synthesized URL column (the documents table
    * carries source/lang, the web-corpus shape carries a URL): extract
    * the domain with TextFns.urlDomain and keep the 10 longest docs
    * per domain (n_chars DESC, doc_id tiebreak). The skew story is
    * Spark 4's WindowGroupLimit partial/final pair (PlanSpec-pinned).
    */
  def pDomainCap(s: SparkSession, d: String): DataFrame = {
    val u = Tables.documents(s, d)
      .withColumn("url",
        concat(lit("https://www."), col("source"), lit(".example.org/"),
          col("lang"), lit("/"), col("doc_id")))
      .withColumn("domain", TextFns.urlDomain(col("url")))
    graft.pipeline.Sampling.capPerKey(u, "domain",
        Seq(col("n_chars").desc, col("doc_id")), cap = 10)
      .select(col("doc_id"), col("domain"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** DSIR importance weights over the documents table: target = the
    * English slice, raw = everything; hashed word-bigram features in
    * 256 buckets. The gate column is the exact fixed-point score (the
    * long sum of pre-floored per-bucket log ratios), which DuckDB
    * replays bucket-for-bucket; log_weight is its exact power-of-two
    * rendering.
    */
  def pDsir(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    graft.pipeline.Importance.importanceWeightsSliced(
        doc, col("lang") === "en", "doc_id", "text",
        dim = 256, gram = 2)
      .orderBy("doc_id")
  }

  /** CCNet-style LM quality signal: add-one unigram cross-entropy of
    * every document under the English reference slice's top-512 vocab.
    * English docs land near the reference entropy, other languages
    * drown in the OOV cell — the gate pins vocab selection, the
    * fixed-point log-prob table, exact count·lp sums, and the one
    * IEEE division.
    */
  def pPerplexity(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    graft.pipeline.Importance.unigramCrossEntropy(
        doc, doc.filter(col("lang") === "en"), "doc_id", "text",
        vocabSize = 512)
      .orderBy("doc_id")
  }

  /** CCNet per-language perplexity tertiles: one-scan multi-model LM
    * training + scan-local CASE scoring + one lang-keyed exchange for
    * the ntile split — the gate pins trained vocab cut-offs, exact
    * fixed-point entropies, and every tertile boundary per language.
    */
  def pCcnet(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Importance.ccnetBuckets(
        Tables.documents(s, d), "doc_id", "text", "lang",
        vocabSize = 256)
      .orderBy("doc_id")

  /** Train the linear quality classifier IN-ENGINE (2 full-batch
    * logistic gradient steps, label = English, 32 hashed buckets,
    * lr 0.5) and apply the trained weights — the gate pins whole
    * training iterations: margins, sigmoid residuals, fixed-point
    * gradients, and the weight updates all replay in DuckDB.
    */
  def pQualityTrain(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val (w, b) = TextFns.trainLinearQuality(doc, "text",
      col("lang") === "en", dim = 32, iters = 2, lr = 0.5)
    doc.select(col("doc_id"),
        TextFns.linearQualityCol(col("text"), 32, 0,
          Some(w.toIndexedSeq), b).getField("margin").as("margin"))
      .withColumn("keep", col("margin") > 0)
      .orderBy("doc_id")
  }

  def pKmeans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (assigned, _) = graft.pipeline.Cluster.kmeans(
      Tables.embeddings(s, d), "vec_id", "embedding", k = 8, iters = 3)
    assigned.select(col("id").as("vec_id"), col("cluster"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .orderBy("vec_id")
  }

  /** End-to-end corpus curation — the composed pipeline a training run
    * starts from, as ONE declarative plan: hold out the eval suite
    * (a FIXED 250 docs — eval benchmarks are fixed-size in
    * production, and an SF-proportional eval slice made the
    * decontamination join quadratic with SF, the p_contamination
    * lesson re-applied here in r13), quality-filter (score ≥ 0.55),
    * exact-dedup keeping the smallest id per normalized content,
    * drop training docs contaminated by the eval set (≥ 2 shared
    * word 3-grams), and emit each survivor with its quality and
    * training chunk count. Every stage is a pipeline operator used
    * elsewhere; the gate pins their composition (filter ordering is
    * part of the semantics: quality → dedup → decontamination).
    */
  def pCurate(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val doc = Tables.documents(s, d)
    val train = doc.filter(col("doc_id") >= 250)
    val evalDocs = doc.filter(col("doc_id") < 250)
    // r15 kernel fusion: quality score AND the dedup key come from ONE
    // fused native pass over each document (CurateSignals; bit-exact
    // to the previous qualityScore + md5(normalize) composition, pinned
    // by CurateNativeSpec and this gate's oracle) — the train-side
    // corpus scan was the heaviest linear row at sf100 and its cost was
    // attributed kernel-level, not gate-shape
    val sig = graft.functions.CurateSignals(col("text"))
    val q = train
      .withColumn("quality", sig.getField("quality"))
      .withColumn("__k", sig.getField("key"))
      .filter(col("quality") >= 0.55)
    // consumed twice (decontamination train side + final anti-join):
    // stage the quality+dedup prefix once instead of recomputing it
    // per consumer; released by the harness's Caches.releaseAll
    val deduped = graft.core.Caches.stage(q
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__k")).orderBy("doc_id")))
      .filter(col("__rn") === 1).drop("__rn", "__k"))
    // DEFAULT arguments deliberately: this gate pins that the
    // out-of-the-box decontamination posture is the corpus-relative
    // boilerplate cap (min(1000, ceil(0.001·|train|)) — the
    // scale-safe default the sf10 rehearsal demanded), replayed
    // in-oracle against the dd count. Round 18 measured an eval-gram
    // Bloom pre-filter here and REJECTED it — at n = 3 on prose nearly
    // every train gram occurs in the eval suite (the guide-§3.2
    // selectivity precondition fails), so the filter dropped almost
    // nothing and its extra eval-side build action made the stage
    // 1.6× SLOWER (OPTIMIZATION_r18.md: interleaved medians 1.73 s
    // off vs 2.74 s on at sf0.1; identical 65-pair output). The
    // persisted Bloom tier is Decontam.writeEvalFilter /
    // suspiciousGrams.
    val contaminated = graft.pipeline.Decontam.contamination(
        deduped, "doc_id", evalDocs, "doc_id", "text",
        n = 3, minCommon = 2)
      .select(col("train_id").as("doc_id")).distinct()
    deduped.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("quality"),
        size(graft.functions.ChunkSizes(col("text"), 64, 16)).cast("long")
          .as("n_chunks"))
      .orderBy("doc_id")
  }

  /** Incremental ingest dedup: documents with doc_id % 10 = 7 (capped
    * at a FIXED ~500-doc batch, r13 — a batch that grew with the
    * corpus re-created the quadratic answer volume the re-gates
    * removed; every %10=7 id at sf0.01/sf0.1 is < 5000, so small-SF
    * hashes are unchanged) play the incoming batch, the rest the
    * indexed corpus; each incoming doc reports how many corpus
    * near-dups it has (Jaccard ≥ 0.8) and the smallest matching
    * corpus id (-1 when none — the doc is novel).
    */
  def pIncrDedup(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val inc = doc.filter(col("doc_id") % 10 === 7 &&
      col("doc_id") < 5000)
    val cor = doc.filter(col("doc_id") % 10 =!= 7)
    val pairs = Dedup.incrementalDupPairsMd5(inc, "doc_id",
      cor, "doc_id", "text")
    inc.select(col("doc_id"))
      .join(pairs.groupBy(col("new_id").as("doc_id"))
        .agg(count(lit(1)).as("n_dups"),
          min("corpus_id").as("first_dup")),
        Seq("doc_id"), "left")
      .na.fill(Map("n_dups" -> 0, "first_dup" -> -1))
      .orderBy("doc_id")
  }

  /** Deterministic 80/10/10 train/val/test split: hash-interval
    * membership (scan-local, append-stable) with per-split counts.
    */
  def pSplit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.pipeline.Sampling.split(Tables.documents(s, d), "doc_id",
        SplitSpec, seed = 11)
      .select(col("doc_id"), col("split"))
      .withColumn("split_n",
        count(lit(1)).over(Window.partitionBy("split")))
      .orderBy("doc_id")
  }

  private val SplitSpec: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Leakage-safe GROUPED split (Sampling.split keyed on the group):
    * every document of a source lands in the same split, so
    * near-duplicates — which concentrate within a source/domain —
    * cannot straddle train and test. Same scan-local hash-interval
    * membership as p_split, hashed on `source` instead of `doc_id`
    * (the grouped key is the whole mechanism: no join, no shuffle,
    * membership stays append-stable per group).
    */
  def pSplitGroup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.pipeline.Sampling.split(Tables.documents(s, d), "source",
        SplitSpec, seed = 11)
      .select(col("doc_id"), col("source"), col("split"))
      .withColumn("split_n",
        count(lit(1)).over(Window.partitionBy("split")))
      .orderBy("doc_id")
  }

  /** Corpus boilerplate profile: 5-grams shared by ≥ 2 documents,
    * heaviest first (bounded top-300 — TakeOrdered, no global sort).
    */
  def pRepeats(s: SparkSession, d: String): DataFrame =
    Dedup.repeatedGrams(Tables.documents(s, d), "doc_id", "text",
        n = 5, minDocs = 2)
      .orderBy(col("n_docs").desc, col("h"))
      .limit(300)

  /** Greedy context-window packing: 32-token chunks binned into
    * ≤ 80-token training rows per document — one row per chunk with
    * its bin id, replayed in SQL by a per-document recursive scan.
    */
  def pPack(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextFns.packChunks(col("text"), 32, 80)).as("c"))
      .select(col("doc_id"), col("c.idx").as("idx"),
        col("c.n_tokens").as("n_tokens"), col("c.bin").as("bin"))
      .orderBy("doc_id", "idx")

  /** Unigram-LM-shape tokenizer training (TextFns.unigramTrain):
    * substring seeding + two hard-EM rounds of shortest-segmentation
    * Viterbi and usage pruning, all integer/deterministic — the
    * oracle replays the identical DP with recursive CTEs, so the
    * whole training run (not just its row count) is hash-pinned.
    */
  def pUnigramTrain(s: SparkSession, d: String): DataFrame =
    TextFns.unigramTrain(Tables.documents(s, d), "text",
      seedSize = 120, vocabSize = 80, rounds = 2, maxPieceLen = 4)
      .orderBy("piece")

  /** BPE merge-pair statistics: the corpus's top-50 adjacent token
    * pairs — the counting kernel of one vocabulary-training round
    * (one scan, row-local pair construction, bounded TakeOrdered).
    */
  def pBpePairs(s: SparkSession, d: String): DataFrame =
    TextFns.bpePairStats(Tables.documents(s, d), "text", topN = 50)

  /** Quality-weighted deterministic sampling: keep probability = the
    * document's quality score, drawn against the seeded content-hash
    * fraction — scan-local, append/retry-stable, exact-replay oracle
    * (both engines compare the identical rounded quality against the
    * identical exact hash fraction).
    */
  def pWeightedSample(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
      .withColumn("quality", TextFns.qualityScore(col("text")))
    graft.pipeline.Sampling.weighted(doc, "doc_id", col("quality"),
        seed = 13)
      .select(col("doc_id"), col("quality"))
      .orderBy("doc_id")
  }

  /** Cross-document batch assembly: every 32-token chunk assigned to a
    * shard-local capacity-80 training batch via prefix-sum packing
    * (TextFns.assembleBatches) — the step between per-document
    * chunking/packing and the trainer's data loader.
    */
  def pBatches(s: SparkSession, d: String): DataFrame =
    TextFns.assembleBatches(Tables.documents(s, d), "doc_id", "text",
      window = 32, capacity = 80, shards = 8)
      .orderBy("doc_id", "idx")

  /** Strict capacity-respecting packing (TextFns.assembleBatchesStrict,
    * next-fit-decreasing order): no batch exceeds capacity — the
    * fixed-buffer trainer semantics. The oracle replays the
    * sequential per-shard fill with a recursive CTE, so the gate pins
    * the non-associative scan exactly, not just its row count.
    */
  def pPackStrict(s: SparkSession, d: String): DataFrame =
    TextFns.assembleBatchesStrict(Tables.documents(s, d), "doc_id",
      "text", window = 32, capacity = 80, shards = 8, bySize = true)
      .orderBy("doc_id", "idx")

  /** Within-document repetition signals (Gopher-style): duplicate
    * trigram fraction + most-frequent-token fraction, with the
    * curation flag their thresholds imply — the repetition filter
    * that runs beside quality scoring in a curation pass.
    */
  def pRepSignals(s: SparkSession, d: String): DataFrame =
    // stage the one-pass native struct, then project fields + flag:
    // the Column forms' interpreted lambdas (times the flag's double
    // consumption) cost 122 s at sf0.1 under the full sink
    Tables.documents(s, d).select(
      col("doc_id"),
      graft.functions.RepSignals(col("text"), 3).as("__rs"))
      .select(col("doc_id"),
        col("__rs.dup_frac").as("dup3"),
        col("__rs.top_frac").as("top_frac"))
      .withColumn("flagged",
        col("dup3") > 0.02 || col("top_frac") > 0.12)
      .orderBy("doc_id")

  /** BM25 keyword search: top-100 documents for a 3-term query, in the
    * engine-portable raw-odds idf form (logIdf = false — every step an
    * exactly-rounded IEEE op; see TextFns.bm25). The textbook log-idf
    * path is spec-covered (PipelineSpec pins the same ranking on a
    * controlled micro-corpus).
    */
  def pBm25(s: SparkSession, d: String): DataFrame =
    TextFns.bm25(Tables.documents(s, d), "doc_id", "text",
      Seq("spark", "window", "vector"), topK = 100, logIdf = false)

  /** C4-style boilerplate-paragraph removal. The documents fixture is
    * single-paragraph, so the gate constructs a 4-paragraph text
    * deterministically in-query (both engines replay it): a per-doc
    * prefix, a footer shared by ALL docs, a per-doc paragraph, and a
    * third-of-corpus boilerplate line — dedup at minDocs = 5 must drop
    * exactly the footer and the tri-band line while preserving
    * paragraph order in the reassembled text (pinned via md5).
    */
  def pParaDedup(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ptext = concat_ws(" <p> ", substring(col("text"), 1, 120),
      lit("shared footer paragraph"),
      concat(lit("doc paragraph "), id.cast("string")),
      when(id % 3 === 0, lit("tri band boilerplate"))
        .otherwise(concat(lit("unique filler "), (id * 7).cast("string"))))
    graft.pipeline.Dedup.dropRepeatedParagraphs(
        Tables.documents(s, d).select(id, ptext.as("text")),
        "doc_id", "text", sep = " <p> ", minDocs = 5)
      .select(col("doc_id"), md5(col("text")).as("chash"),
        col("n_kept"), col("n_dropped"))
      .orderBy("doc_id")
  }

  /** Temperature-weighted source mixing over the language strata
    * (alpha = 0.5 — the mT5/XLM-R-style flattening, and the alpha
    * whose n^alpha is IEEE-exact): 40% of the corpus drawn with
    * per-language rates ∝ √n_lang, membership by seeded hash
    * fraction. The oracle replays counts, rates, and the hash draw.
    */
  def pMix(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.temperatureMix(Tables.documents(s, d),
        "lang", "doc_id", targetFrac = 0.4, alpha = 0.5, seed = 7)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** Model-based quality filtering: the linear classifier margin over
    * hashing-trick features (TextFns.linearQuality) with the seeded
    * pseudo-weights (same plan shape as a trained model shipped as a
    * literal array; the oracle replays bucket hash, weight derivation,
    * and the DECIMAL-reduced margin exactly).
    */
  def pQualityCls(s: SparkSession, d: String): DataFrame =
    TextFns.linearQuality(Tables.documents(s, d), "doc_id", "text",
      dim = 64, seed = 7)
      .orderBy("doc_id")

  /** The BPE merge list the encode gate applies: hand-ranked merges
    * over the fixture vocabulary ("table", "query", "spark" fragments)
    * — rank order matters ((a, r) runs after (t, a), so the 'a' inside
    * an already-merged "ta" never pairs with a following 'r'), which is
    * exactly what the sequential-application semantics pin.
    */
  private val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"), ("q", "u"),
    ("e", "r"), ("qu", "er"), ("s", "p"), ("a", "r"), ("sp", "ar"))

  /** Tokenizer-encode over the corpus: TextFns.bpeEncode applies the
    * merge list as a codegen'd scan-local replace chain; the gate pins
    * subword count and the md5 of the full encoded sequence per
    * document (so merge order, boundary handling, and all 10 merges
    * are load-bearing).
    */
  def pBpeEncode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextFns.bpeEncode(col("text"), BpeMerges).as("__e"))
      .select(col("doc_id"),
        size(col("__e")).cast("long").as("n_subwords"),
        md5(array_join(col("__e"), " ")).as("ehash"))
      .orderBy("doc_id")

  /** Count-min sketch lifecycle: per-shard build (doc_id % 4 plays the
    * ingest-shard key) → cell-wise merge → point estimates for the 30
    * most frequent tokens, reported beside their exact counts (the CMS
    * guarantee est ≥ exact is thereby pinned row by row). All integer
    * arithmetic — the oracle replays cells, merge, and min-estimates
    * exactly. Oracle integer sums are CAST to BIGINT: DuckDB promotes
    * sum(BIGINT) to HUGEINT, which pandas renders as float64 — the
    * driver's comparator then hashes "123.0" against Spark's "123".
    */
  def pCms(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.CountMin
    val doc = Tables.documents(s, d)
    val sketch = CountMin.merge(
      CountMin.buildSharded(doc, "text", col("doc_id") % 4))
    // exact top tokens feed BOTH the estimate probe and the output
    // join — staged (30 rows, but its derivation is a corpus scan)
    val exact = graft.core.Caches.stage(
      doc.select(explode(graft.functions.TokenCounts(col("text")))
          .as("tc"))
        .groupBy(col("tc.token").as("token"))
        .agg(sum(col("tc.cnt")).as("exact"))
        .orderBy(col("exact").desc, col("token")).limit(30))
    CountMin.estimate(sketch, exact.select("token"))
      .join(exact, "token")
      .select(col("token"), col("est"), col("exact"))
      .orderBy(col("exact").desc, col("token"))
  }

  /** One-pass column profiler over documents: per column the row/null/
    * distinct counts, typed numeric and lexicographic min/max, and the
    * modal value — the triage scan run before committing a 100 TB job
    * to a dataset. One unpivot projection + one value-count shuffle;
    * the rollup and top-1 window touch only the frequency table.
    */
  def pProfile(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Profile.profile(Tables.documents(s, d),
        Seq("doc_id", "lang", "source", "n_chars"))
      .orderBy("col_name")

  /** Weighted PageRank over the nation-level trade graph (customer
    * nation → supplier nation, edge weight = lineitem count): the
    * corpus-scale work is the edge aggregation; three fixed-point
    * Lloyd-style passes then run on the aggregated graph and the
    * oracle replays every floor-divided update exactly. The curation
    * reading: link-graph centrality as a source-quality signal.
    */
  def pPagerank(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val edges = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val ranked = graft.pipeline.LinkGraph.pagerank(edges, iters = 3)
    ranked.join(Tables.nation(s, d),
        ranked("id") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("rank"))
      .orderBy(col("rank").desc, col("nation"))
  }

  /** Declarative data-quality check suite over documents — ONE
    * conditional-aggregation scan validating row count, completeness,
    * doc_id uniqueness, n_chars bounds, and the lang code shape; the
    * (check_name, violation count, verdict) report is what gates a
    * 100 TB pipeline before it runs.
    */
  def pChecks(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.Checks._
    graft.pipeline.Checks.run(Tables.documents(s, d), Seq(
        MinRows(100), NotNull("text"), Unique("doc_id"),
        InRange("n_chars", 1, 100000), Matches("lang", "[a-z]{2}")))
      .orderBy("check_name")
  }

  /** Deterministic per-language uniform reservoir (40 docs per lang):
    * smallest-seeded-hash survivors, reproducible under repartition/
    * retry, executed as the partial+final WindowGroupLimit pair.
    */
  def pReservoir(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.reservoirPerKey(
        Tables.documents(s, d), "lang", "doc_id", k = 40, seed = 7)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** Cluster-balanced selection (the DataComp-style curation shape):
    * k-means clusters over the embeddings, then a uniform per-cluster
    * quota via the deterministic reservoir — topic-diverse subsets
    * instead of frequency-weighted ones. Pure composition of
    * p_kmeans's and p_reservoir's operators; the gate pins the
    * composed result (cluster replay + per-cluster hash quota).
    */
  def pBalanced(s: SparkSession, d: String): DataFrame = {
    val (assigned, _) = graft.pipeline.Cluster.kmeans(
      Tables.embeddings(s, d), "vec_id", "embedding", k = 8, iters = 3)
    graft.pipeline.Sampling.reservoirPerKey(
        assigned.select(col("id").as("vec_id"), col("cluster")),
        "cluster", "vec_id", k = 30, seed = 11)
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
      .orderBy("vec_id")
  }

  /** Drift report between the even- and odd-doc_id halves of the
    * corpus (standing in for yesterday's snapshot vs today's batch):
    * per-column L1 distance over lang, source, and binned n_chars —
    * the exact cross-multiplied integer form, one union scan.
    */
  def pDrift(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d).withColumn("n_chars_bin",
      floor(col("n_chars") / 500).cast("long").cast("string"))
    graft.pipeline.Drift.l1Drift(
        doc.filter(col("doc_id") % 2 === 0),
        doc.filter(col("doc_id") % 2 =!= 0),
        Seq("lang", "source", "n_chars_bin"), threshold = 0.05)
      .orderBy("col_name")
  }

  /** Sketch-backed heavy hitters: per-shard top-50 candidates + CMS
    * estimates, global top-25 — frequent items without a global token
    * groupBy (candidates and cells derive from ONE staged tokenized
    * scan). The oracle replays shard ranking, cells, merge, and the
    * min-estimates exactly.
    */
  def pHeavy(s: SparkSession, d: String): DataFrame =
    graft.pipeline.CountMin.heavyHitters(
        Tables.documents(s, d), "text", col("doc_id") % 4)
      .orderBy(col("est").desc, col("token"))

  /** Unicode NFC normalization gate: every row gets a marker whose
    * normalization form depends on doc_id parity (even rows carry
    * e + combining acute U+0301, odd rows the precomposed U+00E9), so
    * the gate discriminates — NFC must rewrite exactly the even rows
    * and both forms must hash identically after it. DuckDB's
    * nfc_normalize replays the JDK Normalizer (NFC is stable for
    * assigned codepoints across Unicode versions).
    */
  def pNfc(s: SparkSession, d: String): DataFrame = {
    val marked = Tables.documents(s, d).withColumn("raw",
      concat(col("text"), lit(" nfc"),
        when(col("doc_id") % 2 === 0, lit("e\u0301"))
          .otherwise(lit("\u00e9"))))
    marked.select(col("doc_id"), col("raw"),
        graft.functions.NfcNormalize(col("raw")).as("__n"))
      .select(col("doc_id"), md5(col("__n")).as("nhash"),
        (col("__n") =!= col("raw")).as("changed"))
      .orderBy("doc_id")
  }

  /** Bloom seen-set probe ([[graft.pipeline.SeenSet]]) over a crawl
    * split: even doc_ids play "yesterday's crawl" (the persisted
    * filter's build side), the full table plays today's batch. The
    * oracle replays EVERY bit decision — shard = h1 mod 4, four
    * Kirsch–Mitzenmacher positions per key, membership = all
    * positions present in the build side's (shard, position) set
    * (identical semantics to the bitset, which IS that set) — plus
    * the exact-membership join, so false positives are pinned
    * row-by-row, not just counted. m = 2¹⁶ bits × 4 shards / j = 4
    * keeps the gate's FP rate realistic (sparse at sf0.01, ~4%
    * loaded at sf0.1) while every decision stays deterministic.
    */
  def pBloomSeen(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val seen = graft.pipeline.SeenSet.build(
      doc.filter(col("doc_id") % 2 === 0), "text",
      mBits = 65536, nHashes = 4, nShards = 4)
    val baseTexts = doc.filter(col("doc_id") % 2 === 0)
      .select(col("text").as("__bt")).distinct()
    graft.pipeline.SeenSet.probe(doc, "text", seen)
      .join(baseTexts, col("text") === col("__bt"), "left")
      .select(col("doc_id"), col("maybe_seen"),
        col("__bt").isNotNull.as("exact_seen"),
        (col("maybe_seen") && col("__bt").isNull).as("is_fp"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprints (Dedup.winnow / winnowPairsAgainst, k=4
    * w=8): per doc the selection count, the order-independent mod-2⁶⁰
    * fold of selected hashes (pins every selected VALUE), and the
    * count of FIXED-PROBE partners — docs among the 500-doc probe set
    * sharing ≥ 2 distinct (cap-surviving) fingerprints. The oracle
    * replays the whole algorithm — gram hashes, each window's
    * rightmost-min selection, the distinct-position set, the
    * corpus-bucket cap, the probe join — in list SQL, so a wrong
    * tie-break or off-by-one window flips the hash.
    */
  def pWinnow(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val agg = doc.select(col("doc_id"),
        explode(graft.pipeline.Dedup.winnow(col("text"), 4, 8)).as("f"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fps"),
        sum(col("f.h").cast("decimal(38,0)")).as("__hs"))
      .withColumn("fp_fold",
        expr("CAST(__hs % 1152921504606846976 AS BIGINT)"))
    // Partner counts vs a FIXED 500-doc probe set (the production
    // incremental-check shape, winnowPairsAgainst), NOT the all-pairs
    // self-join: on a shared-vocabulary corpus the self-join's true
    // pair volume grows quadratically with SF (BASELINE.md round 10:
    // 3.79 M pairs at sf10 — candidate volume IS the cost), so the
    // density-blind gate degraded every decade. The fixed-probe gate
    // measures the operator linearly (corpus fingerprint scan +
    // cap-bounded probe join) — the p_contamination fixed-eval-suite
    // re-parameterization precedent (r12).
    val pairs = graft.pipeline.Dedup.winnowPairsAgainst(
      doc.filter(col("doc_id") < 500), "doc_id", doc, "doc_id",
      "text", k = 4, w = 8, minShared = 2)
    val pc = pairs.groupBy(col("corpus_id").as("doc_id"))
      .agg(count(lit(1)).as("n_partners"))
    doc.select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .join(pc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("fp_fold"), lit(0L)).as("fp_fold"),
        coalesce(col("n_partners"), lit(0L)).as("n_partners"))
      .orderBy("doc_id")
  }

  /** The batch-vs-corpus winnow contract pinned DIRECTLY
    * (Dedup.winnowPairsAgainst): the raw (new_id, corpus_id,
    * n_shared) rows for a fixed ~500-doc batch slice probed against
    * the whole corpus — the production ingest-loop shape gated in its
    * own right rather than through p_winnow's partner-count
    * presentation (r14; p_winnow keeps the per-corpus-doc projection,
    * this gate pins the pair rows and scores the operator actually
    * returns). The oracle replays gram hashes, each window's
    * rightmost-min selection, the corpus-side boilerplate cap, and
    * the distinct-shared-fingerprint count.
    */
  def pWinnowIncr(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    graft.pipeline.Dedup.winnowPairsAgainst(
        doc.filter(col("doc_id") % 10 === 3 && col("doc_id") < 5000),
        "doc_id", doc, "doc_id", "text", k = 4, w = 8, minShared = 2)
      .orderBy("new_id", "corpus_id")
  }

  /** The batch-vs-corpus SimHash contract pinned DIRECTLY
    * (Dedup.simhashPairsMd5Against): the raw (new_id, corpus_id,
    * dist) rows for a fixed ~500-doc batch slice probed against the
    * whole corpus — |batch|-chunks × corpus-chunk-index blocking,
    * Hamming ≤ 3 verified on the full 64-bit fingerprints. Gated in
    * its own right (r14) rather than through p_simhash's partner
    * counts; the oracle replays the md5 bit sums, the bit-string
    * fingerprints, the 4 × 16-char pigeonhole, and the exact Hamming
    * verify.
    */
  def pSimhashIncr(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    graft.pipeline.Dedup.simhashPairsMd5Against(
        doc.filter(col("doc_id") % 10 === 3 && col("doc_id") < 5000),
        "doc_id", doc, "doc_id", "text", maxDistance = 3)
      .orderBy("new_id", "corpus_id")
  }

  /** Z-order layout arithmetic ([[graft.sources.Layout]]): the Morton
    * value of (l_partkey, l_suppkey) under in-plan exact bounds,
    * rolled up into 256 z-range buckets — count, span, and the
    * mod-2⁶⁰ fold pin every row's interleaved value (a single wrong
    * bit in any row moves its bucket's fold). bits=16 and d=2 → zv is
    * 32 bits; bucket = zv DIV 2²⁴.
    */
  def pZorder(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"))
    val (mins, maxs) = graft.sources.Layout.bounds(li, Seq("x", "y"))
    li.withColumn("zv", graft.sources.Layout.zvalue(
        Seq(col("x"), col("y")), mins, maxs, bits = 16))
      .withColumn("bucket",
        expr("CAST(zv DIV 16777216 AS BIGINT)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("zv").as("zv_min"), max("zv").as("zv_max"),
        sum(col("zv").cast("decimal(38,0)")).as("__zs"))
      .withColumn("zv_fold",
        expr("CAST(__zs % 1152921504606846976 AS BIGINT)"))
      .select(col("bucket"), col("n_rows"), col("zv_min"),
        col("zv_max"), col("zv_fold"))
      .orderBy("bucket")
  }

  /** Winnow fingerprint index probe (Indexes.writeWinnowIndex /
    * winnowCandidatesIndexed): even docs persist their fingerprints,
    * odd docs probe as the incoming batch. Per batch doc: candidate
    * count and the best shared-fingerprint score. The probe plan
    * reads the index with a pushed In filter and never fingerprints
    * the corpus (WinnowIndexSpec pins the plan); the oracle replays
    * the full algorithm on both sides plus the probe-time cap.
    */
  def pWinnowIndexed(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val path = idxDir(d) + "/winnow"
    graft.pipeline.Indexes.writeWinnowIndex(
      doc.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
    // FIXED ~500-doc probe batch (r13, the p_winnow re-gate template):
    // probing with half the corpus made candidate volume grow with
    // SF² on shared vocabulary (17.5×/decade at sf10 — the same
    // answer-volume shape the self-join gates had); a fixed batch
    // measures the index-probe PLAN (pushed In filter, corpus never
    // fingerprinted — the pins PlanSpec keeps) linearly. At sf0.01
    // every odd doc is < 1000, so the small-SF hash is unchanged.
    val batch = doc.filter(col("doc_id") % 2 === 1 &&
      col("doc_id") < 1000)
    val cands = graft.pipeline.Indexes.winnowCandidatesIndexed(
      batch, "doc_id", "text",
      graft.pipeline.Indexes.openWinnowIndex(s, path))
    val agg = cands.groupBy(col("batch_id").as("doc_id"))
      .agg(count(lit(1)).as("n_cands"),
        max("n_shared").as("best_shared"))
    batch.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        coalesce(col("best_shared"), lit(0L)).as("best_shared"))
      .orderBy("doc_id")
  }

  /** Record linkage / entity resolution (Linkage.entities): a dirty
    * registry derived deterministically from customer — every
    * custkey as a digit-word name (reversed zero-padded digits so
    * prefixes VARY), every third with a one-edit variant row. OR-
    * blocking on name prefix-20 and suffix-10 (the suffix key is
    * near-degenerate — mostly-zero high digits — so it exercises the
    * maxBucket cap at both SFs), levenshtein ≤ 1 verify (true
    * variants are exactly 1 edit; distinct keys differ by a full
    * digit-word ≥ 2), entities via min-label components. maxBucket =
    * 100: the suffix keyspace is 15 values over 20k rows, and its
    * just-under-1000 buckets alone would fan out 1.2M junk
    * candidates — the cap measurement that sized it is recorded in
    * OPTIMIZATION_r17.md. Oracle:
    * the identical registry, blocking, cap and verify in SQL plus the
    * recursive-CTE transitive closure.
    */
  def pEr(s: SparkSession, d: String): DataFrame = {
    val words = Seq("zero", "one", "two", "three", "four", "five",
      "six", "seven", "eight", "nine")
    val digits = reverse(lpad(col("ck").cast("string"), 6, "0"))
    // digit-speller as a per-char word LOOKUP (round 18, guide §4):
    // bit-equal to the previous 10-deep chained regexp_replace
    // (OPTIMIZATION_r18.md: 0 mismatches; words contain no digits so the
    // chain's replacements never interacted), ~30% cheaper warm and
    // a far smaller codegen unit
    val wordArr = array(words.map(lit): _*)
    val nm = array_join(
      transform(sequence(lit(1), lit(6)), i =>
        element_at(wordArr, digits.substr(i, lit(1)).cast("int") + 1)),
      " ")
    val named = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("ck"))
      .withColumn("nm", nm)
    // the registry feeds linkPairs AND dupGroups AND the final join —
    // stage it so the name synthesis runs once, not per consumer
    // (round 18; released by the harness's Caches.releaseAll)
    val reg = graft.core.Caches.stage(
      named.select((col("ck") * 2).as("rid"),
        col("nm").as("name"))
      .union(named.filter(col("ck") % 3 === 0)
        .select((col("ck") * 2 + 1).as("rid"),
          expr("substring(nm, 1, length(nm) - 1)").as("name"))))
    val keys = Seq(substring(col("name"), 1, 20),
      expr("right(name, 10)"))
    // ONE verify pass: stage the link pairs and feed both the
    // component step and the per-record link counts from the cache
    // (entities() would re-derive blocking + levenshtein internally)
    val lp = graft.core.Caches.stage(
      graft.pipeline.Linkage.linkPairs(reg, "rid", "name",
        keys, maxDist = 1, maxBucket = 100))
    val ent = graft.pipeline.Dedup.dupGroups(reg, "rid", lp)
      .withColumnRenamed("comp", "entity")
    val nl = lp.select(col("id1").as("id"))
      .union(lp.select(col("id2")))
      .groupBy("id").agg(count(lit(1)).as("n_links"))
    ent.join(nl, Seq("id"), "left")
      .select(col("id").as("rid"), col("entity"),
        coalesce(col("n_links"), lit(0L)).as("n_links"))
      .orderBy("rid")
  }

  /** Persisted eval-set gram filter (Decontam.writeEvalFilter /
    * suspiciousGrams over SeenSet): every 20th doc plays the eval
    * suite, the rest the training batch. Per train doc: distinct
    * 3-gram count and how many the Bloom artifact cannot rule out of
    * the eval corpus (no false negatives — n_suspicious = 0 is a
    * PROOF of gram-disjointness). The oracle replays filter build and
    * probe at the bit level: gram-string folds, shard, 4
    * Kirsch–Mitzenmacher positions, membership = all positions in
    * the eval (shard, position) set.
    */
  def pDecontamSeen(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val path = idxDir(d) + "/evalfilter"
    graft.pipeline.Decontam.writeEvalFilter(
      doc.filter(col("doc_id") % 20 === 0), "text", path,
      n = 3, mBits = 262144, nHashes = 4, nShards = 4)
    graft.pipeline.Decontam.suspiciousGrams(
        doc.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
        graft.pipeline.SeenSet.open(s, path), n = 3)
      .orderBy("doc_id")
  }

  /** Bitext margin mining (Retrieval.marginMine): even vec_ids play
    * the source language, odd the target. Best target per source by
    * the hubness-normalized margin. Output is alignment pairs only
    * (ids, not the margin double): the ORDERING of margins is the
    * pinned contract, the same float-portability posture as
    * p_ann_brute; the fixed-association pivot averages keep both
    * engines' arithmetic step-identical.
    */
  def pBitext(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // source side bounded (the p_ann_brute discipline): the exact
    // form scores every (src, tgt) pair by design, so the gate keeps
    // |src| fixed and rides linear in the corpus side across SFs
    graft.pipeline.Retrieval.marginMine(
        emb.filter(col("vec_id") % 2 === 0)
          .orderBy("vec_id").limit(250),
        emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "vec_id", "embedding", k = 4)
      .select(col("src_id"), col("tgt_id"))
      .orderBy("src_id")
  }

  /** Near-dup graph density (LinkGraph.triangles over the verified
    * PROBE-ANCHORED MinHash pair graph): per duplicate-involved doc
    * its degree and triangle count — cliques (template families) vs
    * chains. The oracle reuses the p_dup_groups pair machinery
    * verbatim and closes wedges with plain joins.
    */
  def pTriangles(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    // fixed 500-doc probe pair source (r14, with p_lpa/p_dup_groups):
    // the all-pairs pair list is the quadratic object on this corpus;
    // the triangle wedge join itself is degree-bounded either way
    val pairs = Dedup.incrementalDupPairsMd5(
        doc.filter(col("doc_id") < 500), "doc_id", doc, "doc_id",
        "text", n = 3, k = 32, b = 8, threshold = 0.8)
      .select(col("new_id").as("id1"), col("corpus_id").as("id2"))
    graft.pipeline.LinkGraph.triangles(pairs)
      .select(col("id").as("doc_id"), col("degree"),
        col("n_triangles"))
      .orderBy("doc_id")
  }

  /** Feature-hashed document embeddings (Embed.hashedDocVector):
    * the model-free text→vector stage — signed hashing-trick
    * components as exact integers, one scan + one (doc, bucket)
    * aggregation. Sparse long form pinned; the dense rendering that
    * feeds k-means/k-center/ANN is spec-pinned equal.
    */
  def pHashEmbed(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Embed.hashedDocVector(
        Tables.documents(s, d), "doc_id", "text",
        dim = 64)
      .orderBy("doc_id", "b")

  /** Frame-fingerprint video dedup (Multimodal.videoFrameHashes /
    * videoDupPairs): the content-ID twin completing the media trio
    * (image dHash, audio fingerprint, video frame hashes) — per-frame
    * dHashes over stub-decoded codepoint blocks, exact-match inverted
    * join on the (hi, lo) fold, shared-distinct-frame counts. Fully
    * integer; the oracle replays the framing, all 72 luma cells per
    * frame, the word packing, and the pair topology end to end.
    */
  def pVideoDedup(s: SparkSession, d: String): DataFrame = {
    val media = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.pipeline.Multimodal.packFakeMedia(col("text")).as("media"))
    graft.pipeline.Multimodal.videoDupPairs(media, "doc_id", "media",
        frameLen = 128, minShared = 2)
      .orderBy("id1", "id2")
  }

  /** Neyman allocation (Sampling.neymanAllocation): the labeling
    * budget split across market segments proportional to N_h·σ_h of
    * a synthetic integer annotation-cost proxy (custkey mod 97 —
    * exact on both engines, unlike double-valued acctbal whose
    * BIGINT cast truncates in Spark and rounds in DuckDB) — exact
    * integer moments, one correctly-rounded
    * sqrt per stratum, fixed-order total fold, largest-remainder
    * apportionment; the oracle replays every step including the
    * double arithmetic (identical op order).
    */
  def pNeyman(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.neymanAllocation(
        Tables.customer(s, d), "c_mktsegment",
        col("c_custkey") % 97, budget = 1000)
      .orderBy("stratum")

  /** Neyman allocation with a BINDING n_rows cap — the water-filling
    * path p_neyman's data never exercises (budget ≪ stratum sizes).
    * The fixture plants a tiny stratum ('0TINY', custkey ≤ 40 —
    * ~41 rows: the synthetic data includes custkey 0) that owns ALL
    * the variance (every other stratum's value is a constant, and
    * MACHINERY's is entirely NULL — covering the moment-coalesce
    * path): classical allocation hands '0TINY' the whole 500 budget,
    * the cap freezes it at its n_rows, and the leftover
    * re-apportions over the zero-variance pool by row count
    * (exact integer largest-remainder — the oracle replays pass 2
    * step for step; pass 1's float arithmetic cannot change the
    * output because any trial ≥ 499 caps at 40 identically).
    */
  def pNeymanCap(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.neymanAllocation(
        Tables.customer(s, d).withColumn("stratum_in",
          when(col("c_custkey") <= 40, lit("0TINY"))
            .otherwise(col("c_mktsegment"))),
        "stratum_in",
        when(col("c_custkey") <= 40, col("c_custkey"))
          .when(col("c_mktsegment") === "MACHINERY",
            lit(null).cast("int"))
          .otherwise(lit(7)),
        budget = 500)
      .orderBy("stratum")

  /** PMI collocations (TextFns.collocations): top-50 adjacent-token
    * bigrams by pointwise mutual information over the corpus — exact
    * integer counts, one IEEE division as the ranking key (bit-
    * identical across engines; see the operator's float contract).
    */
  def pPmi(s: SparkSession, d: String): DataFrame =
    graft.pipeline.TextFns.collocations(
      Tables.documents(s, d), "text", minCount = 5, k = 50)

  /** Persisted media-fingerprint index (Indexes.writeMediaIndex →
    * mediaDupPairsIndexed): image near-dup probing where only the
    * batch runs the dHash kernel — the corpus side is the prebuilt
    * key-sorted 20-byte-row artifact pruned by the batch's pushed
    * key set. The ingest-loop shape of p_image_dedup; the oracle
    * replays signatures for BOTH sides and the pigeonhole join
    * (result-identical to the probe by construction).
    */
  def pImageIndexed(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.{Indexes, Multimodal}
    val doc = Tables.documents(s, d)
      .select(col("doc_id"),
        Multimodal.packFakeMedia(col("text")).as("media"))
    val path = idxDir(d) + "/media_dhash"
    Indexes.writeMediaIndex(doc.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "media", path)
    Indexes.mediaDupPairsIndexed(doc.filter(col("doc_id") % 5 === 0),
        "doc_id", "media", Indexes.openMediaIndex(s, path))
      .orderBy("batch_id", "corpus_id")
  }

  /** t-closeness release audit (Privacy.tCloseness /
    * tClosenessOrdered), completing the privacy trio: per-segment
    * sensitive-distribution distance from the table's, categorical
    * variation distance AND ordered EMD, every numerator/denominator
    * an exact integer the oracle replays bit-for-bit (no floating
    * division on either engine).
    */
  def pTClose(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.Privacy
    val cust = Tables.customer(s, d)
    val quasi = Seq(col("c_mktsegment"))
    val sens = col("c_nationkey")
    val cat = Privacy.tCloseness(cust, quasi, sens, tNum = 1, tDen = 10)
    val ord = Privacy.tClosenessOrdered(cust, quasi, sens,
        tNum = 1, tDen = 50)
      .select(col("c_mktsegment"), col("dist_num").as("odist_num"),
        col("dist_den").as("odist_den"), col("ok").as("ook"))
    cat.join(ord, Seq("c_mktsegment"))
      .orderBy("c_mktsegment")
  }

  /** Label-propagation communities (LinkGraph.labelProp) over the
    * PROBE-ANCHORED verified MinHash near-dup graph: edges are the
    * FIXED 500-doc probe set's verified partners against the whole
    * corpus (Dedup.incrementalDupPairsMd5 — the production
    * incremental-check shape), 3 synchronous rounds,
    * most-frequent-neighbor-label with min tie-break. Complements
    * p_dup_groups (components) and p_triangles (local density) with
    * the community split; the oracle replays every round's counts and
    * argmax. Re-gated r14 from the all-pairs self-join pair list: on
    * the shared-vocabulary corpus its verified-pair volume grows
    * quadratically with SF (16.6×/decade at sf10 vs the 8.5× scan
    * control, VERDICT r13 — answer mass, not operator cost; labelProp
    * itself is |E|-bounded), the same shape re-gated out of
    * p_minhash/p_winnow/p_simhash in r13.
    */
  def pLpa(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val pairs = Dedup.incrementalDupPairsMd5(
        doc.filter(col("doc_id") < 500), "doc_id", doc, "doc_id",
        "text", n = 3, k = 32, b = 8, threshold = 0.8)
      .select(col("new_id").as("id1"), col("corpus_id").as("id2"))
    graft.pipeline.LinkGraph.labelProp(pairs, iters = 3)
      .select(col("id").as("doc_id"), col("label").as("community"))
      .orderBy("doc_id")
  }

  /** Outlink extraction (TextFns.extractLinks): deterministic HTML
    * with per-doc absolute links (one &amp;-escaped), a shared hub
    * link on even docs, and relative/unquoted links that must NOT
    * extract. Output = the aggregated outlink table (url, n_refs,
    * n_docs) — the frame a crawl frontier or link graph builds from.
    */
  def pLinks(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val html = concat(
      lit("<html><body><p>intro</p>"),
      lit("<a href=\"http://site"), (id % 7).cast("string"),
      lit(".com/p/"), (id % 40).cast("string"),
      lit("?a=1&amp;b=2\">out</a>"),
      when(id % 2 === 0,
        lit("<a href=\"https://hub.example.org/home\">hub</a>"))
        .otherwise(lit("<a href=\"/relative/skipped\">rel</a>")),
      lit("<a href='http://unquoted-style.com/skipped'>q</a>"),
      lit("</body></html>"))
    Tables.documents(s, d)
      .select(id, explode(TextFns.extractLinks(html)).as("url"))
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"),
        countDistinct("doc_id").as("n_docs"))
      .orderBy("url")
  }

  /** Shard manifest over documents (8 hash-assigned shards): counts,
    * content size, and the order-independent mod-2^60 fingerprint per
    * shard — what certifies a delivered dataset against its previous
    * manifest without a re-read.
    */
  def pManifest(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.shardManifest(
        Tables.documents(s, d), "doc_id", "text", shards = 8)
      .orderBy("shard")

  /** $llmMatch as an executable projection: the derived field mapping
    * (name-similarity heuristic standing in for the model, behind the
    * same interface) applied over customer — the oracle pins WHICH
    * mapping was derived, not just that something projected.
    */
  def pLlmMatch(s: SparkSession, d: String): DataFrame = {
    val src = Tables.customer(s, d)
    val mapping = graft.llm.Llm.matchShapes(src,
      Seq("custkey", "name", "acctbal"))
    graft.llm.Llm.applyMapping(src, mapping).orderBy("custkey")
  }

  val all: Map[String, Q] = Map(
    "p_keywords" -> (pKeywords _),
    "p_postings" -> (pPostings _),
    "p_bpe_train" -> (pBpeTrain _),
    "p_unigram_train" -> (pUnigramTrain _),
    "p_dup_spans" -> (pDupSpans _),
    "p_lang_model" -> (pLangModel _),
    "p_gopher" -> (pGopher _),
    "p_kmeans" -> (pKmeans _),
    "p_curate" -> (pCurate _),
    "p_incr_dedup" -> (pIncrDedup _),
    "p_split" -> (pSplit _),
    "p_repeats" -> (pRepeats _),
    "p_pack" -> (pPack _),
    "p_dup_groups" -> (pDupGroups _),
    "p_doc_freq" -> (pDocFreq _),
    "p_redact" -> (pRedact _),
    "p_contamination" -> (pContamination _),
    "p_contamination_frac" -> (pContaminationFrac _),
    "p_chunks" -> (pChunks _),
    "p_llm_match" -> (pLlmMatch _),
    "p_multimodal" -> (pMultimodal _),
    "p_image_dedup" -> (pImageDedup _),
    "p_audio_dedup" -> (pAudioDedup _),
    "p_dedup_eval" -> (pDedupEval _),
    "p_llm_extract" -> (pLlmExtract _),
    "p_exact_dedup" -> (pExactDedup _),
    "p_text_stats" -> (pTextStats _),
    "p_lang_id" -> (pLangId _),
    "p_quality" -> (pQuality _),
    "p_minhash" -> (pMinhash _),
    "p_simhash" -> (pSimhash _),
    "p_embed_dup" -> (pEmbedDup _),
    "p_ann_topk" -> (pAnnTopk _),
    "p_ann_ivf" -> (pAnnIvf _),
    "p_ann_pq" -> (pAnnPq _),
    "p_ann_ivfpq" -> (pAnnIvfPq _),
    "p_sq_encode" -> (pSqEncode _),
    "p_ann_pq_refined" -> (pAnnPqRefined _),
    "p_ann_binary" -> (pAnnBinary _),
    "p_ann_indexed" -> (pAnnIndexed _),
    "p_ann_index_append" -> (pAnnIndexAppend _),
    "p_pca" -> (pPca _),
    "p_pca2" -> (pPca2 _),
    "p_ann_ivfpq_idx" -> (pAnnIvfPqIdx _),
    "p_split_group" -> (pSplitGroup _),
    "p_bm25_indexed" -> (pBm25Indexed _),
    "p_incr_indexed" -> (pIncrIndexed _),
    "p_rrf" -> (pRrf _),
    "p_wordpiece" -> (pWordpiece _),
    "p_html_extract" -> (pHtmlExtract _),
    "p_k_anon" -> (pKAnon _),
    "p_bm25_multi" -> (pBm25Multi _),
    "p_rank_eval" -> (pRankEval _),
    "p_sentences" -> (pSentences _),
    "p_hard_neg" -> (pHardNeg _),
    "p_url_canon" -> (pUrlCanon _),
    "p_tag_keywords" -> (pTagKeywords _),
    "p_sample" -> (pSample _),
    "p_bpe_pairs" -> (pBpePairs _),
    "p_bm25" -> (pBm25 _),
    "p_quality_cls" -> (pQualityCls _),
    "p_cms" -> (pCms _),
    "p_bpe_encode" -> (pBpeEncode _),
    "p_para_dedup" -> (pParaDedup _),
    "p_mix" -> (pMix _),
    "p_rep_signals" -> (pRepSignals _),
    "p_weighted_sample" -> (pWeightedSample _),
    "p_batches" -> (pBatches _),
    "p_pack_strict" -> (pPackStrict _),
    "p_ann_brute" -> (pAnnBrute _),
    "p_sem_dedup" -> (pSemDedup _),
    "p_domain_cap" -> (pDomainCap _),
    "p_dsir" -> (pDsir _),
    "p_quality_train" -> (pQualityTrain _),
    "p_perplexity" -> (pPerplexity _),
    "p_ccnet" -> (pCcnet _),
    "p_profile" -> (pProfile _),
    "p_pagerank" -> (pPagerank _),
    "p_checks" -> (pChecks _),
    "p_reservoir" -> (pReservoir _),
    "p_balanced" -> (pBalanced _),
    "p_drift" -> (pDrift _),
    "p_heavy" -> (pHeavy _),
    "p_manifest" -> (pManifest _),
    "p_nfc" -> (pNfc _),
    "p_bloom_seen" -> (pBloomSeen _),
    "p_winnow" -> (pWinnow _),
    "p_winnow_incr" -> (pWinnowIncr _),
    "p_simhash_incr" -> (pSimhashIncr _),
    "p_zorder" -> (pZorder _),
    "p_winnow_indexed" -> (pWinnowIndexed _),
    "p_er" -> (pEr _),
    "p_decontam_seen" -> (pDecontamSeen _),
    "p_bitext" -> (pBitext _),
    "p_triangles" -> (pTriangles _),
    "p_links" -> (pLinks _),
    "p_l_div" -> (pLDiv _),
    "p_mmr" -> (pMmr _),
    "p_kcenter" -> (pKcenter _),
    "p_host_rank" -> (pHostRank _),
    "p_lpa" -> (pLpa _),
    "p_hash_embed" -> (pHashEmbed _),
    "p_video_dedup" -> (pVideoDedup _),
    "p_t_close" -> (pTClose _),
    "p_image_indexed" -> (pImageIndexed _),
    "p_pmi" -> (pPmi _),
    "p_ann_ivfpq_res" -> (pAnnIvfPqRes _),
    "p_ivfpq_res_idx" -> (pAnnIvfPqResIdx _),
    "p_neyman" -> (pNeyman _),
    "p_neyman_cap" -> (pNeymanCap _))

  /** DuckDB replay of the greedy k-center trajectory: unrolled
    * selection CTEs (min-distance over the selected set, argmax with
    * id tie-break) plus the kmeans-style assignment argmin, all in
    * the ordered-fold distance arithmetic the Spark plan uses.
    */
  private def kcenterOracle(k: Int): String = {
    def ls(expr: String): String =
      s"list_sum(list_transform(range(1, 65), i -> $expr))"
    val d2 =
      s"""((${ls("c.v[i] * c.v[i]")}
         |  - 2 * ${ls("e.v[i] * c.v[i]")})
         |  + ${ls("e.v[i] * e.v[i]")})""".stripMargin
    val dAssign =
      s"""(${ls("c.v[i] * c.v[i]")}
         |  - 2 * ${ls("e.v[i] * c.v[i]")})""".stripMargin
    val steps = (2 to k).map { t =>
      s"""d${t - 1} AS (
         |  SELECT e.id, min($d2) AS md
         |  FROM emb e CROSS JOIN cents${t - 1} c GROUP BY e.id),
         |sel$t AS (
         |  SELECT $t AS step, e.id, e.v
         |  FROM d${t - 1} dd JOIN emb e USING (id)
         |  ORDER BY dd.md DESC, e.id LIMIT 1),
         |cents$t AS (SELECT * FROM cents${t - 1}
         |  UNION ALL SELECT * FROM sel$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (SELECT vec_id AS id,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sel1 AS (SELECT 1 AS step, id, v FROM emb ORDER BY id LIMIT 1),
       |cents1 AS (SELECT * FROM sel1),
       |$steps,
       |a AS (
       |  SELECT e.id, c.step, row_number() OVER (PARTITION BY e.id
       |      ORDER BY $dAssign ASC, c.step ASC) AS rk
       |  FROM emb e CROSS JOIN cents$k c)
       |SELECT a.id, CAST(a.step AS INT) AS center_step,
       |  c2.id AS center_id
       |FROM a JOIN cents$k c2 ON a.step = c2.step
       |WHERE a.rk = 1 ORDER BY a.id""".stripMargin
  }

  /** DuckDB replay of the whole MMR greedy trajectory: the exact
    * ordered-fold cosine (bit-identical to graft.functions.CosineSim)
    * for shortlist relevance AND pairwise sims, then `k` unrolled
    * selection CTEs, each computing max-sim-to-selected and the
    * marginal-score argmax with the same literals and tie order.
    */
  private def mmrOracle(nq: Int, short: Int, k: Int,
      lamPct: Int): String = {
    def cosF(a: String, b: String): String =
      s"""(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))
         |    / (sqrt(list_sum(list_transform(range(1, 65),
         |        i -> $a[i] * $a[i])))
         |      * sqrt(list_sum(list_transform(range(1, 65),
         |        i -> $b[i] * $b[i])))))""".stripMargin
    val lam = s"CAST(${lamPct / 100.0} AS DOUBLE)"
    val oneMinus = s"CAST(${(100 - lamPct) / 100.0} AS DOUBLE)"
    val steps = (2 to k).map { t =>
      s"""s$t AS (
         |  SELECT query_id, cand_id, $t AS step FROM (
         |    SELECT c.query_id, c.cand_id,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY $lam * c.rel - $oneMinus * m.ms DESC,
         |          c.cand_id) AS rn
         |    FROM cand c
         |    JOIN (SELECT s.query_id, s.cand_id, max(s.sim) AS ms
         |          FROM sims s JOIN sel${t - 1} p
         |            ON p.query_id = s.query_id
         |            AND p.cand_id = s.sel_id
         |          GROUP BY 1, 2) m
         |      ON m.query_id = c.query_id AND m.cand_id = c.cand_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} p
         |      WHERE p.query_id = c.query_id
         |        AND p.cand_id = c.cand_id))
         |  WHERE rn = 1),
         |sel$t AS (SELECT * FROM sel${t - 1}
         |  UNION ALL SELECT * FROM s$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT $nq),
       |cand AS (
       |  SELECT query_id, cand_id, rel FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |      ${cosF("q.v", "c.v")} AS rel,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosF("q.v", "c.v")} DESC, c.vec_id) AS rk
       |    FROM q CROSS JOIN emb c WHERE q.vec_id <> c.vec_id)
       |  WHERE rk <= $short),
       |sims AS (
       |  SELECT a.query_id, a.cand_id, b.cand_id AS sel_id,
       |    ${cosF("av.v", "bv.v")} AS sim
       |  FROM cand a JOIN cand b ON a.query_id = b.query_id
       |    AND a.cand_id <> b.cand_id
       |  JOIN emb av ON av.vec_id = a.cand_id
       |  JOIN emb bv ON bv.vec_id = b.cand_id),
       |sel1 AS (
       |  SELECT query_id, cand_id, 1 AS step FROM (
       |    SELECT query_id, cand_id, row_number() OVER (
       |        PARTITION BY query_id
       |        ORDER BY rel DESC, cand_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |$steps
       |SELECT query_id, CAST(step AS INT) AS step, cand_id
       |FROM sel$k ORDER BY query_id, step""".stripMargin
  }

  /** Shared oracle CTEs for the binary-quantized ANN search
    * (p_ann_binary, p_rank_eval): identical 16-bit sign packing
    * (word w bit i = v[16w+i] > 0), Hamming shortlist of 50, exact
    * cosine `ranked` output.
    */
  private lazy val binaryAnnCtes: String = {
    val pows = (0 until 16).map(1 << _).mkString("[", ", ", "]")
    s"""emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |bits AS (
       |  SELECT vec_id, list_transform(range(0, 4), w ->
       |    list_sum(list_transform(range(1, 17), i ->
       |      CASE WHEN v[w * 16 + CAST(i AS INT)] > 0
       |        THEN ($pows)[i] ELSE 0 END))) AS b
       |  FROM emb),
       |qids AS (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 20),
       |ham AS (
       |  SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(1, 5), w ->
       |      bit_count(xor(CAST(qb.b[w] AS BIGINT),
       |        CAST(cb.b[w] AS BIGINT))))) AS INT) AS ham
       |  FROM bits qb JOIN qids q ON qb.vec_id = q.vec_id
       |  CROSS JOIN bits cb WHERE qb.vec_id <> cb.vec_id),
       |short AS (
       |  SELECT query_id, neighbor_id, ham,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ham, neighbor_id) AS hrank
       |  FROM ham),
       |ranked AS (
       |  SELECT s.query_id, s.neighbor_id, s.ham,
       |    row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC,
       |        s.neighbor_id) AS rank
       |  FROM short s JOIN emb qe ON s.query_id = qe.vec_id
       |  JOIN emb ne ON s.neighbor_id = ne.vec_id
       |  WHERE s.hrank <= 50)""".stripMargin
  }

  private val norm =
    """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""
  private def swList(ws: Seq[String]) =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")
  private val en = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "are", "was", "it", "that", "this", "for", "with", "on", "as",
    "at", "by", "be")
  private val de = Seq("der", "die", "das", "und", "oder", "zu", "in",
    "ist", "sind", "war", "es", "dass", "für", "mit", "auf", "als", "bei",
    "ein", "eine", "von", "den")
  private val fr = Seq("le", "la", "les", "et", "ou", "de", "à", "en",
    "est", "sont", "était", "il", "que", "ce", "pour", "avec", "sur",
    "comme", "par", "un", "une", "des")
  private val toks =
    """list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"""

  /** Unicode-letter token variant mirroring TextFns.lowerTokens
    * ([^\p{L}0-9]+ — RE2 supports \p{L}): ONLY the stopword-ratio /
    * language-id oracles use it, because only those Spark operators
    * tokenize with Unicode letters (their de/fr stopword lists carry
    * non-ASCII entries); every other gate's Spark side tokenizes
    * ASCII and keeps `toks`.
    */
  private val toksU =
    """list_filter(str_split_regex(lower(text), '[^\p{L}0-9]+'), x -> x <> '')"""
  private def swCountU(ws: Seq[String]) =
    s"len(list_filter($toksU, x -> x IN ${swList(ws)}))"

  /** Literal [16^14 .. 16^0] powers for hex→int folding (doubles are
    * only exact to 2^53, so `power()` cannot be used).
    */
  private val pow16: String =
    (0 until 15).map(i => BigInt(16).pow(14 - i)).mkString("[", ", ", "]")

  /** The 60-bit shingle hash, mirroring `Dedup.shingleHash`: fold the
    * first 15 md5 hex digits positionally, mod P.
    */
  /** Raw 60-bit hex fold of md5(sref) (no modulus) — the SQL mirror of
    * `conv(substring(md5(s), 1, 15), 16, 10)`.
    */
  private def hex60(sref: String): String =
    s"""CAST(list_sum(list_transform(range(1, 16), i ->
       |  (strpos('0123456789abcdef', substr(md5($sref), i, 1)) - 1)
       |    * ($pow16)[i])) AS BIGINT)""".stripMargin

  /** Shared winnowing replay (p_winnow, p_winnow_indexed): gram
    * hashes k=4 with position, per-window rightmost-min selection
    * w=8, distinct selections per doc — the SQL mirror of
    * `Dedup.winnow(text, 4, 8)`.
    */
  private lazy val winnowSelCtes: String =
    s"""tk AS (SELECT doc_id, $toks AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
       |    ${hex60("array_to_string(list_slice(toks, p, p + 3), ' ')")}
       |      AS h
       |  FROM (SELECT doc_id, toks,
       |          unnest(range(1, len(toks) - 2)) AS p
       |        FROM tk WHERE len(toks) >= 4)),
       |hl AS (SELECT doc_id, list(h ORDER BY pos) AS hs
       |       FROM g GROUP BY doc_id),
       |w1 AS (SELECT doc_id, hs,
       |         unnest(range(0, greatest(len(hs) - 7, 1))) AS st
       |       FROM hl),
       |w2 AS (SELECT doc_id, st,
       |         list_slice(hs, st + 1, st + 8) AS sl FROM w1),
       |sel AS (SELECT DISTINCT doc_id,
       |    st + len(sl)
       |      - list_position(list_reverse(sl), list_min(sl)) AS pos,
       |    list_min(sl) AS h
       |  FROM w2)""".stripMargin

  /** DuckDB replay of the portable md5 SimHash fingerprint pipeline
    * up to the 4 × 16-char chunk table — shared by p_simhash and
    * p_simhash_incr (identical arithmetic to Dedup.simhashMd5: per
    * token the md5 hex digits' bit signs, bit b set iff the signed
    * sum is positive, empty-token docs all-zeros).
    */
  private lazy val simhashChunkCtes: String =
    s"""th AS (
       |  SELECT doc_id, md5(t) AS m FROM (
       |    SELECT doc_id, unnest($toks) AS t FROM documents)),
       |sums AS (
       |  SELECT doc_id, bb.b, sum(CASE WHEN
       |    ((strpos('0123456789abcdef', substr(m, bb.b // 4 + 1, 1)) - 1)
       |      >> (bb.b % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th, (SELECT unnest(range(0, 64)) AS b) bb
       |  GROUP BY doc_id, bb.b),
       |fps AS (
       |  SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END,
       |    '' ORDER BY b) AS fp
       |  FROM sums GROUP BY doc_id),
       |allfp AS (
       |  SELECT d.doc_id, coalesce(f.fp, repeat('0', 64)) AS fp
       |  FROM documents d LEFT JOIN fps f USING (doc_id)),
       |chunks AS (
       |  SELECT doc_id, fp, cc.c AS chunk,
       |    substr(fp, cc.c * 16 + 1, 16) AS val
       |  FROM allfp, (SELECT unnest(range(0, 4)) AS c) cc)""".stripMargin

  /** Fixed-association top-k average for p_bitext: pivot ranks 1..k
    * to columns, sum left-associatively, divide by the non-null
    * count — the SQL mirror of Retrieval.marginMine's sideAvg (an
    * engine `avg` would reduce in partition order and diverge in
    * the last ulp).
    */
  private def pivotAvgSql(k: Int): String = {
    val cs = (1 to k).map(i =>
      s"max(CASE WHEN r = $i THEN cos END)")
    val sum = cs.map(c => s"coalesce($c, 0)").mkString("(", " + ", ")")
    val n = cs.map(c => s"(CASE WHEN $c IS NOT NULL THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
    s"($sum / $n)"
  }

  /** Positional fold of md5 hex digits [start, start+14] — the SQL
    * mirror of `conv(substring(md5(s), start, 15), 16, 10)`;
    * hex60 == hexFoldAt(_, 1), kept separate for the many existing
    * call sites. SeenSet's h2 uses start = 16.
    */
  private def hexFoldAt(sref: String, start: Int): String =
    s"""CAST(list_sum(list_transform(range($start, ${start + 15}), i ->
       |  (strpos('0123456789abcdef', substr(md5($sref), i, 1)) - 1)
       |    * ($pow16)[i - ${start - 1}])) AS BIGINT)""".stripMargin

  private def hash60(sref: String): String =
    s"${hex60(sref)} % 2147483647"

  /** `(i, a, b)` VALUES rows of Dedup.permCoeffs(32) — identical
    * coefficients to the ones baked into the Spark plan.
    */
  private val permValues: String =
    graft.pipeline.Dedup.permCoeffs(32).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")

  /** Shared sigs pipeline: shingles → one hash per shingle → 32
    * permutation minima collected in permutation order.
    */
  private def sigCtes: String =
    s"""base AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents),
       |perms(i, a, b) AS (VALUES $permValues),
       |hsx AS (
       |  SELECT doc_id, sh,
       |    list_transform(sh, s -> ${hash60("s")}) AS hs
       |  FROM base),
       |sigl AS (
       |  SELECT doc_id, p.i,
       |    list_min(list_transform(hs, h -> (h * p.a + p.b) % 2147483647))
       |      AS v
       |  FROM hsx, perms p),
       |sigs AS (
       |  SELECT s.doc_id, b.sh, list(s.v ORDER BY s.i) AS sig
       |  FROM sigl s JOIN base b USING (doc_id)
       |  GROUP BY s.doc_id, b.sh),
       |bands AS (
       |  SELECT doc_id, bb.band, md5(array_to_string(
       |    list_transform(list_slice(sig, bb.band * 4 + 1, bb.band * 4 + 4),
       |      x -> CAST(x AS VARCHAR)), '|')) AS bucket
       |  FROM sigs, (SELECT unnest(range(0, 8)) AS band) bb),
       |capped AS (
       |  SELECT doc_id, band, bucket FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS n
       |    FROM bands) WHERE n <= 1000),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
       |  FROM capped l JOIN capped r
       |    ON l.band = r.band AND l.bucket = r.bucket
       |    AND l.doc_id < r.doc_id),
       |vpairs AS (
       |  SELECT c.id1, c.id2 FROM cand c
       |  JOIN base b1 ON c.id1 = b1.doc_id
       |  JOIN base b2 ON c.id2 = b2.doc_id
       |  WHERE CAST(len(list_intersect(b1.sh, b2.sh)) AS DOUBLE) /
       |    len(list_distinct(b1.sh || b2.sh)) >= 0.8)""".stripMargin

  /** DuckDB replay of TextFns.trainLinearQuality + the final apply:
    * per-iteration CTEs carry the weight table w{t}(b, w) and bias
    * b{t}(v); margins reuse the p_quality_cls DECIMAL-reduced sum,
    * residuals the IEEE sigmoid, gradients the floor(·2^20) exact
    * BIGINT sums, and each weight update is the same one
    * multiply-divide Spark's driver performs.
    */
  private def logregOracle(dim: Int, iters: Int, lr: String): String = {
    def marginCte(name: String, wt: String, bt: String): String =
      s"""$name AS (
         |  SELECT bs.doc_id, bs.y,
         |    coalesce(mm.s, 0.0) + (SELECT v FROM $bt) AS mg
         |  FROM base bs LEFT JOIN (
         |    SELECT tb.doc_id,
         |      CAST(sum(CAST((cnt / dl) * w.w AS DECIMAL(38,15)))
         |        AS DOUBLE) AS s
         |    FROM tb JOIN $wt w USING (b) GROUP BY 1) mm
         |  USING (doc_id))""".stripMargin
    def stepCtes(t: Int): String =
      s"""${marginCte(s"m$t", s"w$t", s"b$t")},
         |r$t AS (
         |  SELECT doc_id, 1.0 / (1.0 + exp(-mg)) - y AS r FROM m$t),
         |g$t AS (
         |  SELECT tb.b, CAST(sum(CAST(floor(r.r * (tb.cnt / tb.dl)
         |    * 1048576.0) AS BIGINT)) AS BIGINT) AS s
         |  FROM tb JOIN r$t r USING (doc_id) GROUP BY 1),
         |nb$t AS (
         |  SELECT CAST(sum(CAST(floor(r * 1048576.0) AS BIGINT))
         |    AS BIGINT) AS gb, count(*) AS n FROM r$t),
         |w${t + 1} AS (
         |  SELECT w.b, w.w - ($lr * coalesce(g.s, 0)) / (nb.n * 1048576.0)
         |    AS w
         |  FROM w$t w LEFT JOIN g$t g USING (b) CROSS JOIN nb$t nb),
         |b${t + 1} AS (
         |  SELECT (SELECT v FROM b$t) - ($lr * nb.gb) / (nb.n * 1048576.0)
         |    AS v FROM nb$t nb)""".stripMargin
    val steps = (0 until iters).map(stepCtes).mkString(",\n")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    $toks AS ts FROM documents),
       |tb AS (
       |  SELECT doc_id, dl, cnt, ${hex60("token")} % $dim AS b FROM (
       |    SELECT doc_id, len(ts) AS dl, token, count(*) AS cnt
       |    FROM (SELECT doc_id, ts, unnest(ts) AS token FROM base)
       |    GROUP BY 1, 2, 3)),
       |w0 AS (SELECT unnest(range(0, $dim)) AS b, 0.0 AS w),
       |b0 AS (SELECT 0.0 AS v),
       |$steps,
       |${marginCte("mfin", s"w$iters", s"b$iters")}
       |SELECT doc_id, mg AS margin, mg > 0 AS keep
       |FROM mfin ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of Importance.unigramCrossEntropy: top-V vocab by
    * (count DESC, token) over the English slice, add-one fixed-point
    * log probs against total + |vocab| + 1, exact cnt·lp sums, one
    * IEEE division for the per-token cross-entropy.
    */
  private def perplexityOracle(v: Int): String =
    s"""WITH rtok AS (
       |  SELECT unnest($toks) AS t FROM documents WHERE lang = 'en'),
       |cnts AS (SELECT t, count(*) AS c FROM rtok GROUP BY 1),
       |vocab AS (
       |  SELECT t, c FROM (
       |    SELECT t, c, row_number() OVER (ORDER BY c DESC, t) AS rk
       |    FROM cnts) WHERE rk <= $v),
       |denom AS (
       |  SELECT CAST((SELECT coalesce(sum(c), 0) FROM cnts)
       |    + (SELECT count(*) FROM vocab) + 1 AS DOUBLE) AS d),
       |lp AS (
       |  SELECT t, CAST(floor(ln(CAST(c + 1 AS DOUBLE) / denom.d)
       |    * 1048576.0) AS BIGINT) AS lp
       |  FROM vocab CROSS JOIN denom),
       |oov AS (
       |  SELECT CAST(floor(ln(1.0 / d) * 1048576.0) AS BIGINT) AS lp
       |  FROM denom),
       |tc AS (
       |  SELECT doc_id, token, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest($toks) AS token FROM documents)
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT tc.doc_id,
       |    sum(tc.cnt * coalesce(lp.lp, (SELECT lp FROM oov))) AS ce,
       |    sum(tc.cnt) AS n
       |  FROM tc LEFT JOIN lp ON tc.token = lp.t GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(sc.ce, 0) AS BIGINT) AS ce_fix,
       |  CAST(coalesce(sc.n, 0) AS BIGINT) AS n_tokens,
       |  CASE WHEN coalesce(sc.n, 0) = 0 THEN NULL
       |    ELSE (-coalesce(sc.ce, 0)) / (coalesce(sc.n, 0) * 1048576.0)
       |  END AS cross_entropy
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB replay of Importance.ccnetBuckets: the perplexityOracle
    * per language (counts keyed by (lang, token), per-lang vocab rank
    * / denominator / OOV cell), then CCNet's tertile split as ntile
    * over (cross_entropy ASC NULLS LAST, doc_id) within language.
    */
  private def ccnetOracle(v: Int): String =
    s"""WITH rtok AS (
       |  SELECT lang, unnest($toks) AS t FROM documents),
       |cnts AS (SELECT lang, t, count(*) AS c FROM rtok GROUP BY 1, 2),
       |vocab AS (
       |  SELECT lang, t, c FROM (
       |    SELECT lang, t, c, row_number() OVER (PARTITION BY lang
       |      ORDER BY c DESC, t) AS rk
       |    FROM cnts) WHERE rk <= $v),
       |denom AS (
       |  SELECT tot.lang,
       |    CAST(tot.tc + vsz.vc + 1 AS DOUBLE) AS d
       |  FROM (SELECT lang, sum(c) AS tc FROM cnts GROUP BY 1) tot
       |  JOIN (SELECT lang, count(*) AS vc FROM vocab GROUP BY 1) vsz
       |    USING (lang)),
       |lp AS (
       |  SELECT vocab.lang, vocab.t,
       |    CAST(floor(ln(CAST(c + 1 AS DOUBLE) / denom.d)
       |      * 1048576.0) AS BIGINT) AS lp
       |  FROM vocab JOIN denom ON vocab.lang = denom.lang),
       |oov AS (
       |  SELECT lang, CAST(floor(ln(1.0 / d) * 1048576.0) AS BIGINT)
       |    AS lp
       |  FROM denom),
       |tc AS (
       |  SELECT doc_id, lang, token, count(*) AS cnt FROM (
       |    SELECT doc_id, lang, unnest($toks) AS token FROM documents)
       |  GROUP BY 1, 2, 3),
       |sc AS (
       |  SELECT tc.doc_id,
       |    sum(tc.cnt * coalesce(lp.lp, oov.lp)) AS ce,
       |    sum(tc.cnt) AS n
       |  FROM tc
       |  LEFT JOIN lp ON tc.lang = lp.lang AND tc.token = lp.t
       |  JOIN oov ON tc.lang = oov.lang
       |  GROUP BY 1),
       |scored AS (
       |  SELECT d.doc_id, d.lang,
       |    CAST(coalesce(sc.ce, 0) AS BIGINT) AS ce_fix,
       |    CAST(coalesce(sc.n, 0) AS BIGINT) AS n_tokens,
       |    CASE WHEN coalesce(sc.n, 0) = 0 THEN NULL
       |      ELSE (-coalesce(sc.ce, 0))
       |        / (coalesce(sc.n, 0) * 1048576.0)
       |    END AS cross_entropy
       |  FROM documents d LEFT JOIN sc USING (doc_id))
       |SELECT doc_id, lang, ce_fix, n_tokens, cross_entropy,
       |  CASE ntile(3) OVER (PARTITION BY lang
       |      ORDER BY cross_entropy ASC NULLS LAST, doc_id)
       |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       |  END AS bucket
       |FROM scored ORDER BY doc_id""".stripMargin

  /** DuckDB replay of Importance.trainLangId + langIdModel: one
    * histogram pass with per-language FILTER counts over hashed char
    * `g`-gram features of the normalized text, add-one-smoothed
    * fixed-point log-prob tables, per-document score sums per
    * language, argmax with ties to the lexicographically smallest
    * label — the dsirOracle pattern × |langs|.
    */
  private def langIdOracle(langs: Seq[String], dim: Int,
      g: Int): String = {
    val grams =
      s"""CASE WHEN length(nt) < $g THEN [nt]
         | ELSE list_transform(range(1, length(nt) - ${g - 2}),
         |   p -> substr(nt, CAST(p AS INT), $g))
         | END""".stripMargin
    val cCols = langs.map(l =>
      s"count(*) FILTER (lang = '$l') AS c_$l").mkString(",\n    ")
    val tCols = langs.map(l =>
      s"CAST(sum(c_$l) + $dim AS BIGINT) AS t_$l").mkString(", ")
    val fCols = langs.map(l =>
      s"""CAST(floor(ln(CAST(coalesce(hb.c_$l, 0) + 1 AS DOUBLE)
         |      / tot.t_$l) * 1048576.0) AS BIGINT) AS f_$l""".stripMargin)
      .mkString(",\n    ")
    val sCols = langs.map(l => s"sum(r.f_$l) AS s_$l").mkString(", ")
    val lList = langs.map(l => s"'$l'").mkString("[", ", ", "]")
    val sList = langs.map(l => s"s_$l").mkString("[", ", ", "]")
    s"""WITH nm AS (SELECT doc_id, lang, $norm AS nt FROM documents),
       |base AS (SELECT doc_id, lang, $grams AS gs FROM nm),
       |gall AS (SELECT doc_id, lang, unnest(gs) AS gg FROM base),
       |hb AS (
       |  SELECT ${hex60("gg")} % $dim AS b,
       |    $cCols
       |  FROM gall GROUP BY 1),
       |tot AS (SELECT $tCols FROM hb),
       |ratio AS (
       |  SELECT bb.b,
       |    $fCols
       |  FROM (SELECT unnest(range(0, $dim)) AS b) bb
       |  LEFT JOIN hb ON hb.b = bb.b CROSS JOIN tot),
       |score AS (
       |  SELECT ga.doc_id, $sCols
       |  FROM gall ga JOIN ratio r ON (${hex60("ga.gg")} % $dim) = r.b
       |  GROUP BY 1),
       |sc AS (
       |  SELECT doc_id, l AS pred_lang, s AS score_fix,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY s DESC, l) AS rk
       |  FROM (
       |    SELECT doc_id, unnest($lList) AS l, unnest($sList) AS s
       |    FROM score))
       |SELECT doc_id, pred_lang, CAST(score_fix AS BIGINT) AS score_fix
       |FROM sc WHERE rk = 1 ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of Importance.importanceWeights: gram OCCURRENCES
    * (non-distinct shingles), one FILTERed histogram pass for both
    * corpora, add-one-smoothed fixed-point log ratios per bucket
    * (floor(·2^20) — the only transcendental is ln, and a 1-ulp ln
    * divergence flips a pre-floored bucket with probability ~1e-10),
    * and the exact BIGINT score sum.
    */
  /** DuckDB replay of TextFns.bpeTrain: `n` unrolled merge rounds.
    * Words ride as marker-wrapped strings (the p_bpe_encode
    * representation); each round extracts the symbol list, zips
    * adjacent pairs, takes the (count DESC, pair) argmax, and applies
    * the winning merge with ONE literal `replace` — DuckDB's replace
    * is the same left-to-right non-overlapping pass as the Spark
    * kernel's array merge.
    */
  private def bpeTrainOracle(n: Int): String = {
    val pat = s"chr(1)||'([^'||chr(1)||chr(2)||']*)'||chr(2)"
    val steps = (0 until n).map { k =>
      s"""s$k AS (
         |  SELECT regexp_extract_all(mw, $pat, 1) AS syms FROM w$k),
         |b$k AS (
         |  SELECT pair, split_part(pair, ' ', 1) AS a,
         |    split_part(pair, ' ', 2) AS b, count(*) AS cnt
         |  FROM (
         |    SELECT unnest(list_transform(range(1, len(syms)),
         |      i -> syms[i] || ' ' || syms[i+1])) AS pair
         |    FROM s$k)
         |  GROUP BY 1, 2, 3 ORDER BY cnt DESC, pair LIMIT 1),
         |w${k + 1} AS (
         |  SELECT replace(mw,
         |    chr(1)||b$k.a||chr(2)||chr(1)||b$k.b||chr(2),
         |    chr(1)||b$k.a||b$k.b||chr(2)) AS mw
         |  FROM w$k CROSS JOIN b$k)""".stripMargin
    }.mkString(",\n")
    val out = (0 until n).map { k =>
      s"SELECT $k AS step, a AS sym_a, b AS sym_b, cnt FROM b$k"
    }.mkString("\nUNION ALL ")
    s"""WITH w0 AS (
       |  SELECT regexp_replace(w, '(.)', chr(1)||'\\1'||chr(2), 'g')
       |    AS mw
       |  FROM (SELECT unnest($toks) AS w FROM documents)),
       |$steps
       |$out
       |ORDER BY step""".stripMargin
  }

  /** One Viterbi-segmentation round as a recursive CTE (DuckDB
    * replay of graft.functions.UnigramSegment): DP state carries the
    * best (piece count, space-joined key) at the last four prefix
    * lengths; each step extends by the l=1..4 candidate pieces (l=1
    * always valid, l≥2 requires membership in `vl`'s vocab list) and
    * takes the struct-sort minimum — DuckDB sorts struct(n, k) by
    * field order with binary VARCHAR collation, identical to the
    * kernel's (Int, String.compareTo) tie-break on ASCII tokens.
    */
  private def unigramSegCte(nm: String, vl: String): String = {
    val cands = (1 to 4).map { l =>
      val bn = s"b${l - 1}n"
      val bk = s"b${l - 1}k"
      val piece = s"substr(w, p + ${2 - l}, $l)"
      val guard = if (l == 1) "TRUE"
        else s"$bn IS NOT NULL AND list_contains($vl.vs, $piece)"
      s"""CASE WHEN $guard THEN struct_pack(n := $bn + 1,
         |        k := CASE WHEN $bk = '' THEN $piece
         |          ELSE $bk || ' ' || $piece END) END""".stripMargin
    }.mkString(",\n      ")
    s"""$nm AS (
       |  SELECT w, cnt, 0 AS p, 0 AS b0n, '' AS b0k,
       |    NULL::INT AS b1n, NULL::VARCHAR AS b1k,
       |    NULL::INT AS b2n, NULL::VARCHAR AS b2k,
       |    NULL::INT AS b3n, NULL::VARCHAR AS b3k
       |  FROM words
       |  UNION ALL
       |  SELECT w, cnt, p + 1, best.n, best.k,
       |    b0n, b0k, b1n, b1k, b2n, b2k
       |  FROM (
       |    SELECT $nm.*, list_sort(list_filter([
       |      $cands
       |    ], x -> x IS NOT NULL))[1] AS best
       |    FROM $nm, $vl WHERE p < len(w)))""".stripMargin
  }

  private def unigramUseCte(nm: String, seg: String): String =
    s"""$nm AS (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS usage FROM (
       |    SELECT unnest(str_split(b0k, ' ')) AS piece, cnt
       |    FROM $seg WHERE p = len(w))
       |  GROUP BY piece)""".stripMargin

  /** DuckDB replay of TextFns.unigramTrain (2 rounds): distinct-word
    * counts → substring-weight seeding → segment/count/prune →
    * segment/count. Integer throughout; prototype cross-checked
    * against an independent Python DP implementation.
    */
  private def unigramTrainOracle(seedSize: Int,
      vocabSize: Int): String =
    s"""WITH RECURSIVE words AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest($toks) AS w FROM documents) GROUP BY w),
       |subs AS (
       |  SELECT piece, sum(cnt) AS wt FROM (
       |    SELECT substr(w, CAST(ir.i AS INT), lr.l) AS piece, cnt
       |    FROM words
       |    CROSS JOIN (VALUES (2), (3), (4)) lr(l)
       |    CROSS JOIN LATERAL unnest(range(1, len(w) - lr.l + 2)) ir(i)
       |    WHERE len(w) >= lr.l)
       |  GROUP BY piece),
       |vl1 AS (SELECT list(piece) AS vs FROM (
       |  SELECT piece FROM subs ORDER BY wt DESC, piece
       |  LIMIT $seedSize)),
       |${unigramSegCte("seg1", "vl1")},
       |${unigramUseCte("use1", "seg1")},
       |vl2 AS (SELECT list(piece) AS vs FROM (
       |  SELECT piece FROM use1 WHERE len(piece) >= 2
       |  ORDER BY usage DESC, piece LIMIT $vocabSize)),
       |${unigramSegCte("seg2", "vl2")},
       |${unigramUseCte("use2", "seg2")}
       |SELECT piece, usage FROM use2 ORDER BY piece""".stripMargin

  private def dsirOracle(dim: Int, n: Int): String = {
    val grams =
      s"""CASE WHEN len(toks) < $n
         | THEN [array_to_string(toks, ' ')]
         | ELSE list_transform(range(0, len(toks) - ${n - 1}),
         |   i -> array_to_string(list_slice(toks, i + 1, i + $n), ' '))
         | END""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id, lang, $grams AS gs
       |  FROM (SELECT doc_id, lang, $toks AS toks FROM documents)),
       |gall AS (SELECT doc_id, lang, unnest(gs) AS g FROM base),
       |hb AS (
       |  SELECT ${hex60("g")} % $dim AS b, count(*) AS c_r,
       |    count(*) FILTER (lang = 'en') AS c_t
       |  FROM gall GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(c_r) + $dim AS BIGINT) AS tr,
       |    CAST(sum(c_t) + $dim AS BIGINT) AS tt FROM hb),
       |ratio AS (
       |  SELECT bb.b,
       |    CAST(floor((ln(CAST(coalesce(hb.c_t, 0) + 1 AS DOUBLE) / tot.tt)
       |      - ln(CAST(coalesce(hb.c_r, 0) + 1 AS DOUBLE) / tot.tr))
       |      * 1048576.0) AS BIGINT) AS f
       |  FROM (SELECT unnest(range(0, $dim)) AS b) bb
       |  LEFT JOIN hb ON hb.b = bb.b CROSS JOIN tot),
       |score AS (
       |  SELECT ga.doc_id, sum(r.f) AS score_fix
       |  FROM gall ga JOIN ratio r ON (${hex60("ga.g")} % $dim) = r.b
       |  GROUP BY 1)
       |SELECT d.doc_id, CAST(s.score_fix AS BIGINT) AS score_fix,
       |  CAST(s.score_fix AS DOUBLE) / 1048576.0 AS log_weight
       |FROM documents d LEFT JOIN score s USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Word n-gram shingles over the normalized tokens — mirrors
    * `Dedup.shingles` (sequence bounds line up: Spark's inclusive
    * sequence(0, len-n) is DuckDB's exclusive range(0, len-n+1)).
    */
  private def shinglesSqlN(n: Int): String =
    s"""list_distinct(CASE WHEN len($toks) < $n
       | THEN [array_to_string($toks, ' ')]
       | ELSE list_transform(range(0, len($toks) - ${n - 1}),
       |   i -> array_to_string(list_slice($toks, i + 1, i + $n), ' '))
       | END)""".stripMargin
  private val shinglesSql = shinglesSqlN(3)

  /** `(t, p, [w...])` VALUES rows of the deterministic hyperplane
    * matrix — identical doubles to the ones baked into the Spark plan
    * (Double.toString round-trips exactly and DuckDB parses E-notation).
    */
  private def planesValues(planes: Int, tables: Int, dim: Int,
      seed: Int): String =
    HyperplaneBuckets.matrix(planes, tables, dim, seed).zipWithIndex
      .map { case (w, tp) =>
        s"(${tp / planes}, ${tp % planes}, [${w.mkString(", ")}])"
      }.mkString(", ")

  /** `(i, [w...])` VALUES rows of the deterministic IVF centroid
    * matrix (Ann.centroids) — identical doubles to the Spark plan.
    */
  private def centroidValues(k: Int, dim: Int, seed: Int): String =
    graft.pipeline.Ann.centroids(k, dim, seed).zipWithIndex
      .map { case (w, i) => s"($i, [${w.mkString(", ")}])" }
      .mkString(", ")

  /** PQ codebook VALUES rows (s, c, nrm, w): nrm is |entry|² summed
    * driver-side in index order — the identical double PqCodes bakes
    * into the plan, so the oracle never recomputes it.
    */
  private def pqBookValues(m: Int, ks: Int, subDim: Int,
      seed: Int): String =
    graft.pipeline.Ann.pqBooks(m, ks, subDim, seed).zipWithIndex
      .flatMap { case (book, s) =>
        book.zipWithIndex.map { case (w, c) =>
          var n = 0.0d
          var j = 0
          while (j < w.length) { n += w(j) * w(j); j += 1 }
          s"($s, $c, $n, [${w.mkString(", ")}])"
        }
      }.mkString(", ")

  /** Bucket id of vector list `vref` against the planes CTE rows of
    * one table: sum of 2^p over planes with positive dot product.
    */
  private def bucketExpr(vref: String) =
    s"""CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65),
       |  i -> $vref[i] * pl.w[i])) > 0
       |  THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT)""".stripMargin

  /** DuckDB replay of Cluster.kmeans: unrolled assignment/update CTEs.
    * Assignment mirrors d = |c|² − 2·v·c with ties to the smaller id;
    * updates mirror the exact fixed-point sums and the single IEEE
    * division, so every iteration's centroids are bit-identical to the
    * ones Spark bakes into its next assignment pass.
    */
  private def kmeansCtes(k: Int, iters: Int, dim: Int,
      seed: Int): String = {
    val dp = dim + 1
    def assignCte(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT vec_id, ci AS c FROM (
         |    SELECT e.vec_id, c.ci,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_sum(list_transform(range(1, $dp),
         |          i -> c.w[i] * c.w[i]))
         |        - 2 * list_sum(list_transform(range(1, $dp),
         |          i -> e.v[i] * c.w[i])) ASC,
         |        c.ci ASC) AS rk
         |    FROM emb e CROSS JOIN $cents c) WHERE rk = 1)""".stripMargin
    def updateCtes(t: Int): String =
      s"""u$t AS (
         |  SELECT a.c AS ci, ii.i AS i,
         |    sum(CAST(floor(e.v[ii.i] * 1048576.0) AS BIGINT)) AS s
         |  FROM a$t a JOIN emb e USING (vec_id)
         |  CROSS JOIN (SELECT unnest(range(1, $dp)) AS i) ii
         |  GROUP BY 1, 2),
         |n$t AS (SELECT c AS ci, count(*) AS n FROM a$t GROUP BY 1),
         |w$t AS (
         |  SELECT ci, list(CAST(s AS DOUBLE) ORDER BY i) AS sl
         |  FROM u$t GROUP BY ci),
         |cents${t + 1} AS (
         |  SELECT c0.ci,
         |    CASE WHEN w.ci IS NULL THEN c0.w
         |    ELSE list_transform(w.sl, s -> s / (n.n * 1048576.0))
         |    END AS w
         |  FROM cents$t c0 LEFT JOIN w$t w USING (ci)
         |  LEFT JOIN n$t n USING (ci))""".stripMargin
    val rounds = (0 until iters - 1).map { t =>
      assignCte(s"a$t", s"cents$t") + ",\n" + updateCtes(t)
    }
    val last = assignCte(s"a${iters - 1}", s"cents${iters - 1}")
    s"""cents0(ci, w) AS (VALUES ${centroidValues(k, dim, seed)}),
       |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |${(rounds :+ last).mkString(",\n")}""".stripMargin
  }

  private def kmeansOracle(k: Int, iters: Int, dim: Int,
      seed: Int): String =
    s"""WITH ${kmeansCtes(k, iters, dim, seed)}
       |SELECT vec_id, CAST(c AS INT) AS cluster,
       |  count(*) OVER (PARTITION BY c) AS cluster_size
       |FROM a${iters - 1} ORDER BY vec_id""".stripMargin

  /** DuckDB replay of Cluster.semDedup: kmeans assignment CTEs, the
    * literal-plane sub-bucket, and the within-cell keep-smallest-id
    * cosine prune. The cosine mirrors Spark's expression exactly —
    * ordered list-sum dot over sqrt-of-ordered-list-sum norms, one
    * division — and the threshold compares in floor(·10^6) fixed
    * point, so the dup decision is bit-replayable.
    */
  private def semDedupOracle(k: Int, iters: Int, dim: Int, seed: Int,
      planes: Int, planeSeed: Int, thFix: Long): String = {
    val dp = dim + 1
    def cos(l: String, r: String): String =
      s"""(list_sum(list_transform(range(1, $dp), i -> $l.v[i] * $r.v[i]))
         | / (sqrt(list_sum(list_transform(range(1, $dp),
         |      i -> $l.v[i] * $l.v[i])))
         |  * sqrt(list_sum(list_transform(range(1, $dp),
         |      i -> $r.v[i] * $r.v[i])))))""".stripMargin
    s"""WITH ${kmeansCtes(k, iters, dim, seed)},
       |planes(t, p, w) AS (VALUES ${planesValues(planes, 1, dim,
            planeSeed)}),
       |withb AS (
       |  SELECT a.vec_id, a.c AS cluster, ${bucketExpr("e.v")} AS bucket
       |  FROM a${iters - 1} a JOIN emb e USING (vec_id)
       |  CROSS JOIN planes pl
       |  GROUP BY a.vec_id, a.c),
       |dups AS (
       |  SELECT DISTINCT l.vec_id AS vid
       |  FROM withb l
       |  JOIN withb r ON l.cluster = r.cluster AND l.bucket = r.bucket
       |    AND l.vec_id > r.vec_id
       |  JOIN emb el ON el.vec_id = l.vec_id
       |  JOIN emb er ON er.vec_id = r.vec_id
       |  WHERE floor(${cos("el", "er")} * 1e6) >= $thFix)
       |SELECT w.vec_id, CAST(w.cluster AS INT) AS cluster,
       |  (d.vid IS NOT NULL) AS is_dup
       |FROM withb w LEFT JOIN dups d ON w.vec_id = d.vid
       |ORDER BY vec_id""".stripMargin
  }

  /** Prefix-named signature pipeline over a documents subset (mirrors
    * sigCtes' base→bands stages; requires a shared `perms` CTE in
    * scope). k=32 in 8 bands of 4, like the batch dedup gates.
    */
  private def sigCtesFor(p: String, where: String): String =
    s"""${p}base AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents $where),
       |${p}hsx AS (
       |  SELECT doc_id, sh,
       |    list_transform(sh, s -> ${hash60("s")}) AS hs
       |  FROM ${p}base),
       |${p}sigl AS (
       |  SELECT doc_id, p.i,
       |    list_min(list_transform(hs, h -> (h * p.a + p.b) % 2147483647))
       |      AS v
       |  FROM ${p}hsx, perms p),
       |${p}sigs AS (
       |  SELECT s.doc_id, b.sh, list(s.v ORDER BY s.i) AS sig
       |  FROM ${p}sigl s JOIN ${p}base b USING (doc_id)
       |  GROUP BY s.doc_id, b.sh),
       |${p}bands AS (
       |  SELECT doc_id, bb.band, md5(array_to_string(
       |    list_transform(list_slice(sig, bb.band * 4 + 1, bb.band * 4 + 4),
       |      x -> CAST(x AS VARCHAR)), '|')) AS bucket
       |  FROM ${p}sigs, (SELECT unnest(range(0, 8)) AS band) bb)"""
      .stripMargin

  /** DuckDB replay of Pca.fit + project: moments as exact 1e-6
    * fixed-point integer sums (VecMomentSums), covariance entries in
    * the driver's exact expression order (m/n - (s_j/n)·(s_k/n)),
    * all 12 power steps as a recursive CTE over a DOUBLE[64] state
    * with DECIMAL(28,12)-pinned matvec/norm reductions, projection
    * with DECIMAL(18,8) addends — each step numerically identical to
    * the Scala driver's BigDecimal/IEEE sequence.
    */
  private lazy val pcaOracle: String = {
    val dim = 64
    // exact 1e-6 fixed-point addends (floor(x·1e6 + 0.5), pure IEEE)
    // summed as integers — VecMomentSums' arithmetic verbatim
    val sums = (0 until dim).map(j =>
      s"CAST(sum(CAST(floor(v[${j + 1}] * 1000000.0 + 0.5) " +
        s"AS BIGINT)) AS DOUBLE) / 1000000.0 AS s_$j")
    val moms = for (j <- 0 until dim; k <- j until dim) yield
      s"CAST(sum(CAST(floor(v[${j + 1}] * v[${k + 1}] * 1000000.0 " +
        s"+ 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS m_${j}_$k"
    val covRows = (0 until dim).map { j =>
      (0 until dim).map { k =>
        val (a, b) = if (j <= k) (j, k) else (k, j)
        s"m_${a}_$b / n - (s_$j / n) * (s_$k / n)"
      }.mkString("[", ", ", "]")
    }.mkString("[", ", ", "]")
    val muList = (0 until dim).map(j => s"s_$j / n")
      .mkString("[", ", ", "]")
    val start = Seq.fill(dim)("0.125").mkString("[", ", ", "]")
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |mom AS (
       |  SELECT count(*) AS n, ${(sums ++ moms).mkString(", ")}
       |  FROM e),
       |cm AS (SELECT n, $covRows AS C, $muList AS MU FROM mom),
       |it AS (
       |  SELECT 0 AS t, $start::DOUBLE[] AS v
       |  UNION ALL
       |  SELECT t + 1,
       |    list_transform(range(1, ${dim + 1}), i -> tt[i] / nrm)
       |  FROM (
       |    SELECT t, tt,
       |      sqrt(CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |        i -> CAST(tt[i] * tt[i] AS DECIMAL(28,12))))
       |        AS DOUBLE)) AS nrm
       |    FROM (
       |      SELECT it.t AS t,
       |        list_transform(range(1, ${dim + 1}), i ->
       |          CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |            j -> CAST(C[i][j] * it.v[j] AS DECIMAL(28,12))))
       |            AS DOUBLE)) AS tt
       |      FROM it, cm WHERE it.t < 12)))
       |SELECT e.vec_id,
       |  CAST(list_sum(list_transform(range(1, ${dim + 1}), j ->
       |    CAST(CAST((e.v[j] - cm.MU[j]) * f.v[j] AS DECIMAL(18,8))
       |      * 100000000 AS BIGINT))) AS DOUBLE) / 100000000.0 AS proj
       |FROM e, cm, (SELECT v FROM it WHERE t = 12) f
       |ORDER BY e.vec_id""".stripMargin
  }

  /** DuckDB replay of Pca.fitK(k=2) + both projections: the p_pca
    * oracle's moment/covariance/power-iteration machinery, then
    * λ = vᵀCv (decimal-pinned Rayleigh quotient), Hotelling deflation
    * C − λ·v·vᵀ in the driver's exact entry order, and a SECOND
    * recursive power chain over the deflated matrix.
    */
  private lazy val pca2Oracle: String = {
    val dim = 64
    val d1 = dim + 1
    val sums = (0 until dim).map(j =>
      s"CAST(sum(CAST(floor(v[${j + 1}] * 1000000.0 + 0.5) " +
        s"AS BIGINT)) AS DOUBLE) / 1000000.0 AS s_$j")
    val moms = for (j <- 0 until dim; k <- j until dim) yield
      s"CAST(sum(CAST(floor(v[${j + 1}] * v[${k + 1}] * 1000000.0 " +
        s"+ 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS m_${j}_$k"
    val covRows = (0 until dim).map { j =>
      (0 until dim).map { k =>
        val (a, b) = if (j <= k) (j, k) else (k, j)
        s"m_${a}_$b / n - (s_$j / n) * (s_$k / n)"
      }.mkString("[", ", ", "]")
    }.mkString("[", ", ", "]")
    val muList = (0 until dim).map(j => s"s_$j / n")
      .mkString("[", ", ", "]")
    val start = Seq.fill(dim)("0.125").mkString("[", ", ", "]")
    def chain(c: Int): String = {
      val cm = if (c == 0) "cm" else s"cm$c"
      s"""it$c AS (
         |  SELECT 0 AS t, $start::DOUBLE[] AS v
         |  UNION ALL
         |  SELECT t + 1,
         |    list_transform(range(1, $d1), i -> tt[i] / nrm)
         |  FROM (
         |    SELECT t, tt,
         |      sqrt(CAST(list_sum(list_transform(range(1, $d1),
         |        i -> CAST(tt[i] * tt[i] AS DECIMAL(28,12))))
         |        AS DOUBLE)) AS nrm
         |    FROM (
         |      SELECT it$c.t AS t,
         |        list_transform(range(1, $d1), i ->
         |          CAST(list_sum(list_transform(range(1, $d1),
         |            j -> CAST($cm.C[i][j] * it$c.v[j]
         |              AS DECIMAL(28,12)))) AS DOUBLE)) AS tt
         |      FROM it$c, $cm WHERE it$c.t < 12))),
         |f$c AS (SELECT v FROM it$c WHERE t = 12),
         |t$c AS (
         |  SELECT list_transform(range(1, $d1), i ->
         |    CAST(list_sum(list_transform(range(1, $d1),
         |      j -> CAST($cm.C[i][j] * f$c.v[j] AS DECIMAL(28,12))))
         |      AS DOUBLE)) AS tv
         |  FROM $cm, f$c),
         |lam$c AS (
         |  SELECT CAST(list_sum(list_transform(range(1, $d1), i ->
         |    CAST(f$c.v[i] * t$c.tv[i] AS DECIMAL(28,12))))
         |    AS DOUBLE) AS l
         |  FROM f$c, t$c),
         |cm${c + 1} AS (
         |  SELECT list_transform(range(1, $d1), i ->
         |    list_transform(range(1, $d1), j ->
         |      $cm.C[i][j] - lam$c.l * f$c.v[i] * f$c.v[j])) AS C
         |  FROM $cm, f$c, lam$c)""".stripMargin
    }
    def proj(c: Int, as: String): String =
      s"""CAST(list_sum(list_transform(range(1, $d1), j ->
         |    CAST(CAST((e.v[j] - cm.MU[j]) * f$c.v[j] AS DECIMAL(18,8))
         |      * 100000000 AS BIGINT))) AS DOUBLE) / 100000000.0
         |    AS $as""".stripMargin
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |mom AS (
       |  SELECT count(*) AS n, ${(sums ++ moms).mkString(", ")}
       |  FROM e),
       |cm AS (SELECT n, $covRows AS C, $muList AS MU FROM mom),
       |${chain(0)},
       |${chain(1)}
       |SELECT e.vec_id,
       |  ${proj(0, "proj1")},
       |  ${proj(1, "proj2")}
       |FROM e, cm, f0, f1
       |ORDER BY e.vec_id""".stripMargin
  }

  /** DuckDB replay of Sampling.split: the hash fraction is the first
    * 15 md5 hex digits as an exact BIGINT over 16^15, and the interval
    * bounds are the IDENTICAL doubles Spark's plan computes (same
    * Scala arithmetic, embedded as literals via Double round-trip).
    */
  private def splitOracle(seed: Int,
      splits: Seq[(String, Double)],
      keyExpr: String = "CAST(doc_id AS VARCHAR)",
      extraSel: String = ""): String = {
    val total = splits.map(_._2).sum
    val bounds = splits.scanLeft(0.0) { case (a, (_, w)) =>
      a + w / total
    }.tail
    val caseExpr = splits.zip(bounds).init.foldRight(
      s"'${splits.last._1}'") { case (((nm, _), b), acc) =>
      s"CASE WHEN frac < $b THEN '$nm' ELSE $acc END"
    }
    s"""WITH f AS (
       |  SELECT doc_id,$extraSel
       |    CAST(CAST(list_sum(list_transform(range(1, 16), i ->
       |      (strpos('0123456789abcdef', substr(
       |        md5($keyExpr || ':$seed'), i, 1)) - 1)
       |        * ($pow16)[i])) AS BIGINT) AS DOUBLE)
       |      / 1152921504606846976.0 AS frac
       |  FROM documents),
       |sp AS (SELECT doc_id,$extraSel $caseExpr AS split FROM f)
       |SELECT doc_id,$extraSel split,
       |  count(*) OVER (PARTITION BY split) AS split_n
       |FROM sp ORDER BY doc_id""".stripMargin
  }

  /** Quality-score CTE body shared by p_quality and p_curate: SELECT
    * doc_id, text, quality FROM `src`.
    */
  private def qualitySql(src: String): String =
    s"""SELECT doc_id, text, round(
       |  least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.3 +
       |  (CASE WHEN n_toks > 0 AND nc / n_toks BETWEEN 3 AND 12
       |     THEN 1.0 ELSE 0.3 END) * 0.3 +
       |  (CASE WHEN nc = 0 OR np / nc <= 0.1 THEN 1.0 ELSE 0.5 END) * 0.2 +
       |  least(sr * 4, 1.0) * 0.2, 6) AS quality
       |FROM (
       |  SELECT doc_id, text,
       |    CAST(length(text) AS DOUBLE) AS nc,
       |    CAST(len(list_filter(str_split_regex(text, '\\s+'),
       |      x -> x <> '')) AS DOUBLE) AS n_toks,
       |    CAST(length(text) - length(regexp_replace(text,
       |      '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) AS np,
       |    CASE WHEN len($toksU) > 0
       |      THEN CAST(${swCountU(en)} AS DOUBLE) / len($toksU)
       |      ELSE 0.0 END AS sr
       |  FROM $src)""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    "p_keywords" ->
      s"""WITH tc AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($toks) AS token FROM documents)
         |  GROUP BY 1, 2),
         |vocab AS (SELECT token, count(*) AS df FROM tc GROUP BY 1)
         |SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, df FROM (
         |  SELECT tc.doc_id, tc.token, tc.tf, v.df,
         |    row_number() OVER (PARTITION BY tc.doc_id
         |      ORDER BY CAST(tc.tf AS DOUBLE) / v.df DESC, tc.token)
         |      AS rank
         |  FROM tc JOIN vocab v USING (token))
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "p_bpe_train" -> bpeTrainOracle(4),
    "p_unigram_train" -> unigramTrainOracle(120, 80),
    "p_lang_model" -> langIdOracle(LangModelLangs, 256, 3),
    "p_gopher" ->
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    list_filter(str_split_regex(text, '\\s+'), x -> x <> '')
         |      AS ws,
         |    list_filter(str_split(text, chr(10)),
         |      x -> trim(x) <> '') AS ls
         |  FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g'))
         |      AS BIGINT) AS sum_len,
         |    CAST(length(text) - length(replace(text, '#', ''))
         |      AS BIGINT) AS hashc,
         |    CAST(length(text) - length(replace(text, '...', ''))
         |      AS BIGINT) AS td,
         |    CAST(len(list_filter(ws,
         |      w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS aw,
         |    CAST(len(ls) AS BIGINT) AS nl,
         |    CAST(len(list_filter(ls, l ->
         |      starts_with(ltrim(l), '- ') OR
         |      starts_with(ltrim(l), '* ') OR
         |      starts_with(ltrim(l), '•'))) AS BIGINT) AS bl,
         |    CAST(len(list_filter(ls, l ->
         |      ends_with(rtrim(l), '...') OR
         |      ends_with(rtrim(l), '…'))) AS BIGINT) AS el,
         |    len(list_intersect(list_distinct($toks),
         |      ['the','be','to','of','and','that','have','with']))
         |      AS sw
         |  FROM base)
         |SELECT doc_id, n AS n_words,
         |  (n >= 50 AND n <= 100000) AS ok_words,
         |  (n > 0 AND sum_len >= n*3 AND sum_len <= n*10)
         |    AS ok_mean_len,
         |  (hashc*30 + td*10 <= n*3) AS ok_symbols,
         |  (aw*5 >= n*4) AS ok_alpha,
         |  (bl*10 <= nl*9) AS ok_bullets,
         |  (el*10 <= nl*3) AS ok_ellipsis,
         |  (sw >= 2) AS ok_stopwords,
         |  ((n >= 50 AND n <= 100000)
         |    AND (n > 0 AND sum_len >= n*3 AND sum_len <= n*10)
         |    AND (hashc*30 + td*10 <= n*3) AND (aw*5 >= n*4)
         |    AND (bl*10 <= nl*9) AND (el*10 <= nl*3)
         |    AND (sw >= 2)) AS keep
         |FROM c ORDER BY doc_id""".stripMargin,
    "p_dup_spans" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
         |g AS (
         |  -- window index is `p`, NOT `i`: hex60's fold lambda binds
         |  -- `i`, which would capture an outer `i` (found the hard
         |  -- way: every doc collapsed to one all-covering span)
         |  SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
         |    ${hex60("array_to_string(list_slice(toks, p, p + 7), ' ')")}
         |      AS h
         |  FROM (SELECT doc_id, toks,
         |          unnest(range(1, len(toks) - 6)) AS p
         |        FROM tk WHERE len(toks) >= 8)),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
         |m AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
         |r AS (SELECT doc_id, pos,
         |        pos - row_number() OVER (PARTITION BY doc_id
         |          ORDER BY pos) AS grp
         |      FROM m)
         |SELECT doc_id, min(pos) AS start_tok, max(pos) + 7 AS end_tok,
         |  count(*) AS n_grams
         |FROM r GROUP BY doc_id, grp
         |ORDER BY doc_id, start_tok""".stripMargin,
    "p_postings" ->
      s"""WITH tc AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($toks) AS token FROM documents)
         |  GROUP BY 1, 2),
         |vocab AS (
         |  SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
         |  FROM tc GROUP BY 1 HAVING count(*) >= 2),
         |r AS (
         |  SELECT token, doc_id, tf,
         |    row_number() OVER (PARTITION BY token
         |      ORDER BY tf DESC, doc_id) AS rk
         |  FROM tc)
         |SELECT r.token, v.df, v.cf, CAST(r.rk AS INT) AS rk,
         |  r.doc_id, r.tf
         |FROM r JOIN vocab v USING (token)
         |WHERE r.rk <= 5 ORDER BY token, rk""".stripMargin,
    "p_kmeans" -> kmeansOracle(8, 3, 64, 2026),
    "p_balanced" ->
      s"""WITH ${kmeansCtes(8, 3, 64, 2026)}
         |SELECT vec_id, CAST(c AS INT) AS cluster FROM (
         |  SELECT vec_id, c, row_number() OVER (PARTITION BY c
         |    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':11'), vec_id)
         |    AS rn
         |  FROM a2) WHERE rn <= 30 ORDER BY vec_id""".stripMargin,
    "p_sem_dedup" -> semDedupOracle(8, 2, 64, 2026, 6, 77, 300000L),
    "p_dsir" -> dsirOracle(256, 2),
    "p_quality_train" -> logregOracle(32, 2, "0.5"),
    "p_perplexity" -> perplexityOracle(512),
    "p_ccnet" -> ccnetOracle(256),
    "p_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(regexp_extract(
        |      lower('https://www.' || source || '.example.org/' ||
        |        lang || '/' || CAST(doc_id AS VARCHAR)),
        |      '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1),
        |      '^www\.', '') AS domain
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, domain, n_chars,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM u)
        |SELECT doc_id, domain, n_chars FROM r
        |WHERE rk <= 10 ORDER BY doc_id""".stripMargin,
    "p_split" -> splitOracle(11, SplitSpec),
    "p_pack" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(str_split_regex(text, '\s+'), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, toks, unnest(range(0,
        |    greatest(CAST(ceil(CAST(len(toks) - 32 AS DOUBLE) / 32)
        |      AS INT), 0) + 1)) AS idx
        |  FROM t),
        |c AS (
        |  SELECT doc_id, idx,
        |    len(list_slice(toks, idx * 32 + 1, idx * 32 + 32)) AS nt
        |  FROM w),
        |p AS (
        |  SELECT doc_id, idx, nt, CAST(0 AS BIGINT) AS bin,
        |    CAST(nt AS BIGINT) AS acc
        |  FROM c WHERE idx = 0
        |  UNION ALL
        |  SELECT c.doc_id, c.idx, c.nt,
        |    CASE WHEN p.acc > 0 AND p.acc + c.nt > 80
        |      THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.acc > 0 AND p.acc + c.nt > 80
        |      THEN CAST(c.nt AS BIGINT) ELSE p.acc + c.nt END
        |  FROM c JOIN p ON c.doc_id = p.doc_id AND c.idx = p.idx + 1)
        |SELECT doc_id, idx, CAST(nt AS BIGINT) AS n_tokens, bin
        |FROM p ORDER BY doc_id, idx""".stripMargin,
    "p_repeats" ->
      s"""SELECT h, n_docs, example_id FROM (
         |  SELECT h, count(*) AS n_docs, min(doc_id) AS example_id
         |  FROM (
         |    SELECT DISTINCT doc_id, ${hash60("s")} AS h FROM (
         |      SELECT doc_id, unnest(${shinglesSqlN(5)}) AS s
         |      FROM documents))
         |  GROUP BY h)
         |WHERE n_docs >= 2
         |ORDER BY n_docs DESC, h LIMIT 300""".stripMargin,
    "p_incr_dedup" ->
      s"""WITH perms(i, a, b) AS (VALUES $permValues),
         |${sigCtesFor("i_", "WHERE doc_id % 10 = 7 AND doc_id < 5000")},
         |${sigCtesFor("c_", "WHERE doc_id % 10 <> 7")},
         |capped AS (
         |  SELECT doc_id, band, bucket FROM (
         |    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS n
         |    FROM c_bands) WHERE n <= 1000),
         |cand AS (
         |  SELECT DISTINCT i.doc_id AS new_id, c.doc_id AS corpus_id
         |  FROM i_bands i JOIN capped c USING (band, bucket)),
         |vp AS (
         |  SELECT cand.new_id, cand.corpus_id FROM cand
         |  JOIN i_base b1 ON cand.new_id = b1.doc_id
         |  JOIN c_base b2 ON cand.corpus_id = b2.doc_id
         |  WHERE CAST(len(list_intersect(b1.sh, b2.sh)) AS DOUBLE) /
         |    len(list_distinct(b1.sh || b2.sh)) >= 0.8)
         |SELECT d.doc_id, coalesce(p.n_dups, 0) AS n_dups,
         |  coalesce(p.first_dup, -1) AS first_dup
         |FROM (SELECT doc_id FROM documents
         |      WHERE doc_id % 10 = 7 AND doc_id < 5000) d
         |LEFT JOIN (SELECT new_id AS doc_id, count(*) AS n_dups,
         |  min(corpus_id) AS first_dup FROM vp GROUP BY 1) p
         |  USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "p_curate" ->
      s"""WITH q AS (
         |  ${qualitySql("documents WHERE doc_id >= 250")}),
         |qf AS (SELECT * FROM q WHERE quality >= 0.55),
         |dd AS (
         |  SELECT doc_id, text, quality FROM (
         |    SELECT *, row_number() OVER (PARTITION BY md5($norm)
         |      ORDER BY doc_id) AS rn FROM qf) WHERE rn = 1),
         |trg AS (
         |  SELECT DISTINCT doc_id, ${hash60("s")} AS h FROM (
         |    SELECT doc_id, unnest(${shinglesSqlN(3)}) AS s FROM dd)),
         |trf AS (
         |  SELECT doc_id, h FROM (
         |    SELECT *, count(*) OVER (PARTITION BY h) AS f FROM trg)
         |  WHERE f <= least(1000, CAST(ceil(0.001 *
         |    (SELECT count(*) FROM dd)) AS BIGINT))),
         |teg AS (
         |  SELECT DISTINCT doc_id, ${hash60("s")} AS h FROM (
         |    SELECT doc_id, unnest($shinglesSql) AS s
         |    FROM documents WHERE doc_id < 250)),
         |bad AS (
         |  SELECT train_id AS doc_id FROM (
         |    SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
         |      count(*) AS nc
         |    FROM teg te JOIN trf tr USING (h) GROUP BY 1, 2)
         |  WHERE nc >= 2 GROUP BY 1)
         |SELECT doc_id, quality,
         |  CAST(greatest(CAST(ceil(CAST(len(list_filter(
         |      str_split_regex(text, '\\s+'), x -> x <> '')) - 64
         |      AS DOUBLE) / 48) AS INT), 0) + 1 AS BIGINT) AS n_chunks
         |FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id""".stripMargin,
    "p_dup_groups" ->
      s"""WITH RECURSIVE $sigCtes,
         |edges AS (
         |  SELECT id1, id2 FROM vpairs WHERE id1 < 500 OR id2 < 500
         |  UNION SELECT id2, id1 FROM vpairs
         |  WHERE id1 < 500 OR id2 < 500),
         |reach(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.id2, r.comp FROM reach r JOIN edges e ON e.id1 = r.id),
         |comps AS (
         |  SELECT id AS doc_id, min(comp) AS comp FROM reach GROUP BY id)
         |SELECT doc_id, comp,
         |  count(*) OVER (PARTITION BY comp) AS group_size
         |FROM comps ORDER BY doc_id""".stripMargin,
    "p_doc_freq" ->
      s"""WITH tf AS (
         |  SELECT token, count(*) AS tf FROM (
         |    SELECT unnest($toks) AS token FROM documents)
         |  GROUP BY 1),
         |dfq AS (
         |  SELECT token, count(*) AS df FROM (
         |    SELECT doc_id, unnest(list_distinct($toks)) AS token
         |    FROM documents)
         |  GROUP BY 1)
         |SELECT t.token, t.tf, d.df
         |FROM tf t JOIN dfq d USING (token)
         |ORDER BY df DESC, token LIMIT 200""".stripMargin,
    "p_contamination" ->
      s"""WITH tr AS (
         |  SELECT DISTINCT doc_id AS train_id, ${hash60("s")} AS h FROM (
         |    SELECT doc_id, unnest(${shinglesSqlN(8)}) AS s
         |    FROM documents WHERE doc_id >= 250)),
         |trf AS (
         |  SELECT train_id, h FROM (
         |    SELECT *, count(*) OVER (PARTITION BY h) AS f FROM tr)
         |  WHERE f <= 1000),
         |te AS (
         |  SELECT DISTINCT doc_id AS test_id, ${hash60("s")} AS h FROM (
         |    SELECT doc_id, unnest(${shinglesSqlN(8)}) AS s
         |    FROM documents WHERE doc_id < 250))
         |SELECT test_id, train_id, count(*) AS n_common
         |FROM te JOIN trf USING (h)
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY n_common DESC, test_id, train_id LIMIT 500""".stripMargin,
    "p_contamination_frac" ->
      s"""WITH tr AS (
         |  SELECT DISTINCT doc_id AS train_id, ${hash60("s")} AS h FROM (
         |    SELECT doc_id, unnest(${shinglesSqlN(8)}) AS s
         |    FROM documents WHERE doc_id >= 250)),
         |trf AS (
         |  SELECT train_id, h FROM (
         |    SELECT *, count(*) OVER (PARTITION BY h) AS f FROM tr)
         |  WHERE f <= least(1000, CAST(ceil(0.001 *
         |    (SELECT count(*) FROM documents WHERE doc_id >= 250))
         |    AS BIGINT))),
         |te AS (
         |  SELECT DISTINCT doc_id AS test_id, ${hash60("s")} AS h FROM (
         |    SELECT doc_id, unnest(${shinglesSqlN(8)}) AS s
         |    FROM documents WHERE doc_id < 250))
         |SELECT test_id, train_id, count(*) AS n_common
         |FROM te JOIN trf USING (h)
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY n_common DESC, test_id, train_id LIMIT 500""".stripMargin,
    "p_redact" ->
      """WITH pii AS (
        |  SELECT doc_id, text || ' reach user' || doc_id ||
        |    '@example' || (doc_id % 5) || '.org or 555-' ||
        |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |    ' ip 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) AS t
        |  FROM documents),
        |r1 AS (SELECT doc_id,
        |  regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
        |    '<EMAIL>', 'g') AS t1,
        |  len(regexp_extract_all(t,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS c1
        |  FROM pii),
        |r2 AS (SELECT doc_id,
        |  regexp_replace(t1, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS t2,
        |  c1, len(regexp_extract_all(t1, '\b\d{3}-\d{3}-\d{4}\b')) AS c2
        |  FROM r1),
        |r3 AS (SELECT doc_id,
        |  regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
        |    '<IP>', 'g') AS t3,
        |  c1, c2, len(regexp_extract_all(t2,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS c3
        |  FROM r2)
        |SELECT doc_id, md5(t3) AS rhash, c1 + c2 + c3 AS n_pii
        |FROM r3 ORDER BY doc_id""".stripMargin,
    "p_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(str_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, toks, unnest(range(0,
        |    greatest(CAST(ceil(CAST(len(toks) - 64 AS DOUBLE) / 48)
        |      AS INT), 0) + 1)) AS idx
        |  FROM t)
        |SELECT doc_id, idx,
        |  len(list_slice(toks, idx * 48 + 1, idx * 48 + 64)) AS n_tokens,
        |  md5(array_to_string(
        |    list_slice(toks, idx * 48 + 1, idx * 48 + 64), ' ')) AS chunk_hash
        |FROM w ORDER BY doc_id, idx""".stripMargin,
    "p_llm_match" ->
      """SELECT c_custkey AS custkey, c_name AS name,
        |  c_acctbal AS acctbal
        |FROM customer ORDER BY custkey""".stripMargin,
    "p_llm_extract" ->
      """SELECT doc_id,
        |  coalesce(regexp_extract(text, '\d+(\.\d+)?'), '') AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p_exact_dedup" ->
      s"""SELECT md5($norm) AS h, min(doc_id) AS keep_id,
         |  count(*) AS n_dups
         |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    "p_text_stats" ->
      s"""SELECT doc_id,
         |  len(list_filter(str_split_regex(text, '\\s+'), x -> x <> ''))
         |    AS n_tokens,
         |  length(text) - length(regexp_replace(text,
         |    '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS n_punct,
         |  CASE WHEN len($toksU) > 0
         |    THEN CAST(${swCountU(en)} AS DOUBLE) / len($toksU)
         |    ELSE 0.0 END AS stop_ratio,
         |  md5($norm) AS chash
         |FROM documents ORDER BY doc_id""".stripMargin,
    "p_lang_id" ->
      s"""SELECT doc_id,
         |  CASE
         |    WHEN greatest(${swCountU(en)}, ${swCountU(de)}, ${swCountU(fr)}) = 0
         |      THEN 'und'
         |    WHEN ${swCountU(en)} >= ${swCountU(de)}
         |      AND ${swCountU(en)} >= ${swCountU(fr)} THEN 'en'
         |    WHEN ${swCountU(de)} >= ${swCountU(fr)} THEN 'de'
         |    ELSE 'fr' END AS lang_guess
         |FROM documents ORDER BY doc_id""".stripMargin,
    "p_quality" ->
      s"""SELECT doc_id, round(
         |  least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |  (CASE WHEN n_toks > 0 AND nc / n_toks BETWEEN 3 AND 12
         |     THEN 1.0 ELSE 0.3 END) * 0.3 +
         |  (CASE WHEN nc = 0 OR np / nc <= 0.1 THEN 1.0 ELSE 0.5 END) * 0.2 +
         |  least(sr * 4, 1.0) * 0.2, 6) AS quality
         |FROM (
         |  SELECT doc_id,
         |    CAST(length(text) AS DOUBLE) AS nc,
         |    CAST(len(list_filter(str_split_regex(text, '\\s+'),
         |      x -> x <> '')) AS DOUBLE) AS n_toks,
         |    CAST(length(text) - length(regexp_replace(text,
         |      '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) AS np,
         |    CASE WHEN len($toksU) > 0
         |      THEN CAST(${swCountU(en)} AS DOUBLE) / len($toksU)
         |      ELSE 0.0 END AS sr
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "p_minhash" ->
      s"""WITH $sigCtes
         |SELECT s.doc_id, s.sig[1] AS minhash0,
         |  coalesce(p.n_dups, 0) AS n_dups
         |FROM sigs s LEFT JOIN (
         |  SELECT did AS doc_id, count(*) AS n_dups FROM (
         |    SELECT id1 AS pid, id2 AS did FROM vpairs WHERE id1 < 500
         |    UNION ALL
         |    SELECT id2, id1 FROM vpairs WHERE id2 < 500) u
         |  GROUP BY 1) p USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "p_simhash" ->
      s"""WITH $simhashChunkCtes,
         |spairs AS (
         |  SELECT DISTINCT l.doc_id AS pid, r.doc_id AS did,
         |    l.fp AS fp1, r.fp AS fp2
         |  FROM chunks l JOIN chunks r
         |    ON l.chunk = r.chunk AND l.val = r.val
         |    AND l.doc_id <> r.doc_id
         |  WHERE l.doc_id < 500),
         |neardup AS (
         |  SELECT did FROM spairs
         |  WHERE list_sum(list_transform(range(1, 65),
         |    i -> CASE WHEN substr(fp1, i, 1) = substr(fp2, i, 1)
         |      THEN 0 ELSE 1 END)) <= 3),
         |gfp AS (
         |  SELECT doc_id, CASE WHEN length(nrm) < 8 THEN md5(nrm)
         |    ELSE list_min(list_transform(range(1, length(nrm) - 6),
         |      i -> md5(substr(nrm, i, 8)))) END AS gram_fp
         |  FROM (SELECT doc_id, $norm AS nrm FROM documents))
         |SELECT a.doc_id, a.fp, g.gram_fp, coalesce(p.n_dups, 0) AS n_dups
         |FROM allfp a
         |JOIN gfp g USING (doc_id)
         |LEFT JOIN (SELECT did AS doc_id, count(*) AS n_dups FROM neardup
         |  GROUP BY 1) p USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "p_embed_dup" ->
      s"""WITH planes(t, p, w) AS (VALUES ${planesValues(12, 1, 64, 42)}),
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings)
         |SELECT e.vec_id, ${bucketExpr("e.v")} AS bucket
         |FROM emb e CROSS JOIN planes pl
         |GROUP BY e.vec_id ORDER BY vec_id""".stripMargin,
    "p_ann_topk" ->
      s"""WITH planes(t, p, w) AS (VALUES ${planesValues(4, 8, 64, 7000)}),
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |buckets AS (
         |  SELECT e.vec_id, pl.t AS tbl, ${bucketExpr("e.v")}
         |    AS bucket
         |  FROM emb e CROSS JOIN planes pl GROUP BY e.vec_id, pl.t),
         |qids AS (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 20),
         |cand AS (
         |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         |  FROM buckets qb
         |  JOIN qids ON qb.vec_id = qids.vec_id
         |  JOIN buckets cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
         |  WHERE qb.vec_id <> cb.vec_id),
         |ranked AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    row_number() OVER (PARTITION BY c.query_id
         |      ORDER BY list_cosine_similarity(q.v, n.v) DESC,
         |        c.neighbor_id) AS rank
         |  FROM cand c
         |  JOIN emb q ON c.query_id = q.vec_id
         |  JOIN emb n ON c.neighbor_id = n.vec_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "p_multimodal" ->
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, sum(CASE WHEN (i - 1) % 8 = 0
        |    THEN (unicode(substr(text, i, 1)) * 2654435761
        |      + (i - 1) * 40503) % 1000 ELSE 0 END) AS f0
        |  FROM pos GROUP BY doc_id),
        |m AS (
        |  SELECT doc_id,
        |    CAST(length(text) % 640 + 32 AS INT) AS width,
        |    CAST(length(text) % 480 + 32 AS INT) AS height,
        |    length(text) * 10 AS dur
        |  FROM documents)
        |SELECT m.doc_id, m.width,
        |  CAST(CASE WHEN greatest(m.width, m.height) > 64
        |    THEN trunc(m.width * (64.0 / greatest(m.width, m.height)))
        |    ELSE m.width END AS INT) AS resized_w,
        |  CAST(coalesce(f.f0, 0) AS BIGINT) AS f0,
        |  CAST(dur // 5000 + 1 AS BIGINT) AS n_frames
        |FROM m LEFT JOIN f USING (doc_id)
        |ORDER BY m.doc_id""".stripMargin,
    "p_image_dedup" -> {
      val contrib =
        "(unicode(substr(text, i, 1)) * 2654435761 + (i - 1) * 40503) % 1000"
      val cellSums = (0 until 72).map(g =>
        s"sum(CASE WHEN (i - 1) % 72 = $g THEN $contrib ELSE 0 END) AS s$g")
        .mkString(", ")
      val cellCoal = (0 until 72).map(g =>
        s"coalesce(s$g, 0) AS s$g").mkString(", ")
      // bit b = r*8+c set iff luma(r*9+c) < luma(r*9+c+1); word w
      // carries bits 16w..16w+15 — DHashWords' exact packing
      val words = (0 until 4).map { w =>
        val bits = (0 until 16).map { i =>
          val b = w * 16 + i; val r = b / 8; val c = b % 8
          s"CASE WHEN s${r * 9 + c} < s${r * 9 + c + 1} " +
            s"THEN ${1 << i} ELSE 0 END"
        }.mkString(" + ")
        s"($bits) AS w$w"
      }.mkString(", ")
      val ham = (0 until 4).map(w =>
        s"bit_count(xor(CAST(a.w$w AS BIGINT), CAST(b.w$w AS BIGINT)))")
        .mkString(" + ")
      s"""WITH pos AS (
         |  SELECT doc_id, unnest(range(1, length(text) + 1)) AS i,
         |    text
         |  FROM documents),
         |csums AS (SELECT doc_id, $cellSums FROM pos GROUP BY doc_id),
         |cells AS (
         |  SELECT d.doc_id, $cellCoal
         |  FROM documents d LEFT JOIN csums USING (doc_id)),
         |hashes AS (SELECT doc_id, $words FROM cells),
         |chunks AS (
         |  SELECT doc_id, 0 AS c, w0 AS v FROM hashes UNION ALL
         |  SELECT doc_id, 1, w1 FROM hashes UNION ALL
         |  SELECT doc_id, 2, w2 FROM hashes UNION ALL
         |  SELECT doc_id, 3, w3 FROM hashes),
         |capped AS (
         |  SELECT doc_id, c, v FROM (
         |    SELECT *, count(*) OVER (PARTITION BY c, v) AS n
         |    FROM chunks) WHERE n <= 1000),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
         |  FROM capped l JOIN capped r
         |    ON l.c = r.c AND l.v = r.v AND l.doc_id < r.doc_id),
         |pairs AS (
         |  SELECT p.id1, p.id2 FROM cand p
         |  JOIN hashes a ON p.id1 = a.doc_id
         |  JOIN hashes b ON p.id2 = b.doc_id
         |  WHERE $ham <= 3),
         |sym AS (
         |  SELECT id1 AS doc_id, id2 AS p FROM pairs
         |  UNION ALL SELECT id2, id1 FROM pairs),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_dups, min(p) AS first_dup
         |  FROM sym GROUP BY doc_id)
         |SELECT h.doc_id,
         |  concat_ws('/', w0, w1, w2, w3) AS dh,
         |  coalesce(n_dups, 0) AS n_dups,
         |  coalesce(first_dup, -1) AS first_dup
         |FROM hashes h LEFT JOIN agg USING (doc_id)
         |ORDER BY h.doc_id""".stripMargin
    },
    "p_dedup_eval" ->
      s"""WITH base AS (
         |  SELECT doc_id, $shinglesSql AS sh FROM documents
         |  WHERE doc_id < 5000),
         |perms(i, a, b) AS (VALUES $permValues),
         |hsx AS (
         |  SELECT doc_id, sh,
         |    list_transform(sh, s -> ${hash60("s")}) AS hs
         |  FROM base),
         |sigl AS (
         |  SELECT doc_id, p.i,
         |    list_min(list_transform(hs, h -> (h * p.a + p.b) % 2147483647))
         |      AS v
         |  FROM hsx, perms p),
         |sigs AS (
         |  SELECT s.doc_id, b.sh, list(s.v ORDER BY s.i) AS sig
         |  FROM sigl s JOIN base b USING (doc_id)
         |  GROUP BY s.doc_id, b.sh),
         |bands AS (
         |  SELECT doc_id, bb.band, md5(array_to_string(
         |    list_transform(list_slice(sig, bb.band * 4 + 1, bb.band * 4 + 4),
         |      x -> CAST(x AS VARCHAR)), '|')) AS bucket
         |  FROM sigs, (SELECT unnest(range(0, 8)) AS band) bb),
         |capped AS (
         |  SELECT doc_id, band, bucket FROM (
         |    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS n
         |    FROM bands) WHERE n <= 1000),
         |cand AS (
         |  SELECT doc_id AS id1, doc_id + d.d AS id2
         |  FROM sigs, (VALUES (1), (7), (50)) d(d)
         |  UNION
         |  SELECT l.doc_id, r.doc_id
         |  FROM capped l JOIN capped r
         |    ON l.band = r.band AND l.bucket = r.bucket
         |    AND l.doc_id < r.doc_id),
         |pr AS (
         |  SELECT a.sig AS sa, a.sh AS ha, b.sig AS sb, b.sh AS hb
         |  FROM cand c
         |  JOIN sigs a ON c.id1 = a.doc_id
         |  JOIN sigs b ON c.id2 = b.doc_id),
         |m AS (
         |  SELECT CAST(list_sum(list_transform(range(1, 33), i ->
         |      CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS INT)
         |      AS matches,
         |    CAST(len(list_intersect(ha, hb)) AS DOUBLE) /
         |      len(list_distinct(ha || hb)) AS jac
         |  FROM pr WHERE len(list_distinct(ha || hb)) > 0)
         |SELECT matches, CAST(matches AS DOUBLE) / 32.0 AS est,
         |  count(*) AS n_pairs,
         |  CAST(sum(CAST(jac AS DECIMAL(18,6))) AS DOUBLE) / count(*)
         |    AS avg_jaccard,
         |  CAST(sum(CAST(abs(CAST(matches AS DOUBLE) / 32.0 - jac)
         |    AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mae
         |FROM m GROUP BY matches ORDER BY matches""".stripMargin,
    "p_audio_dedup" -> {
      // AudioHashNative replay: sample i (1-based here) =
      // (cp * 1103515245 + (i-1) * 12345) % 2048, frame of sample i
      // over n chars = ((i-1) * 65) // n, energy = Σ sample²
      // BIGINT cast up front: unlike the image oracle's 2654435761
      // (too big for INT32, so DuckDB promotes the product), this LCG
      // multiplier fits INT32 and the bare product would overflow
      val samp = "((CAST(unicode(substr(text, i, 1)) AS BIGINT) " +
        "* 1103515245 + (i - 1) * 12345) % 2048)"
      val frameSums = (0 until 65).map(f =>
        s"sum(CASE WHEN ((i - 1) * 65) // length(text) = $f " +
          s"THEN $samp * $samp ELSE 0 END) AS e$f").mkString(", ")
      val frameCoal = (0 until 65).map(f =>
        s"coalesce(e$f, 0) AS e$f").mkString(", ")
      // bit b set iff e_b < e_{b+1}; word w carries bits 16w..16w+15
      // — AudioFpWords' exact packing
      val words = (0 until 4).map { w =>
        val bits = (0 until 16).map { i =>
          val b = w * 16 + i
          s"CASE WHEN e$b < e${b + 1} THEN ${1 << i} ELSE 0 END"
        }.mkString(" + ")
        s"($bits) AS w$w"
      }.mkString(", ")
      val ham = (0 until 4).map(w =>
        s"bit_count(xor(CAST(a.w$w AS BIGINT), CAST(b.w$w AS BIGINT)))")
        .mkString(" + ")
      s"""WITH pos AS (
         |  SELECT doc_id, unnest(range(1, length(text) + 1)) AS i,
         |    text
         |  FROM documents),
         |esums AS (SELECT doc_id, $frameSums FROM pos GROUP BY doc_id),
         |frames AS (
         |  SELECT d.doc_id, $frameCoal
         |  FROM documents d LEFT JOIN esums USING (doc_id)),
         |hashes AS (SELECT doc_id, $words FROM frames),
         |chunks AS (
         |  SELECT doc_id, 0 AS c, w0 AS v FROM hashes UNION ALL
         |  SELECT doc_id, 1, w1 FROM hashes UNION ALL
         |  SELECT doc_id, 2, w2 FROM hashes UNION ALL
         |  SELECT doc_id, 3, w3 FROM hashes),
         |capped AS (
         |  SELECT doc_id, c, v FROM (
         |    SELECT *, count(*) OVER (PARTITION BY c, v) AS n
         |    FROM chunks) WHERE n <= 1000),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
         |  FROM capped l JOIN capped r
         |    ON l.c = r.c AND l.v = r.v AND l.doc_id < r.doc_id),
         |pairs AS (
         |  SELECT p.id1, p.id2 FROM cand p
         |  JOIN hashes a ON p.id1 = a.doc_id
         |  JOIN hashes b ON p.id2 = b.doc_id
         |  WHERE $ham <= 3),
         |sym AS (
         |  SELECT id1 AS doc_id, id2 AS p FROM pairs
         |  UNION ALL SELECT id2, id1 FROM pairs),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_dups, min(p) AS first_dup
         |  FROM sym GROUP BY doc_id)
         |SELECT h.doc_id,
         |  concat_ws('/', w0, w1, w2, w3) AS fp,
         |  coalesce(n_dups, 0) AS n_dups,
         |  coalesce(first_dup, -1) AS first_dup
         |FROM hashes h LEFT JOIN agg USING (doc_id)
         |ORDER BY h.doc_id""".stripMargin
    },
    "p_ann_ivf" ->
      s"""WITH cents(i, w) AS (VALUES ${centroidValues(16, 64, 4242)}),
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |scored AS (
         |  SELECT e.vec_id, c.i,
         |    list_sum(list_transform(range(1, 65),
         |      j -> e.v[j] * c.w[j])) AS d,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_sum(list_transform(range(1, 65),
         |        j -> e.v[j] * c.w[j])) DESC, c.i DESC) AS rk
         |  FROM emb e CROSS JOIN cents c),
         |assign AS (SELECT vec_id, i AS cent FROM scored WHERE rk = 1),
         |qids AS (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 20),
         |qprobe AS (
         |  SELECT s.vec_id AS query_id, s.i AS cent
         |  FROM scored s JOIN qids ON s.vec_id = qids.vec_id
         |  WHERE s.rk <= 4),
         |cand AS (
         |  SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
         |  FROM qprobe q JOIN assign a ON q.cent = a.cent
         |  WHERE q.query_id <> a.vec_id),
         |ranked AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    row_number() OVER (PARTITION BY c.query_id
         |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC,
         |        c.neighbor_id) AS rank
         |  FROM cand c
         |  JOIN emb qe ON c.query_id = qe.vec_id
         |  JOIN emb ne ON c.neighbor_id = ne.vec_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "p_ann_pq" -> {
      // ADC score replay: per-(query, neighbor, subspace) LUT parts
      // pivot to columns, then sum in the IDENTICAL left-fold order
      // (s = 0..7) the Spark expression chain uses
      val adcSum = (0 until 8).map(s =>
        s"max(CASE WHEN s = $s THEN part END)").reduceLeft((a, b) =>
        s"($a + $b)")
      s"""WITH books(s, c, nrm, w) AS (VALUES ${pqBookValues(8, 16, 8,
            9090)}),
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |coded AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT e.vec_id, b.s, b.c,
         |      row_number() OVER (PARTITION BY e.vec_id, b.s
         |        ORDER BY b.nrm - 2.0 * list_sum(list_transform(
         |          range(1, 9), j -> e.v[b.s * 8 + j] * b.w[j])) ASC,
         |          b.c ASC) AS rk
         |    FROM emb e CROSS JOIN books b) WHERE rk = 1),
         |qids AS (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 20),
         |lut AS (
         |  SELECT q.vec_id AS query_id, b.s, b.c,
         |    list_sum(list_transform(range(1, 9),
         |      j -> qe.v[b.s * 8 + j] * b.w[j])) AS part
         |  FROM qids q JOIN emb qe ON qe.vec_id = q.vec_id
         |  CROSS JOIN books b),
         |parts AS (
         |  SELECT l.query_id, cd.vec_id AS neighbor_id, l.s, l.part
         |  FROM coded cd JOIN lut l ON l.s = cd.s AND l.c = cd.c
         |  WHERE l.query_id <> cd.vec_id),
         |scored AS (
         |  SELECT query_id, neighbor_id, $adcSum AS score
         |  FROM parts GROUP BY query_id, neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "p_tag_keywords" -> {
      val dictValues = TagDict.map(k => s"('$k')").mkString(", ")
      s"""WITH dict(kw) AS (VALUES $dictValues),
         |base AS (SELECT doc_id, $norm AS t FROM documents),
         |cnts AS (
         |  SELECT doc_id, kw,
         |    len(list_filter(range(1, len(t) - len(kw) + 2),
         |      i -> substr(t, CAST(i AS INT), len(kw)) = kw)) AS n
         |  FROM base CROSS JOIN dict
         |  WHERE len(t) >= len(kw))
         |SELECT doc_id, kw AS keyword, CAST(n AS BIGINT) AS n
         |FROM cnts WHERE n > 0 ORDER BY doc_id, keyword""".stripMargin
    },
    "p_sq_encode" ->
      """SELECT vec_id, lo, hi,
        |  md5(array_to_string(
        |    CASE WHEN hi = lo THEN list_transform(v, x -> 0)
        |      ELSE list_transform(v, x -> CAST(floor(
        |        (x - lo) * 255.0 / (hi - lo) + 0.5) AS INT)) END,
        |    '/')) AS chash
        |FROM (
        |  SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings))
        |ORDER BY vec_id""".stripMargin,
    "p_ann_binary" ->
      s"""WITH $binaryAnnCtes
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, ham
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "p_rank_eval" -> {
      val gains = graft.pipeline.Retrieval.dcgGains(5)
      val idcgs = graft.pipeline.Retrieval.idcgAt(5)
      val gainCase = (1 to 5).map(r =>
        s"WHEN rank = $r THEN CAST(${gains(r - 1)} AS DOUBLE)")
        .mkString("CASE ", " ", " ELSE CAST(0 AS DOUBLE) END")
      // recall/nDCG normalize by the per-query reference-list length
      // (mirrors Retrieval.rankMetrics' idcgAt normalization; on this
      // fixture every query carries exactly 5 reference rows)
      val idcgCase = (1 to 5).map(n =>
        s"WHEN n_ref = $n THEN CAST(${idcgs(n - 1)} AS DOUBLE)")
        .mkString("CASE ", " ", s" ELSE CAST(${idcgs.last} AS DOUBLE) END")
      s"""WITH $binaryAnnCtes,
         |bru AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.v, c.v) DESC,
         |          c.vec_id) AS rank
         |    FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id IN (SELECT vec_id FROM qids))
         |  WHERE rank <= 5),
         |rc AS (SELECT query_id, count(*) AS n_ref FROM bru GROUP BY 1),
         |j AS (
         |  SELECT a.query_id, a.rank,
         |    CASE WHEN e.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM (SELECT query_id, neighbor_id, rank FROM ranked
         |    WHERE rank <= 5) a
         |  LEFT JOIN bru e ON a.query_id = e.query_id
         |    AND a.neighbor_id = e.neighbor_id),
         |agg AS (
         |  SELECT query_id, CAST(sum(hit) AS BIGINT) AS n_hit,
         |    coalesce(CAST(1 AS DOUBLE) /
         |        min(CASE WHEN hit = 1 THEN rank END),
         |      CAST(0 AS DOUBLE)) AS mrr,
         |    CAST(sum(CAST(CASE WHEN hit = 1 THEN $gainCase
         |        ELSE CAST(0 AS DOUBLE) END AS DECIMAL(18,12)))
         |      AS DOUBLE) AS dcg
         |  FROM j GROUP BY 1)
         |SELECT rc.query_id, coalesce(n_hit, 0) AS n_hit,
         |  CAST(coalesce(n_hit, 0) AS DOUBLE) / n_ref AS recall,
         |  coalesce(mrr, CAST(0 AS DOUBLE)) AS mrr,
         |  coalesce(dcg, CAST(0 AS DOUBLE)) / ($idcgCase) AS ndcg
         |FROM rc LEFT JOIN agg USING (query_id) ORDER BY 1""".stripMargin
    },
    "p_rrf" -> {
      val qtValues = RrfTerms.map { case (qid, terms) =>
        s"(CAST($qid AS BIGINT), ${terms.mkString("['", "', '", "']")})"
      }.mkString(", ")
      s"""WITH base AS (SELECT doc_id, $toks AS ts FROM documents),
         |lens AS (SELECT doc_id, len(ts) AS dl FROM base),
         |stats AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         |m AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(ts) AS token FROM base)
         |  GROUP BY 1, 2),
         |dfs AS (SELECT token, count(*) AS df FROM m GROUP BY 1),
         |scored AS (
         |  SELECT m.doc_id, m.token,
         |    (CAST(s.n_docs - d.df + 0.5 AS DOUBLE) /
         |       CAST(d.df + 0.5 AS DOUBLE))
         |      * (m.tf * CAST(1.2 + 1 AS DOUBLE))
         |      / (m.tf + CAST(1.2 AS DOUBLE) *
         |          (CAST(1 - 0.75 AS DOUBLE) +
         |           CAST(0.75 AS DOUBLE) * (l.dl / s.avgdl))) AS sc
         |  FROM m JOIN dfs d USING (token)
         |  JOIN lens l USING (doc_id), stats s),
         |qt(query_id, terms) AS (VALUES $qtValues),
         |lexs AS (
         |  SELECT q.query_id, s.doc_id,
         |    CAST(sum(CAST(s.sc AS DECIMAL(38,12))) AS DOUBLE) AS score
         |  FROM qt q JOIN scored s ON list_contains(q.terms, s.token)
         |  GROUP BY 1, 2),
         |lex AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, doc_id) AS rank
         |    FROM lexs) WHERE rank <= 30),
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |vec AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.v, c.v) DESC,
         |          c.vec_id) AS rank
         |    FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id < ${RrfTerms.size}) WHERE rank <= 30),
         |uni AS (SELECT * FROM lex UNION ALL SELECT * FROM vec),
         |fused AS (
         |  SELECT query_id, doc_id,
         |    CAST(sum(CAST(CAST(1.0 AS DOUBLE) / (60 + rank)
         |      AS DECIMAL(18,12))) AS DOUBLE) AS rrf,
         |    count(*) AS n_lists
         |  FROM uni GROUP BY 1, 2)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf,
         |  n_lists
         |FROM (
         |  SELECT query_id, doc_id, rrf, n_lists,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fused) WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    },
    "p_wordpiece" -> {
      val vocabList = WpVocab.mkString("['", "', '", "']")
      // candidate piece at cursor `pos` (0-based) with length l:
      // opener = raw substring, continuation = '##' + substring
      def cand(l: String) =
        s"""CASE WHEN pos = 0 THEN substr(w, 1, CAST($l AS INT))
           |  ELSE '##' || substr(w, pos + 1, CAST($l AS INT)) END"""
          .stripMargin
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, $toks AS ts FROM documents),
         |words AS (
         |  SELECT doc_id, CAST(i AS INT) AS wi,
         |    ts[CAST(i AS INT)] AS w
         |  FROM (SELECT doc_id, ts,
         |    unnest(range(1, len(ts) + 1)) AS i FROM base)),
         |step(doc_id, wi, w, pos, pieces, unk) AS (
         |  SELECT doc_id, wi, w, 0, '', false FROM words
         |  UNION ALL
         |  SELECT doc_id, wi, w,
         |    CASE WHEN ml IS NULL THEN len(w)
         |      ELSE pos + CAST(ml AS INT) END,
         |    CASE WHEN ml IS NULL THEN pieces
         |      WHEN pieces = '' THEN ${cand("ml")}
         |      ELSE pieces || ' ' || ${cand("ml")} END,
         |    ml IS NULL
         |  FROM (
         |    SELECT doc_id, wi, w, pos, pieces,
         |      list_max(list_filter(
         |        range(1, least(6, len(w) - pos) + 1),
         |        l -> list_contains($vocabList, ${cand("l")}))) AS ml
         |    FROM step WHERE NOT unk AND pos < len(w))),
         |fin AS (
         |  SELECT doc_id, wi,
         |    CASE WHEN unk THEN '[UNK]' ELSE pieces END AS wp,
         |    CASE WHEN unk THEN 1
         |      ELSE len(str_split(pieces, ' ')) END AS np,
         |    CASE WHEN unk THEN 1 ELSE 0 END AS nu
         |  FROM step WHERE unk OR (pos > 0 AND pos >= len(w))),
         |agg AS (
         |  SELECT doc_id, string_agg(wp, ' ' ORDER BY wi) AS seq,
         |    sum(np) AS n_pieces, sum(nu) AS n_unk
         |  FROM fin GROUP BY doc_id)
         |SELECT d.doc_id, md5(coalesce(a.seq, '')) AS chash,
         |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  CAST(coalesce(a.n_unk, 0) AS BIGINT) AS n_unk
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },
    "p_bm25_multi" -> {
      val qtValues = RrfTerms.map { case (qid, terms) =>
        s"(CAST($qid AS BIGINT), ${terms.mkString("['", "', '", "']")})"
      }.mkString(", ")
      s"""WITH base AS (SELECT doc_id, $toks AS ts FROM documents),
         |lens AS (SELECT doc_id, len(ts) AS dl FROM base),
         |stats AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         |qt(query_id, terms) AS (VALUES $qtValues),
         |qtok AS (
         |  SELECT DISTINCT query_id, unnest(terms) AS token FROM qt),
         |m AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(ts) AS token FROM base)
         |  WHERE token IN (SELECT DISTINCT token FROM qtok)
         |  GROUP BY 1, 2),
         |dfs AS (SELECT token, count(*) AS df FROM m GROUP BY 1),
         |scored AS (
         |  SELECT q.query_id, m.doc_id,
         |    (CAST(s.n_docs - d.df + 0.5 AS DOUBLE) /
         |       CAST(d.df + 0.5 AS DOUBLE))
         |      * (m.tf * CAST(1.2 + 1 AS DOUBLE))
         |      / (m.tf + CAST(1.2 AS DOUBLE) *
         |          (CAST(1 - 0.75 AS DOUBLE) +
         |           CAST(0.75 AS DOUBLE) * (l.dl / s.avgdl))) AS sc
         |  FROM m JOIN dfs d USING (token)
         |  JOIN qtok q USING (token)
         |  JOIN lens l USING (doc_id), stats s),
         |summed AS (
         |  SELECT query_id, doc_id,
         |    CAST(sum(CAST(sc AS DECIMAL(38,12))) AS DOUBLE) AS score,
         |    count(*) AS n_terms
         |  FROM scored GROUP BY 1, 2)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score,
         |  n_terms
         |FROM (
         |  SELECT query_id, doc_id, score, n_terms,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS rank
         |  FROM summed) WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    },
    "p_hard_neg" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings),
        |anch AS (SELECT * FROM emb ORDER BY vec_id LIMIT 10),
        |scored AS (
        |  SELECT a.vec_id AS anchor_id, c.vec_id AS cand_id,
        |    c.label AS cand_label,
        |    c.label = a.label AS is_positive,
        |    row_number() OVER (
        |      PARTITION BY a.vec_id, (c.label = a.label)
        |      ORDER BY list_cosine_similarity(a.v, c.v) DESC,
        |        c.vec_id) AS rank
        |  FROM anch a JOIN emb c ON a.vec_id <> c.vec_id)
        |SELECT anchor_id, is_positive, CAST(rank AS INT) AS rank,
        |  cand_id, cand_label
        |FROM scored WHERE rank <= 3
        |ORDER BY anchor_id, is_positive, rank""".stripMargin,
    "p_url_canon" -> {
      val track = graft.pipeline.TextFns.TrackingParams
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://'
         |       ELSE 'http://' END)
         |    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example'
         |       ELSE 'Site' END) || '.com'
         |    || (CASE WHEN doc_id % 4 = 0 THEN ':443'
         |       WHEN doc_id % 4 = 1 THEN ':80' ELSE '' END)
         |    || '/Dir//Sub/page' || CAST(doc_id % 7 AS VARCHAR)
         |    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
         |    || '?z=' || CAST(doc_id % 5 AS VARCHAR)
         |    || '&utm_source=feed&a=1'
         |    || (CASE WHEN doc_id % 5 = 0 THEN '&gclid=zz'
         |       ELSE '' END)
         |    || '#sec' || CAST(doc_id % 3 AS VARCHAR) AS url
         |  FROM documents),
         |parts AS (
         |  SELECT doc_id,
         |    lower(regexp_extract(regexp_replace(url, '#.*$$', ''),
         |      '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
         |    regexp_replace(regexp_replace(url, '#.*$$', ''),
         |      '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS rest
         |  FROM raw),
         |pieces AS (
         |  SELECT doc_id, scheme,
         |    CASE WHEN scheme = 'http' THEN regexp_replace(
         |        lower(regexp_extract(rest, '^([^/?]+)', 1)),
         |        ':80$$', '')
         |      WHEN scheme = 'https' THEN regexp_replace(
         |        lower(regexp_extract(rest, '^([^/?]+)', 1)),
         |        ':443$$', '')
         |      ELSE lower(regexp_extract(rest, '^([^/?]+)', 1))
         |    END AS auth,
         |    regexp_replace(regexp_replace(regexp_extract(
         |      regexp_replace(rest, '^[^/?]+', ''), '^([^?]*)', 1),
         |      '/{2,}', '/', 'g'), '/+$$', '') AS path0,
         |    regexp_extract(regexp_replace(rest, '^[^/?]+', ''),
         |      '\\?(.*)$$', 1) AS query
         |  FROM parts),
         |canon AS (
         |  SELECT doc_id,
         |    scheme || '://' || auth
         |    || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
         |    || (CASE WHEN sorted = '' THEN ''
         |        ELSE '?' || sorted END) AS canon
         |  FROM (SELECT doc_id, scheme, auth, path0,
         |    array_to_string(list_sort(list_filter(
         |      str_split(query, '&'), p -> p <> '' AND NOT
         |        regexp_matches(p, '^(?:$track)(?:=|$$)'))),
         |      '&') AS sorted
         |    FROM pieces)),
         |dups AS (
         |  SELECT canon, count(*) AS n_urls FROM canon GROUP BY 1)
         |SELECT c.doc_id, c.canon, d.n_urls
         |FROM canon c JOIN dups d USING (canon)
         |ORDER BY c.doc_id""".stripMargin
    },
    "p_sentences" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || '. ' || substr(text, 41, 55)
        |      || '! ' || substr(text, 96, 30) || '?? '
        |      || substr(text, 126, 25) || '.  '
        |      || substr(text, 151, 20) AS t
        |  FROM documents),
        |sents AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_extract_all(t, '[^.!?]+[.!?]*'), x -> trim(x)),
        |      x -> regexp_matches(x, '[\p{L}\p{N}]')) AS ss
        |  FROM base),
        |sent AS (
        |  SELECT doc_id, CAST(i AS INT) AS si,
        |    ss[CAST(i AS INT)] AS s,
        |    len(list_filter(str_split_regex(ss[CAST(i AS INT)],
        |      '\s+'), x -> x <> '')) AS t
        |  FROM (SELECT doc_id, ss,
        |    unnest(range(1, len(ss) + 1)) AS i FROM sents)),
        |walk(doc_id, si, chunk, curtok) AS (
        |  SELECT doc_id, si, 0, t FROM sent WHERE si = 1
        |  UNION ALL
        |  SELECT s.doc_id, s.si,
        |    CASE WHEN w.curtok + s.t > 12 THEN w.chunk + 1
        |      ELSE w.chunk END,
        |    CASE WHEN w.curtok + s.t > 12 THEN s.t
        |      ELSE w.curtok + s.t END
        |  FROM walk w JOIN sent s
        |    ON s.doc_id = w.doc_id AND s.si = w.si + 1),
        |agg AS (
        |  SELECT doc_id, max(chunk) + 1 AS n_chunks,
        |    md5(string_agg(CAST(chunk AS VARCHAR), '/' ORDER BY si))
        |      AS chash
        |  FROM walk GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CAST(len(s.ss) AS BIGINT) AS n_sentences,
        |  md5(array_to_string(s.ss, '|')) AS shash,
        |  CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
        |  coalesce(a.chash, md5('')) AS chash
        |FROM sents s LEFT JOIN agg a USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,
    "p_k_anon" ->
      """SELECT c_mktsegment, c_nationkey,
        |  CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
        |  count(*) AS class_size, count(*) >= 8 AS ok
        |FROM customer GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "p_mmr" -> mmrOracle(12, 20, 5, 70),
    "p_kcenter" -> kcenterOracle(6),
    // hosts constructed directly (extraction fidelity is p_links'
    // pin); the pagerank replay is the p_pagerank fixed-point chain
    // over string node ids
    "p_host_rank" ->
      """WITH l AS (
        |  SELECT 'site' || CAST(doc_id % 5 AS VARCHAR) || '.com'
        |      AS src,
        |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT 'site' || CAST(doc_id % 5 AS VARCHAR) || '.com',
        |    CASE WHEN doc_id % 2 = 0 THEN 'hub.example.org'
        |      ELSE 'site0.com' END
        |  FROM documents),
        |edges AS (SELECT src, dst, count(*) AS w FROM l
        |  WHERE src <> dst GROUP BY 1, 2),
        |nodes AS (SELECT src AS id FROM edges
        |          UNION SELECT dst FROM edges),
        |cnt AS (SELECT count(*) AS nn FROM nodes),
        |outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY 1),
        |r0 AS (SELECT id, 1000000000000 // (SELECT nn FROM cnt)
        |         AS rank FROM nodes),
        |c1 AS (SELECT e.dst, CAST(sum(
        |         (CAST(r.rank AS HUGEINT) * e.w) // o.out_w)
        |         AS BIGINT) AS cs
        |       FROM edges e JOIN outw o ON e.src = o.src
        |       JOIN r0 r ON r.id = e.src GROUP BY 1),
        |r1 AS (SELECT n.id, CAST(150000000000 // (SELECT nn FROM cnt)
        |         + (85 * coalesce(c.cs, 0)) // 100 AS BIGINT) AS rank
        |       FROM nodes n LEFT JOIN c1 c ON n.id = c.dst),
        |c2 AS (SELECT e.dst, CAST(sum(
        |         (CAST(r.rank AS HUGEINT) * e.w) // o.out_w)
        |         AS BIGINT) AS cs
        |       FROM edges e JOIN outw o ON e.src = o.src
        |       JOIN r1 r ON r.id = e.src GROUP BY 1),
        |r2 AS (SELECT n.id, CAST(150000000000 // (SELECT nn FROM cnt)
        |         + (85 * coalesce(c.cs, 0)) // 100 AS BIGINT) AS rank
        |       FROM nodes n LEFT JOIN c2 c ON n.id = c.dst),
        |c3 AS (SELECT e.dst, CAST(sum(
        |         (CAST(r.rank AS HUGEINT) * e.w) // o.out_w)
        |         AS BIGINT) AS cs
        |       FROM edges e JOIN outw o ON e.src = o.src
        |       JOIN r2 r ON r.id = e.src GROUP BY 1),
        |r3 AS (SELECT n.id, CAST(150000000000 // (SELECT nn FROM cnt)
        |         + (85 * coalesce(c.cs, 0)) // 100 AS BIGINT) AS rank
        |       FROM nodes n LEFT JOIN c3 c ON n.id = c.dst)
        |SELECT id AS host, rank FROM r3
        |ORDER BY rank DESC, host""".stripMargin,
    "p_l_div" ->
      """WITH cells AS (
        |  SELECT c_mktsegment,
        |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
        |    c_nationkey AS sv, count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |r AS (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY c_mktsegment, bal_band
        |      ORDER BY n DESC, CAST(sv AS VARCHAR)) AS rk
        |  FROM cells)
        |SELECT c_mktsegment, bal_band,
        |  CAST(sum(n) AS BIGINT) AS class_size,
        |  count(*) AS n_sensitive,
        |  CAST(max(CASE WHEN rk = 1 THEN n END) AS BIGINT)
        |    AS top_count,
        |  CAST(sum(CASE WHEN rk >= 20 THEN n ELSE 0 END) AS BIGINT)
        |    AS tail_count,
        |  count(*) >= 20 AS ok_distinct,
        |  max(CASE WHEN rk = 1 THEN n END) <
        |    2 * sum(CASE WHEN rk >= 20 THEN n ELSE 0 END)
        |    AS ok_recursive
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "p_html_extract" -> {
      // the SAME rule chain, folded into nested regexp_replace calls;
      // single-quoted DuckDB literals pass backslashes through to RE2
      // exactly as Scala passes them to java.util.regex
      def sqlLit(s: String): String =
        "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") +
          "'"
      val htmlSql =
        """('<html><head><title>t</title><style type="text/css">' ||
          |'body { color: #fff; }</style>' ||
          |'<script>if (1 < 2) { x = "y"; }</script></head><body>' ||
          |'<h1 class="hd">doc ' || CAST(doc_id AS VARCHAR) ||
          |'</h1>' || '<p>' || substr(text, 1, 160) || '</p>' ||
          |'<div><a href="http://example.com/a?b=1&amp;c=2">link ' ||
          |CAST(doc_id AS VARCHAR) ||
          |'</a> &amp; more &lt;raw&gt;&nbsp;text&quot;&#39;</div>' ||
          |CASE WHEN doc_id % 2 = 0
          |  THEN '<ul><li>item one</li><li>item two</li></ul>'
          |  ELSE '<br><br><p>tail para</p>' END ||
          |'</body></html>')""".stripMargin
      val chain = graft.pipeline.TextFns.HtmlRules
        .foldLeft(htmlSql) { case (acc, (p, r)) =>
          s"regexp_replace($acc,\n  ${sqlLit(p)}, ${sqlLit(r)}, 'g')"
        }
      s"""SELECT doc_id, md5(x) AS chash,
         |  CAST(length(x) AS BIGINT) AS n_chars
         |FROM (SELECT doc_id, trim($chain) AS x FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "p_ann_pq_refined" -> {
      val adcSum = (0 until 8).map(s =>
        s"max(CASE WHEN s = $s THEN part END)").reduceLeft((a, b) =>
        s"($a + $b)")
      s"""WITH books(s, c, nrm, w) AS (VALUES ${pqBookValues(8, 16, 8,
            9090)}),
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |coded AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT e.vec_id, b.s, b.c,
         |      row_number() OVER (PARTITION BY e.vec_id, b.s
         |        ORDER BY b.nrm - 2.0 * list_sum(list_transform(
         |          range(1, 9), j -> e.v[b.s * 8 + j] * b.w[j])) ASC,
         |          b.c ASC) AS rk
         |    FROM emb e CROSS JOIN books b) WHERE rk = 1),
         |qids AS (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 20),
         |lut AS (
         |  SELECT q.vec_id AS query_id, b.s, b.c,
         |    list_sum(list_transform(range(1, 9),
         |      j -> qe.v[b.s * 8 + j] * b.w[j])) AS part
         |  FROM qids q JOIN emb qe ON qe.vec_id = q.vec_id
         |  CROSS JOIN books b),
         |parts AS (
         |  SELECT l.query_id, cd.vec_id AS neighbor_id, l.s, l.part
         |  FROM coded cd JOIN lut l ON l.s = cd.s AND l.c = cd.c
         |  WHERE l.query_id <> cd.vec_id),
         |scored AS (
         |  SELECT query_id, neighbor_id, $adcSum AS score
         |  FROM parts GROUP BY query_id, neighbor_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, neighbor_id) AS rank
         |    FROM scored) WHERE rank <= 25),
         |refined AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    row_number() OVER (PARTITION BY s.query_id
         |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC,
         |        s.neighbor_id) AS rank
         |  FROM short s
         |  JOIN emb qe ON qe.vec_id = s.query_id
         |  JOIN emb ne ON ne.vec_id = s.neighbor_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
         |FROM refined WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "p_ann_ivfpq" -> {
      val adcSum = (0 until 8).map(s =>
        s"max(CASE WHEN s = $s THEN part END)").reduceLeft((a, b) =>
        s"($a + $b)")
      s"""WITH cents(i, w) AS (VALUES ${centroidValues(16, 64, 4242)}),
         |books(s, c, nrm, bw) AS (VALUES ${pqBookValues(8, 16, 8,
            9090)}),
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |cscore AS (
         |  SELECT e.vec_id, c.i,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_sum(list_transform(range(1, 65),
         |        j -> e.v[j] * c.w[j])) DESC, c.i DESC) AS rk
         |  FROM emb e CROSS JOIN cents c),
         |assign AS (SELECT vec_id, i AS cent FROM cscore WHERE rk = 1),
         |qids AS (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 20),
         |qprobe AS (
         |  SELECT s.vec_id AS query_id, s.i AS cent
         |  FROM cscore s JOIN qids ON s.vec_id = qids.vec_id
         |  WHERE s.rk <= 4),
         |coded AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT e.vec_id, b.s, b.c,
         |      row_number() OVER (PARTITION BY e.vec_id, b.s
         |        ORDER BY b.nrm - 2.0 * list_sum(list_transform(
         |          range(1, 9), j -> e.v[b.s * 8 + j] * b.bw[j])) ASC,
         |          b.c ASC) AS rk
         |    FROM emb e CROSS JOIN books b) WHERE rk = 1),
         |lut AS (
         |  SELECT q.vec_id AS query_id, b.s, b.c,
         |    list_sum(list_transform(range(1, 9),
         |      j -> qe.v[b.s * 8 + j] * b.bw[j])) AS part
         |  FROM qids q JOIN emb qe ON qe.vec_id = q.vec_id
         |  CROSS JOIN books b),
         |cand AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id
         |  FROM qprobe q JOIN assign a ON q.cent = a.cent
         |  WHERE q.query_id <> a.vec_id),
         |parts AS (
         |  SELECT ca.query_id, ca.neighbor_id, l.s, l.part
         |  FROM cand ca
         |  JOIN coded cd ON cd.vec_id = ca.neighbor_id
         |  JOIN lut l ON l.query_id = ca.query_id
         |    AND l.s = cd.s AND l.c = cd.c),
         |scored AS (
         |  SELECT query_id, neighbor_id, $adcSum AS score
         |  FROM parts GROUP BY query_id, neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "p_ann_ivfpq_res" -> {
      val adcSum = (0 until 8).map(s =>
        s"max(CASE WHEN s = $s THEN part END)").reduceLeft((a, b) =>
        s"($a + $b)")
      s"""WITH cents(i, w) AS (VALUES ${centroidValues(16, 64, 4242)}),
         |books(s, c, nrm, bw) AS (VALUES ${pqBookValues(8, 16, 8,
            9090)}),
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |cscore AS (
         |  SELECT e.vec_id, c.i,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_sum(list_transform(range(1, 65),
         |        j -> e.v[j] * c.w[j])) DESC, c.i DESC) AS rk
         |  FROM emb e CROSS JOIN cents c),
         |assign AS (SELECT vec_id, i AS cent FROM cscore WHERE rk = 1),
         |qids AS (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 20),
         |qprobe AS (
         |  SELECT s.vec_id AS query_id, s.i AS cent
         |  FROM cscore s JOIN qids ON s.vec_id = qids.vec_id
         |  WHERE s.rk <= 4),
         |coded AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT e.vec_id, b.s, b.c,
         |      row_number() OVER (PARTITION BY e.vec_id, b.s
         |        ORDER BY b.nrm - 2.0 * list_sum(list_transform(
         |          range(1, 9),
         |          j -> (e.v[b.s * 8 + j] - cw.w[b.s * 8 + j])
         |            * b.bw[j])) ASC,
         |          b.c ASC) AS rk
         |    FROM emb e JOIN assign a ON e.vec_id = a.vec_id
         |    JOIN cents cw ON cw.i = a.cent
         |    CROSS JOIN books b) WHERE rk = 1),
         |lut AS (
         |  SELECT q.vec_id AS query_id, b.s, b.c,
         |    list_sum(list_transform(range(1, 9),
         |      j -> qe.v[b.s * 8 + j] * b.bw[j])) AS part
         |  FROM qids q JOIN emb qe ON qe.vec_id = q.vec_id
         |  CROSS JOIN books b),
         |qbias AS (
         |  SELECT q.vec_id AS query_id, c.i AS cent,
         |    list_sum(list_transform(range(1, 65),
         |      j -> qe.v[j] * c.w[j])) AS bias
         |  FROM qids q JOIN emb qe ON qe.vec_id = q.vec_id
         |  CROSS JOIN cents c),
         |cand AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id, a.cent
         |  FROM qprobe q JOIN assign a ON q.cent = a.cent
         |  WHERE q.query_id <> a.vec_id),
         |parts AS (
         |  SELECT ca.query_id, ca.neighbor_id, ca.cent, l.s, l.part
         |  FROM cand ca
         |  JOIN coded cd ON cd.vec_id = ca.neighbor_id
         |  JOIN lut l ON l.query_id = ca.query_id
         |    AND l.s = cd.s AND l.c = cd.c),
         |scored AS (
         |  SELECT p.query_id, p.neighbor_id,
         |    (qb.bias + $adcSum) AS score
         |  FROM parts p JOIN qbias qb ON qb.query_id = p.query_id
         |    AND qb.cent = p.cent
         |  GROUP BY p.query_id, p.neighbor_id, qb.bias),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "p_sample" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7'), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, lang FROM ranked
        |  WHERE rk <= ceil(CAST(CASE lang WHEN 'en' THEN 0.5
        |    WHEN 'de' THEN 0.25 WHEN 'fr' THEN 1.0
        |    ELSE 0.125 END AS DOUBLE) * n))
        |SELECT doc_id, lang,
        |  CAST(row_number() OVER (ORDER BY
        |    md5(CAST(doc_id AS VARCHAR) || ':9'), doc_id) AS INT) AS pos
        |FROM kept ORDER BY doc_id""".stripMargin,
    "p_bm25" ->
      // decimal literals are CAST to DOUBLE before touching columns so
      // DuckDB's exact-decimal literal arithmetic cannot diverge from
      // Spark's double ops (e.g. tf * decimal 2.2 is exact in decimal
      // but rounded in double); x.5 terms are double-exact either way
      s"""WITH base AS (
         |  SELECT doc_id, $toks AS ts FROM documents),
         |lens AS (SELECT doc_id, len(ts) AS dl FROM base),
         |stats AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         |matched AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(ts) AS token FROM base)
         |  WHERE token IN ('spark', 'window', 'vector') GROUP BY 1, 2),
         |dfs AS (SELECT token, count(*) AS df FROM matched GROUP BY 1),
         |scored AS (
         |  SELECT m.doc_id,
         |    (CAST(s.n_docs - d.df + 0.5 AS DOUBLE) /
         |       CAST(d.df + 0.5 AS DOUBLE))
         |      * (m.tf * CAST(1.2 + 1 AS DOUBLE))
         |      / (m.tf + CAST(1.2 AS DOUBLE) *
         |          (CAST(1 - 0.75 AS DOUBLE) +
         |           CAST(0.75 AS DOUBLE) * (l.dl / s.avgdl))) AS sc
         |  FROM matched m JOIN dfs d USING (token)
         |  JOIN lens l USING (doc_id), stats s)
         |SELECT doc_id,
         |  CAST(sum(CAST(sc AS DECIMAL(38,12))) AS DOUBLE) AS score,
         |  count(*) AS n_terms
         |FROM scored GROUP BY 1
         |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,
    "p_bpe_encode" -> {
      val marked =
        """replace(regexp_replace(
          |  array_to_string(list_filter(str_split_regex(lower(text),
          |    '[^a-z0-9]+'), x -> x <> ''), ' '),
          |  '(.)', chr(1) || '\1' || chr(2), 'g'),
          |  chr(1) || ' ' || chr(2), ' ')""".stripMargin
      val folded = BpeMerges.foldLeft(marked) { case (s, (a, b)) =>
        s"replace($s, chr(1)||'$a'||chr(2)||chr(1)||'$b'||chr(2), " +
          s"chr(1)||'$a$b'||chr(2))"
      }
      s"""WITH enc AS (
         |  SELECT doc_id,
         |    regexp_replace($folded, '['||chr(1)||chr(2)||']', ' ',
         |      'g') AS es
         |  FROM documents)
         |SELECT doc_id,
         |  len(list_filter(str_split(es, ' '), x -> x <> ''))
         |    AS n_subwords,
         |  md5(array_to_string(list_filter(str_split(es, ' '),
         |    x -> x <> ''), ' ')) AS ehash
         |FROM enc ORDER BY doc_id""".stripMargin
    },
    "p_cms" ->
      s"""WITH occ AS (
         |  SELECT doc_id, unnest($toks) AS token FROM documents),
         |exact AS (
         |  SELECT token, count(*) AS exact FROM occ GROUP BY 1
         |  ORDER BY exact DESC, token LIMIT 30),
         |cells AS (
         |  SELECT doc_id % 4 AS shard, t.row,
         |    ${hex60("CAST(t.row AS VARCHAR) || ':9:' || token")} % 256
         |      AS col,
         |    count(*) AS cnt
         |  FROM occ, UNNEST(range(0, 4)) AS t(row)
         |  GROUP BY 1, 2, 3),
         |sk AS (
         |  SELECT row, col, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM cells GROUP BY 1, 2),
         |est AS (
         |  SELECT token, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
         |  FROM (
         |    SELECT e.token, s.cnt
         |    FROM exact e
         |    CROSS JOIN UNNEST(range(0, 4)) AS t(row)
         |    LEFT JOIN sk s ON s.row = t.row AND s.col =
         |      ${hex60("CAST(t.row AS VARCHAR) || ':9:' || e.token")}
         |        % 256)
         |  GROUP BY 1)
         |SELECT token, est, exact FROM est JOIN exact USING (token)
         |ORDER BY exact DESC, token""".stripMargin,
    "p_nfc" ->
      """WITH m AS (
        |  SELECT doc_id, text || ' nfc' ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'e' || chr(769)
        |         ELSE chr(233) END AS raw
        |  FROM documents)
        |SELECT doc_id, md5(nfc_normalize(raw)) AS nhash,
        |  nfc_normalize(raw) <> raw AS changed
        |FROM m ORDER BY doc_id""".stripMargin,
    "p_bloom_seen" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, text AS k,
         |    ${hexFoldAt("text", 1)} AS f1,
         |    ${hexFoldAt("text", 16)} AS f2
         |  FROM documents),
         |hp AS (
         |  SELECT doc_id, k, CAST(f1 % 4 AS INT) AS shard,
         |    f1 % 65536 AS a, f2 % 65536 AS b
         |  FROM keyed),
         |basepos AS (
         |  SELECT DISTINCT shard, (a + i.i * b) % 65536 AS p
         |  FROM hp, (SELECT unnest(range(0, 4)) AS i) i
         |  WHERE doc_id % 2 = 0),
         |probe AS (
         |  SELECT DISTINCT doc_id, shard, (a + i.i * b) % 65536 AS p
         |  FROM hp, (SELECT unnest(range(0, 4)) AS i) i),
         |mem AS (
         |  SELECT pr.doc_id, count(*) = count(bp.p) AS maybe_seen
         |  FROM probe pr LEFT JOIN basepos bp
         |    ON pr.shard = bp.shard AND pr.p = bp.p
         |  GROUP BY pr.doc_id),
         |bt AS (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0)
         |SELECT m.doc_id, m.maybe_seen,
         |  (b.text IS NOT NULL) AS exact_seen,
         |  (m.maybe_seen AND b.text IS NULL) AS is_fp
         |FROM mem m
         |JOIN documents d USING (doc_id)
         |LEFT JOIN bt b ON d.text = b.text
         |ORDER BY doc_id""".stripMargin,
    "p_winnow_indexed" ->
      s"""WITH $winnowSelCtes,
         |dho AS (SELECT DISTINCT doc_id, h FROM sel
         |        WHERE doc_id % 2 = 1 AND doc_id < 1000),
         |dhe AS (SELECT DISTINCT doc_id, h FROM sel
         |        WHERE doc_id % 2 = 0),
         |oke AS (SELECT h FROM dhe GROUP BY h
         |        HAVING count(*) <= 1000),
         |dhec AS (SELECT dhe.doc_id, dhe.h FROM dhe
         |         JOIN oke USING (h)),
         |pr AS (SELECT o.doc_id AS ob, e.doc_id AS ec,
         |    count(*) AS ns
         |  FROM dho o JOIN dhec e USING (h)
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |ag AS (SELECT ob AS doc_id, count(*) AS n_cands,
         |    max(ns) AS best_shared
         |  FROM pr GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_cands, 0) AS n_cands,
         |  coalesce(a.best_shared, 0) AS best_shared
         |FROM documents d LEFT JOIN ag a USING (doc_id)
         |WHERE d.doc_id % 2 = 1 AND d.doc_id < 1000
         |ORDER BY doc_id""".stripMargin,
    "p_links" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><body><p>intro</p><a href="http://site'
        |    || CAST(doc_id % 7 AS VARCHAR) || '.com/p/'
        |    || CAST(doc_id % 40 AS VARCHAR)
        |    || '?a=1&amp;b=2">out</a>'
        |    || (CASE WHEN doc_id % 2 = 0 THEN
        |         '<a href="https://hub.example.org/home">hub</a>'
        |       ELSE '<a href="/relative/skipped">rel</a>' END)
        |    || '<a href=''http://unquoted-style.com/skipped''>q</a>'
        |    || '</body></html>' AS html
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, unnest(regexp_extract_all(
        |    replace(html, '&amp;', '&'),
        |    '[hH][rR][eE][fF]="(https?://[^"]+)"', 1)) AS url
        |  FROM h)
        |SELECT url, count(*) AS n_refs,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM ex GROUP BY url ORDER BY url""".stripMargin,
    "p_triangles" ->
      s"""WITH $sigCtes,
         |e AS (SELECT DISTINCT id1 AS a, id2 AS b FROM vpairs
         |      WHERE id1 <> id2 AND (id1 < 500 OR id2 < 500)),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pn AS (SELECT id, count(*) AS n_triangles FROM (
         |    SELECT x AS id FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri) u GROUP BY 1),
         |deg AS (SELECT id, count(*) AS degree FROM (
         |    SELECT a AS id FROM e UNION ALL SELECT b FROM e) u
         |  GROUP BY 1)
         |SELECT deg.id AS doc_id, deg.degree,
         |  coalesce(pn.n_triangles, 0) AS n_triangles
         |FROM deg LEFT JOIN pn USING (id) ORDER BY doc_id""".stripMargin,
    "p_hash_embed" ->
      s"""WITH tc AS (
         |  SELECT doc_id, t, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($toks) AS t FROM documents) u
         |  GROUP BY 1, 2),
         |sb AS (
         |  SELECT doc_id, CAST(${hex60("t")} % 64 AS INT) AS b,
         |    CASE WHEN (strpos('0123456789abcdef',
         |        substr(md5(t), 16, 1)) - 1) % 2 = 0
         |      THEN tf ELSE -tf END AS sv
         |  FROM tc)
         |SELECT doc_id, b, CAST(sum(sv) AS BIGINT) AS v
         |FROM sb GROUP BY 1, 2 HAVING sum(sv) <> 0
         |ORDER BY 1, 2""".stripMargin,
    "p_neyman" -> {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")
      // ascending-stratum fixed fold — the engine's driver fold order
      val totalExpr = segs.map(g =>
        s"(SELECT wgt FROM w WHERE stratum = '$g')")
        .reduceLeft((a, b) => s"($a + $b)")
      s"""WITH m AS (
         |  SELECT c_mktsegment AS stratum, count(*) AS n_rows,
         |    CAST(sum(c_custkey % 97) AS BIGINT) AS s1,
         |    CAST(sum(CAST(c_custkey % 97 AS HUGEINT)
         |      * (c_custkey % 97)) AS HUGEINT) AS s2
         |  FROM customer GROUP BY 1),
         |w AS (
         |  SELECT stratum, n_rows, s1, s2,
         |    sqrt(CAST(n_rows * s2 - CAST(s1 AS HUGEINT) * s1
         |      AS DOUBLE)) AS wgt
         |  FROM m),
         |t AS (SELECT $totalExpr AS total),
         |i AS (
         |  SELECT w.stratum, w.n_rows, w.s1, w.s2,
         |    1000.0 * w.wgt / t.total AS ideal
         |  FROM w CROSS JOIN t),
         |f AS (
         |  SELECT *, CAST(floor(ideal) AS BIGINT) AS fl,
         |    ideal - floor(ideal) AS remv
         |  FROM i),
         |lo AS (SELECT CAST(1000 - sum(fl) AS BIGINT) AS leftover
         |  FROM f),
         |rk AS (
         |  SELECT *, row_number() OVER (ORDER BY remv DESC, stratum)
         |    AS rnk
         |  FROM f)
         |SELECT rk.stratum, rk.n_rows, rk.s1,
         |  CAST(rk.s2 AS VARCHAR) AS s2,
         |  rk.fl + CASE WHEN rk.rnk <= lo.leftover THEN 1 ELSE 0 END
         |    AS alloc
         |FROM rk CROSS JOIN lo ORDER BY stratum""".stripMargin
    },
    "p_neyman_cap" -> {
      // Water-filling replay for the planted-cap fixture: '0TINY'
      // owns all variance → classical pass gives it the whole 500 →
      // capped at its 40 rows; the 460 leftover re-apportions over
      // the zero-variance pool proportional-by-count with exact
      // integer largest-remainder (rank by remainder DESC, stratum).
      """WITH base AS (
        |  SELECT CASE WHEN c_custkey <= 40 THEN '0TINY'
        |              ELSE c_mktsegment END AS stratum,
        |    CASE WHEN c_custkey <= 40 THEN c_custkey
        |         WHEN c_mktsegment = 'MACHINERY' THEN NULL
        |         ELSE 7 END AS v
        |  FROM customer),
        |m AS (
        |  SELECT stratum, count(*) AS n_rows,
        |    CAST(COALESCE(sum(v), 0) AS BIGINT) AS s1,
        |    COALESCE(sum(CAST(v AS HUGEINT) * v),
        |      CAST(0 AS HUGEINT)) AS s2
        |  FROM base GROUP BY 1),
        |pool AS (
        |  SELECT m.*,
        |    500 - sum(CASE WHEN stratum = '0TINY' THEN n_rows
        |        ELSE 0 END) OVER () AS rb,
        |    sum(CASE WHEN stratum <> '0TINY' THEN n_rows
        |        ELSE 0 END) OVER () AS n_tot
        |  FROM m),
        |f AS (
        |  SELECT *, rb * n_rows // n_tot AS fl,
        |    rb * n_rows % n_tot AS remv
        |  FROM pool WHERE stratum <> '0TINY'),
        |lo AS (
        |  SELECT CAST(max(rb) - sum(fl) AS BIGINT) AS leftover FROM f),
        |rk AS (
        |  SELECT *, row_number() OVER (ORDER BY remv DESC, stratum)
        |    AS rnk
        |  FROM f)
        |SELECT stratum, n_rows, s1, CAST(s2 AS VARCHAR) AS s2,
        |  CAST(n_rows AS BIGINT) AS alloc
        |FROM m WHERE stratum = '0TINY'
        |UNION ALL
        |SELECT rk.stratum, rk.n_rows, rk.s1,
        |  CAST(rk.s2 AS VARCHAR) AS s2,
        |  CAST(rk.fl + CASE WHEN rk.rnk <= lo.leftover
        |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM rk CROSS JOIN lo
        |ORDER BY stratum""".stripMargin
    },
    "p_video_dedup" -> {
      val contrib =
        "(unicode(substr(text, i, 1)) * 2654435761 + j * 40503) % 1000"
      val cellSums = (0 until 72).map(g =>
        s"sum(CASE WHEN j % 72 = $g THEN $contrib ELSE 0 END) AS s$g")
        .mkString(", ")
      // per-frame dHash: bit b = r*8+c set iff s(r*9+c) < s(r*9+c+1);
      // word w carries bits 16w..16w+15 — VideoFpHashes' exact packing
      val words = (0 until 4).map { w =>
        val bits = (0 until 16).map { i =>
          val b = w * 16 + i; val r = b / 8; val c = b % 8
          s"CASE WHEN s${r * 9 + c} < s${r * 9 + c + 1} " +
            s"THEN ${1 << i} ELSE 0 END"
        }.mkString(" + ")
        s"($bits) AS w$w"
      }.mkString(", ")
      s"""WITH pos AS (
         |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
         |  FROM documents),
         |posf AS (
         |  SELECT doc_id, (i - 1) // 128 AS f, (i - 1) % 128 AS j,
         |    text, i
         |  FROM pos),
         |csums AS (
         |  SELECT doc_id, f, $cellSums FROM posf GROUP BY doc_id, f),
         |hashes AS (SELECT doc_id, f, $words FROM csums),
         |hl AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(w3 AS BIGINT) * 65536 + w2 AS hi,
         |    CAST(w1 AS BIGINT) * 65536 + w0 AS lo
         |  FROM hashes),
         |nf AS (SELECT doc_id, count(*) AS n FROM hl GROUP BY doc_id),
         |capped AS (
         |  SELECT doc_id, hi, lo FROM (
         |    SELECT *, count(*) OVER (PARTITION BY hi, lo) AS b
         |    FROM hl) WHERE b <= 1000),
         |pairs AS (
         |  SELECT l.doc_id AS id1, r.doc_id AS id2,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM capped l JOIN capped r
         |    ON l.hi = r.hi AND l.lo = r.lo AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT p.id1, p.id2, p.shared, n1.n AS n1, n2.n AS n2
         |FROM pairs p JOIN nf n1 ON p.id1 = n1.doc_id
         |JOIN nf n2 ON p.id2 = n2.doc_id
         |ORDER BY 1, 2""".stripMargin
    },
    "p_pmi" ->
      s"""WITH toks AS (SELECT doc_id, $toks AS t FROM documents),
         |uni AS (
         |  SELECT u.tk AS token, count(*) AS c FROM (
         |    SELECT unnest(t) AS tk FROM toks) u GROUP BY 1),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
         |bg AS (
         |  SELECT unnest(list_transform(range(1, len(t)),
         |    i -> t[i] || ' ' || t[i + 1])) AS bigram
         |  FROM toks),
         |bi AS (
         |  SELECT bigram, count(*) AS c_xy FROM bg
         |  GROUP BY 1 HAVING count(*) >= 5)
         |SELECT bi.bigram, bi.c_xy, ux.c AS c_x, uy.c AS c_y,
         |  n.n_uni,
         |  CAST(bi.c_xy * n.n_uni AS DOUBLE)
         |    / CAST(ux.c * uy.c AS DOUBLE) AS pmi_ratio
         |FROM bi
         |JOIN uni ux ON split_part(bi.bigram, ' ', 1) = ux.token
         |JOIN uni uy ON split_part(bi.bigram, ' ', 2) = uy.token
         |CROSS JOIN n
         |ORDER BY pmi_ratio DESC, bi.bigram LIMIT 50""".stripMargin,
    "p_image_indexed" -> {
      val contrib =
        "(unicode(substr(text, i, 1)) * 2654435761 + (i - 1) * 40503) % 1000"
      val cellSums = (0 until 72).map(g =>
        s"sum(CASE WHEN (i - 1) % 72 = $g THEN $contrib ELSE 0 END) AS s$g")
        .mkString(", ")
      val cellCoal = (0 until 72).map(g =>
        s"coalesce(s$g, 0) AS s$g").mkString(", ")
      val words = (0 until 4).map { w =>
        val bits = (0 until 16).map { i =>
          val b = w * 16 + i; val r = b / 8; val c = b % 8
          s"CASE WHEN s${r * 9 + c} < s${r * 9 + c + 1} " +
            s"THEN ${1 << i} ELSE 0 END"
        }.mkString(" + ")
        s"($bits) AS w$w"
      }.mkString(", ")
      val ham = (0 until 4).map(w =>
        s"bit_count(xor(CAST(a.w$w AS BIGINT), CAST(b2.w$w AS BIGINT)))")
        .mkString(" + ")
      s"""WITH pos AS (
         |  SELECT doc_id, unnest(range(1, length(text) + 1)) AS i,
         |    text
         |  FROM documents),
         |csums AS (SELECT doc_id, $cellSums FROM pos GROUP BY doc_id),
         |cells AS (
         |  SELECT d.doc_id, $cellCoal
         |  FROM documents d LEFT JOIN csums USING (doc_id)),
         |hashes AS (SELECT doc_id, $words FROM cells),
         |chunks AS (
         |  SELECT doc_id, 0 AS c, w0 AS v FROM hashes UNION ALL
         |  SELECT doc_id, 1, w1 FROM hashes UNION ALL
         |  SELECT doc_id, 2, w2 FROM hashes UNION ALL
         |  SELECT doc_id, 3, w3 FROM hashes),
         |capped AS (
         |  SELECT doc_id, c, v FROM (
         |    SELECT *, count(*) OVER (PARTITION BY c, v) AS n
         |    FROM chunks WHERE doc_id % 5 <> 0) WHERE n <= 1000),
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS id1, c.doc_id AS id2
         |  FROM chunks b JOIN capped c ON b.c = c.c AND b.v = c.v
         |  WHERE b.doc_id % 5 = 0)
         |SELECT p.id1 AS batch_id, p.id2 AS corpus_id,
         |  CAST($ham AS INT) AS dist
         |FROM cand p JOIN hashes a ON p.id1 = a.doc_id
         |JOIN hashes b2 ON p.id2 = b2.doc_id
         |WHERE $ham <= 3
         |ORDER BY 1, 2""".stripMargin
    },
    "p_t_close" ->
      s"""WITH cells AS (
         |  SELECT c_mktsegment AS q, c_nationkey AS sv, count(*) AS n
         |  FROM customer GROUP BY 1, 2),
         |g AS (SELECT sv, CAST(sum(n) AS BIGINT) AS gv
         |  FROM cells GROUP BY 1),
         |t AS (SELECT CAST(sum(gv) AS BIGINT) AS tot,
         |  count(*) AS m FROM g),
         |cls AS (SELECT q, CAST(sum(n) AS BIGINT) AS nc
         |  FROM cells GROUP BY 1),
         |cat AS (
         |  SELECT c.q,
         |    CAST(sum(abs(c.n * t.tot - g.gv * cls.nc)) AS BIGINT)
         |      AS present,
         |    CAST(sum(g.gv) AS BIGINT) AS gsum
         |  FROM cells c JOIN g USING (sv)
         |  JOIN cls ON c.q = cls.q CROSS JOIN t
         |  GROUP BY c.q),
         |dense AS (
         |  SELECT cls.q, g.sv, g.gv, cls.nc, coalesce(c.n, 0) AS n
         |  FROM cls CROSS JOIN g
         |  LEFT JOIN cells c ON c.q = cls.q AND c.sv = g.sv),
         |cum AS (
         |  SELECT q, nc,
         |    sum(n * t.tot - gv * nc)
         |      OVER (PARTITION BY q ORDER BY sv) AS cm,
         |    t.tot, t.m
         |  FROM dense CROSS JOIN t),
         |ordd AS (
         |  SELECT q, CAST(sum(abs(cm)) AS BIGINT) AS odist_num,
         |    CAST(max(nc * tot * greatest(m - 1, 1)) AS BIGINT)
         |      AS odist_den
         |  FROM cum GROUP BY q)
         |SELECT cat.q AS c_mktsegment, cls.nc AS class_size,
         |  CAST(cat.present + cls.nc * (t.tot - cat.gsum) AS BIGINT)
         |    AS dist_num,
         |  CAST(2 * cls.nc * t.tot AS BIGINT) AS dist_den,
         |  (cat.present + cls.nc * (t.tot - cat.gsum)) * 10
         |    <= 1 * (2 * cls.nc * t.tot) AS ok,
         |  ordd.odist_num, ordd.odist_den,
         |  ordd.odist_num * 50 <= 1 * ordd.odist_den AS ook
         |FROM cat JOIN cls ON cat.q = cls.q
         |JOIN ordd ON cat.q = ordd.q CROSS JOIN t
         |ORDER BY 1""".stripMargin,
    "p_lpa" -> {
      val rounds = (1 to 3).map { t =>
        s"""n$t AS (
           |  SELECT s.a AS id, l.label, count(*) AS n
           |  FROM sym s JOIN l${t - 1} l ON l.id = s.b GROUP BY 1, 2),
           |l$t AS (
           |  SELECT id, label FROM (
           |    SELECT id, label, row_number() OVER (PARTITION BY id
           |      ORDER BY n DESC, label) AS rk FROM n$t)
           |  WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sigCtes,
         |e0 AS (SELECT DISTINCT id1 AS a, id2 AS b FROM vpairs
         |       WHERE id1 <> id2 AND (id1 < 500 OR id2 < 500)),
         |sym AS (SELECT DISTINCT a, b FROM (
         |    SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0)),
         |l0 AS (SELECT DISTINCT a AS id, a AS label FROM sym),
         |$rounds
         |SELECT id AS doc_id, label AS community
         |FROM l3 ORDER BY doc_id""".stripMargin
    },
    "p_bitext" ->
      s"""WITH s AS (SELECT vec_id AS src_id,
         |    CAST(embedding AS DOUBLE[]) AS sv
         |  FROM embeddings WHERE vec_id % 2 = 0
         |  ORDER BY vec_id LIMIT 250),
         |t AS (SELECT vec_id AS tgt_id,
         |    CAST(embedding AS DOUBLE[]) AS tv
         |  FROM embeddings WHERE vec_id % 2 = 1),
         |p AS (SELECT src_id, tgt_id,
         |    list_cosine_similarity(sv, tv) AS cos
         |  FROM s CROSS JOIN t),
         |rs AS (SELECT src_id, cos, row_number() OVER (
         |    PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS r
         |  FROM p),
         |asrc AS (SELECT src_id, ${pivotAvgSql(4)} AS avg_s
         |  FROM rs WHERE r <= 4 GROUP BY src_id),
         |rt AS (SELECT tgt_id, cos, row_number() OVER (
         |    PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS r
         |  FROM p),
         |atgt AS (SELECT tgt_id, ${pivotAvgSql(4)} AS avg_t
         |  FROM rt WHERE r <= 4 GROUP BY tgt_id),
         |m AS (SELECT p.src_id, p.tgt_id,
         |    p.cos / ((a.avg_s + b.avg_t) / 2) AS margin
         |  FROM p JOIN asrc a USING (src_id)
         |  JOIN atgt b USING (tgt_id)),
         |best AS (SELECT src_id, tgt_id, row_number() OVER (
         |    PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS mr
         |  FROM m)
         |SELECT src_id, tgt_id FROM best WHERE mr = 1
         |ORDER BY src_id""".stripMargin,
    "p_decontam_seen" ->
      s"""WITH evg AS (
         |  SELECT DISTINCT g FROM (
         |    SELECT unnest($shinglesSql) AS g FROM documents
         |    WHERE doc_id % 20 = 0)),
         |ehp AS (
         |  SELECT ${hexFoldAt("g", 1)} AS f1,
         |    ${hexFoldAt("g", 16)} AS f2
         |  FROM evg),
         |seenpos AS (
         |  SELECT DISTINCT CAST(f1 % 4 AS INT) AS shard,
         |    ((f1 % 262144) + i.i * (f2 % 262144)) % 262144 AS p
         |  FROM ehp, (SELECT unnest(range(0, 4)) AS i) i),
         |tg AS (
         |  SELECT doc_id, g FROM (
         |    SELECT doc_id, unnest($shinglesSql) AS g FROM documents
         |    WHERE doc_id % 20 <> 0)),
         |thp AS (
         |  SELECT doc_id, g, CAST(${hexFoldAt("g", 1)} % 4 AS INT)
         |      AS shard,
         |    ${hexFoldAt("g", 1)} % 262144 AS a,
         |    ${hexFoldAt("g", 16)} % 262144 AS b
         |  FROM tg),
         |tpp AS (
         |  SELECT DISTINCT doc_id, g, shard,
         |    (a + i.i * b) % 262144 AS p
         |  FROM thp, (SELECT unnest(range(0, 4)) AS i) i),
         |mem AS (
         |  SELECT doc_id, g, count(*) = count(sp.p) AS maybe
         |  FROM tpp LEFT JOIN seenpos sp USING (shard, p)
         |  GROUP BY doc_id, g)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_suspicious
         |FROM mem GROUP BY 1 ORDER BY 1""".stripMargin,
    "p_er" ->
      """WITH RECURSIVE reg0 AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS ck,
        |    rtrim(replace(replace(replace(replace(replace(replace(
        |      replace(replace(replace(replace(
        |      reverse(lpad(CAST(c_custkey AS VARCHAR), 6, '0')),
        |      '0', 'zero '), '1', 'one '), '2', 'two '),
        |      '3', 'three '), '4', 'four '), '5', 'five '),
        |      '6', 'six '), '7', 'seven '), '8', 'eight '),
        |      '9', 'nine ')) AS nm
        |  FROM customer),
        |reg AS (
        |  SELECT ck * 2 AS rid, nm AS name FROM reg0
        |  UNION ALL
        |  SELECT ck * 2 + 1, substr(nm, 1, length(nm) - 1)
        |  FROM reg0 WHERE ck % 3 = 0),
        |kd AS (
        |  SELECT DISTINCT rid, t, v FROM (
        |    SELECT rid, 0 AS t, substr(name, 1, 20) AS v FROM reg
        |    UNION ALL SELECT rid, 1, right(name, 10) FROM reg)
        |  WHERE v IS NOT NULL),
        |okk AS (SELECT t, v FROM kd GROUP BY t, v
        |        HAVING count(*) <= 100),
        |kc AS (SELECT kd.rid, kd.t, kd.v FROM kd
        |       JOIN okk USING (t, v)),
        |cand AS (SELECT DISTINCT a.rid AS id1, b.rid AS id2
        |  FROM kc a JOIN kc b
        |    ON a.t = b.t AND a.v = b.v AND a.rid < b.rid),
        |links AS (
        |  SELECT c.id1, c.id2
        |  FROM cand c JOIN reg n1 ON n1.rid = c.id1
        |    JOIN reg n2 ON n2.rid = c.id2
        |  WHERE levenshtein(n1.name, n2.name) <= 1),
        |edges AS (SELECT id1, id2 FROM links
        |          UNION SELECT id2, id1 FROM links),
        |reach(id, comp) AS (
        |  SELECT rid, rid FROM reg
        |  UNION
        |  SELECT e.id2, r.comp FROM reach r
        |  JOIN edges e ON e.id1 = r.id),
        |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
        |nl AS (SELECT id, count(*) AS n_links FROM (
        |    SELECT id1 AS id FROM links
        |    UNION ALL SELECT id2 FROM links)
        |  GROUP BY 1)
        |SELECT c.id AS rid, c.comp AS entity,
        |  coalesce(nl.n_links, 0) AS n_links
        |FROM comps c LEFT JOIN nl USING (id)
        |ORDER BY rid""".stripMargin,
    "p_zorder" ->
      """WITH b AS (SELECT CAST(min(l_partkey) AS BIGINT) AS mnx,
        |    CAST(max(l_partkey) AS BIGINT) AS mxx,
        |    CAST(min(l_suppkey) AS BIGINT) AS mny,
        |    CAST(max(l_suppkey) AS BIGINT) AS mxy
        |  FROM lineitem),
        |s AS (
        |  SELECT
        |    CASE WHEN mxx = mnx THEN 0 ELSE
        |      (greatest(0, least(mxx - mnx,
        |        CAST(l_partkey AS BIGINT) - mnx)) * 65535)
        |        // (mxx - mnx) END AS sx,
        |    CASE WHEN mxy = mny THEN 0 ELSE
        |      (greatest(0, least(mxy - mny,
        |        CAST(l_suppkey AS BIGINT) - mny)) * 65535)
        |        // (mxy - mny) END AS sy
        |  FROM lineitem, b),
        |z AS (
        |  SELECT CAST(list_sum(list_transform(range(0, 16), bb ->
        |      (((sx >> bb) & 1) << (2 * bb))
        |        + (((sy >> bb) & 1) << (2 * bb + 1)))) AS BIGINT)
        |    AS zv
        |  FROM s)
        |SELECT zv // 16777216 AS bucket, count(*) AS n_rows,
        |  min(zv) AS zv_min, max(zv) AS zv_max,
        |  CAST(sum(zv) % 1152921504606846976 AS BIGINT) AS zv_fold
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "p_winnow" ->
      s"""WITH $winnowSelCtes,
         |fp AS (SELECT doc_id, count(*) AS n_fps,
         |    CAST(sum(h) % 1152921504606846976 AS BIGINT) AS fp_fold
         |  FROM sel GROUP BY doc_id),
         |dh AS (SELECT DISTINCT doc_id, h FROM sel),
         |okh AS (SELECT h FROM dh GROUP BY h HAVING count(*) <= 1000),
         |dhc AS (SELECT dh.doc_id, dh.h FROM dh JOIN okh USING (h)),
         |pr AS (SELECT a.doc_id AS pid, b.doc_id AS did
         |  FROM dhc a JOIN dhc b ON a.h = b.h AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id < 500
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |pc AS (SELECT did AS doc_id, count(*) AS n_partners FROM pr
         |  GROUP BY 1)
         |SELECT d.doc_id, coalesce(f.n_fps, 0) AS n_fps,
         |  coalesce(f.fp_fold, 0) AS fp_fold,
         |  coalesce(pc.n_partners, 0) AS n_partners
         |FROM documents d
         |LEFT JOIN fp f USING (doc_id)
         |LEFT JOIN pc USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "p_winnow_incr" ->
      s"""WITH $winnowSelCtes,
         |dh AS (SELECT DISTINCT doc_id, h FROM sel),
         |okh AS (SELECT h FROM dh GROUP BY h HAVING count(*) <= 1000),
         |dhc AS (SELECT dh.doc_id, dh.h FROM dh JOIN okh USING (h))
         |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
         |  count(*) AS n_shared
         |FROM dhc a JOIN dhc b ON a.h = b.h AND a.doc_id <> b.doc_id
         |WHERE a.doc_id % 10 = 3 AND a.doc_id < 5000
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY 1, 2""".stripMargin,
    "p_simhash_incr" ->
      s"""WITH $simhashChunkCtes,
         |spairs AS (
         |  SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS corpus_id,
         |    l.fp AS fp1, r.fp AS fp2
         |  FROM chunks l JOIN chunks r
         |    ON l.chunk = r.chunk AND l.val = r.val
         |    AND l.doc_id <> r.doc_id
         |  WHERE l.doc_id % 10 = 3 AND l.doc_id < 5000)
         |SELECT new_id, corpus_id,
         |  CAST(list_sum(list_transform(range(1, 65),
         |    i -> CASE WHEN substr(fp1, i, 1) = substr(fp2, i, 1)
         |      THEN 0 ELSE 1 END)) AS INT) AS dist
         |FROM spairs
         |WHERE list_sum(list_transform(range(1, 65),
         |    i -> CASE WHEN substr(fp1, i, 1) = substr(fp2, i, 1)
         |      THEN 0 ELSE 1 END)) <= 3
         |ORDER BY 1, 2""".stripMargin,
    "p_manifest" ->
      s"""WITH sh AS (
         |  SELECT
         |    ${hex60("CAST(doc_id AS VARCHAR) || ':42'")} % 8 AS shard,
         |    length(text) AS n_chars,
         |    ${hex60("CAST(doc_id AS VARCHAR) || '|' || md5(text)")}
         |      AS fp
         |  FROM documents)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(fp) % 1152921504606846976 AS BIGINT)
         |    AS fingerprint
         |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,
    "p_heavy" ->
      s"""WITH occ AS (
         |  SELECT doc_id % 4 AS shard, unnest($toks) AS token
         |  FROM documents),
         |sc AS (
         |  SELECT shard, token, count(*) AS c FROM occ GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT token FROM (
         |    SELECT shard, token,
         |      row_number() OVER (PARTITION BY shard
         |        ORDER BY c DESC, token) AS rn
         |    FROM sc) WHERE rn <= 50),
         |cells AS (
         |  SELECT shard, t.row,
         |    ${hex60("CAST(t.row AS VARCHAR) || ':9:' || token")} % 256
         |      AS col,
         |    CAST(sum(c) AS BIGINT) AS cnt
         |  FROM sc, UNNEST(range(0, 4)) AS t(row)
         |  GROUP BY 1, 2, 3),
         |sk AS (
         |  SELECT row, col, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM cells GROUP BY 1, 2),
         |est AS (
         |  SELECT token, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
         |  FROM (
         |    SELECT ca.token, s.cnt
         |    FROM cand ca
         |    CROSS JOIN UNNEST(range(0, 4)) AS t(row)
         |    LEFT JOIN sk s ON s.row = t.row AND s.col =
         |      ${hex60("CAST(t.row AS VARCHAR) || ':9:' || ca.token")}
         |        % 256)
         |  GROUP BY 1)
         |SELECT token, est FROM est
         |ORDER BY est DESC, token LIMIT 25""".stripMargin,
    "p_drift" ->
      """WITH st AS (
        |  SELECT doc_id % 2 AS side, col_name, value_s FROM (
        |    SELECT doc_id, 'lang' AS col_name, lang AS value_s
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id, 'source', source FROM documents
        |    UNION ALL
        |    SELECT doc_id, 'n_chars_bin',
        |      CAST(CAST(floor(n_chars / 500) AS BIGINT) AS VARCHAR)
        |    FROM documents)),
        |vc AS (
        |  SELECT col_name, value_s,
        |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cr,
        |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cc
        |  FROM st GROUP BY 1, 2),
        |tot AS (
        |  SELECT col_name, CAST(sum(cr) AS BIGINT) AS nr,
        |    CAST(sum(cc) AS BIGINT) AS nc
        |  FROM vc GROUP BY 1),
        |nm AS (
        |  SELECT v.col_name,
        |    sum(abs(CAST(v.cr AS HUGEINT) * t.nc
        |      - CAST(v.cc AS HUGEINT) * t.nr)) AS num
        |  FROM vc v JOIN tot t USING (col_name) GROUP BY 1)
        |SELECT n.col_name, t.nr AS n_ref, t.nc AS n_cur,
        |  CAST(n.num AS DOUBLE)
        |    / (CAST(t.nr AS DOUBLE) * CAST(t.nc AS DOUBLE)) AS l1,
        |  CAST(n.num AS DOUBLE)
        |    / (CAST(t.nr AS DOUBLE) * CAST(t.nc AS DOUBLE)) > 0.05
        |    AS drifted
        |FROM nm n JOIN tot t USING (col_name)
        |ORDER BY col_name""".stripMargin,
    "p_checks" ->
      """WITH m AS (
        |  SELECT count(*) AS n,
        |    count(CASE WHEN text IS NULL THEN 1 END) AS nn,
        |    count(CASE WHEN doc_id IS NOT NULL THEN 1 END)
        |      - count(DISTINCT doc_id) AS du,
        |    count(CASE WHEN n_chars < 1 OR n_chars > 100000 THEN 1 END)
        |      AS nr,
        |    count(CASE WHEN NOT regexp_matches(lang, '^[a-z]{2}$')
        |      THEN 1 END) AS nl
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'min_rows_100' AS check_name, n AS observed,
        |    n >= 100 AS passed FROM m
        |  UNION ALL SELECT 'not_null_text', nn, nn = 0 FROM m
        |  UNION ALL SELECT 'unique_doc_id', du, du = 0 FROM m
        |  UNION ALL SELECT 'in_range_n_chars_1_100000', nr, nr = 0 FROM m
        |  UNION ALL SELECT 'matches_lang', nl, nl = 0 FROM m)
        |ORDER BY check_name""".stripMargin,
    "p_reservoir" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7'), doc_id)
        |      AS rn
        |  FROM documents)
        |WHERE rn <= 40 ORDER BY doc_id""".stripMargin,
    "p_profile" ->
      """WITH st AS (
        |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR)
        |    AS value_s, doc_id AS value_n FROM documents
        |  UNION ALL
        |  SELECT 'lang', lang, CAST(NULL AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', CAST(n_chars AS VARCHAR), n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', source, CAST(NULL AS BIGINT) FROM documents),
        |vc AS (
        |  SELECT col_name, value_s, value_n, count(*) AS cnt
        |  FROM st GROUP BY 1, 2, 3),
        |ag AS (
        |  SELECT col_name,
        |    CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(coalesce(sum(CASE WHEN value_s IS NULL THEN cnt END),
        |      0) AS BIGINT) AS n_null,
        |    count(CASE WHEN value_s IS NOT NULL THEN 1 END)
        |      AS n_distinct,
        |    coalesce(min(value_n), -1) AS min_n,
        |    coalesce(max(value_n), -1) AS max_n,
        |    min(value_s) AS min_s,
        |    max(value_s) AS max_s
        |  FROM vc GROUP BY 1),
        |tp AS (
        |  SELECT col_name, value_s AS top1, cnt AS top1_cnt FROM (
        |    SELECT col_name, value_s, cnt,
        |      row_number() OVER (PARTITION BY col_name
        |        ORDER BY cnt DESC, value_s) AS rn
        |    FROM vc WHERE value_s IS NOT NULL)
        |  WHERE rn = 1)
        |SELECT a.col_name, n, n_null, n_distinct, min_n, max_n,
        |  min_s, max_s, coalesce(top1, '') AS top1,
        |  CAST(coalesce(top1_cnt, 0) AS BIGINT) AS top1_cnt
        |FROM ag a LEFT JOIN tp USING (col_name)
        |ORDER BY col_name""".stripMargin,
    "p_pagerank" ->
      """WITH edges AS (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
        |    count(*) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |nodes AS (SELECT src AS id FROM edges
        |          UNION SELECT dst FROM edges),
        |cnt AS (SELECT count(*) AS nn FROM nodes),
        |outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY 1),
        |r0 AS (SELECT id, 1000000000000 // (SELECT nn FROM cnt)
        |         AS rank FROM nodes),
        |c1 AS (SELECT e.dst, CAST(sum(
        |         (CAST(r.rank AS HUGEINT) * e.w) // o.out_w)
        |         AS BIGINT) AS cs
        |       FROM edges e JOIN outw o ON e.src = o.src
        |       JOIN r0 r ON r.id = e.src GROUP BY 1),
        |r1 AS (SELECT n.id, CAST(150000000000 // (SELECT nn FROM cnt)
        |         + (85 * coalesce(c.cs, 0)) // 100 AS BIGINT) AS rank
        |       FROM nodes n LEFT JOIN c1 c ON n.id = c.dst),
        |c2 AS (SELECT e.dst, CAST(sum(
        |         (CAST(r.rank AS HUGEINT) * e.w) // o.out_w)
        |         AS BIGINT) AS cs
        |       FROM edges e JOIN outw o ON e.src = o.src
        |       JOIN r1 r ON r.id = e.src GROUP BY 1),
        |r2 AS (SELECT n.id, CAST(150000000000 // (SELECT nn FROM cnt)
        |         + (85 * coalesce(c.cs, 0)) // 100 AS BIGINT) AS rank
        |       FROM nodes n LEFT JOIN c2 c ON n.id = c.dst),
        |c3 AS (SELECT e.dst, CAST(sum(
        |         (CAST(r.rank AS HUGEINT) * e.w) // o.out_w)
        |         AS BIGINT) AS cs
        |       FROM edges e JOIN outw o ON e.src = o.src
        |       JOIN r2 r ON r.id = e.src GROUP BY 1),
        |r3 AS (SELECT n.id, CAST(150000000000 // (SELECT nn FROM cnt)
        |         + (85 * coalesce(c.cs, 0)) // 100 AS BIGINT) AS rank
        |       FROM nodes n LEFT JOIN c3 c ON n.id = c.dst)
        |SELECT nt.n_name AS nation, r3.rank
        |FROM r3 JOIN nation nt ON r3.id = nt.n_nationkey
        |ORDER BY rank DESC, nation""".stripMargin,
    "p_quality_cls" ->
      s"""WITH base AS (
         |  SELECT doc_id, $toks AS ts FROM documents),
         |tk AS (
         |  SELECT doc_id, len(ts) AS dl, unnest(ts) AS token FROM base),
         |tc AS (
         |  SELECT doc_id, dl, token, count(*) AS cnt
         |  FROM tk GROUP BY 1, 2, 3),
         |tb AS (
         |  SELECT doc_id, dl, cnt, ${hex60("token")} % 64 AS b FROM tc),
         |tw AS (
         |  SELECT doc_id, dl, cnt,
         |    ((CAST(${hex60("'w:7:' || CAST(b AS VARCHAR)")} AS DOUBLE)
         |       / 1152921504606846976.0) * 2 - 1) AS w
         |  FROM tb),
         |m AS (
         |  SELECT doc_id,
         |    CAST(sum(CAST((cnt / dl) * w AS DECIMAL(38,15)))
         |      AS DOUBLE) + CAST(0.0 AS DOUBLE) AS margin,
         |    max(dl) AS n_tokens
         |  FROM tw GROUP BY 1)
         |SELECT doc_id, margin, n_tokens, margin > 0 AS keep
         |FROM m ORDER BY doc_id""".stripMargin,
    "p_para_dedup" ->
      """WITH built AS (
        |  SELECT doc_id,
        |    concat_ws(' <p> ', substr(text, 1, 120),
        |      'shared footer paragraph',
        |      'doc paragraph ' || CAST(doc_id AS VARCHAR),
        |      CASE WHEN doc_id % 3 = 0 THEN 'tri band boilerplate'
        |           ELSE 'unique filler ' || CAST(doc_id * 7 AS VARCHAR)
        |      END) AS ptext
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id, i AS pos, str_split(ptext, ' <p> ')[i] AS para
        |  FROM built,
        |    UNNEST(range(1, len(str_split(ptext, ' <p> ')) + 1)) AS t(i)),
        |boiler AS (
        |  SELECT md5(para) AS h FROM paras GROUP BY 1
        |  HAVING count(DISTINCT doc_id) >= 5)
        |SELECT doc_id,
        |  md5(coalesce(string_agg(
        |    CASE WHEN md5(para) NOT IN (SELECT h FROM boiler)
        |      THEN para END, ' <p> ' ORDER BY pos), '')) AS chash,
        |  count(CASE WHEN md5(para) NOT IN (SELECT h FROM boiler)
        |    THEN 1 END) AS n_kept,
        |  count(CASE WHEN md5(para) IN (SELECT h FROM boiler)
        |    THEN 1 END) AS n_dropped
        |FROM paras GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "p_mix" ->
      s"""WITH counts AS (
         |  SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |wts AS (
         |  SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS a FROM counts),
         |tot AS (
         |  SELECT CAST(sum(CAST(a AS DECIMAL(38,12))) AS DOUBLE)
         |      AS a_total,
         |    sum(n) AS n_total FROM wts),
         |rates AS (
         |  SELECT lang,
         |    ((CAST(0.4 AS DOUBLE) * t.n_total) * (a / t.a_total)) / n
         |      AS keep_p
         |  FROM wts, tot t),
         |fr AS (
         |  SELECT doc_id, lang,
         |    CAST(CAST(list_sum(list_transform(range(1, 16), i ->
         |      (strpos('0123456789abcdef', substr(
         |        md5(CAST(doc_id AS VARCHAR) || ':7'), i, 1)) - 1)
         |        * ($pow16)[i])) AS BIGINT) AS DOUBLE)
         |      / 1152921504606846976.0 AS frac
         |  FROM documents)
         |SELECT f.doc_id, f.lang
         |FROM fr f JOIN rates r USING (lang)
         |WHERE r.keep_p >= CAST(1.0 AS DOUBLE) OR f.frac < r.keep_p
         |ORDER BY f.doc_id""".stripMargin,
    "p_bpe_pairs" ->
      s"""WITH tkn AS (
         |  SELECT $toks AS ts FROM documents),
         |pairs AS (
         |  SELECT ts[i] || ' ' || ts[i+1] AS pair
         |  FROM tkn, unnest(range(1, len(ts))) AS r(i))
         |SELECT pair, count(*) AS cnt FROM pairs GROUP BY 1
         |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,
    "p_rep_signals" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toks AS ts FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    CASE WHEN len(ts) >= 3
         |      THEN list_transform(range(1, len(ts) - 1), i ->
         |        ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
         |      ELSE [] END AS gs,
         |    CASE WHEN len(ts) > 0
         |      THEN list_max(list_transform(list_distinct(ts), u ->
         |        len(list_filter(ts, x -> x = u)))) ELSE 0 END AS topc,
         |    len(ts) AS n
         |  FROM t),
         |sig AS (
         |  SELECT doc_id,
         |    CASE WHEN len(gs) > 0 THEN round(1.0 -
         |      CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 6)
         |      ELSE 0.0 END AS dup3,
         |    CASE WHEN n > 0
         |      THEN round(CAST(topc AS DOUBLE) / n, 6)
         |      ELSE 0.0 END AS top_frac
         |  FROM g)
         |SELECT doc_id, dup3, top_frac,
         |  (dup3 > 0.02 OR top_frac > 0.12) AS flagged
         |FROM sig ORDER BY doc_id""".stripMargin,
    "p_weighted_sample" ->
      s"""WITH q AS (
         |  SELECT doc_id, round(
         |    least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |    (CASE WHEN n_toks > 0 AND nc / n_toks BETWEEN 3 AND 12
         |       THEN 1.0 ELSE 0.3 END) * 0.3 +
         |    (CASE WHEN nc = 0 OR np / nc <= 0.1 THEN 1.0 ELSE 0.5 END)
         |      * 0.2 +
         |    least(sr * 4, 1.0) * 0.2, 6) AS quality
         |  FROM (
         |    SELECT doc_id,
         |      CAST(length(text) AS DOUBLE) AS nc,
         |      CAST(len(list_filter(str_split_regex(text, '\\s+'),
         |        x -> x <> '')) AS DOUBLE) AS n_toks,
         |      CAST(length(text) - length(regexp_replace(text,
         |        '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) AS np,
         |      CASE WHEN len($toksU) > 0
         |        THEN CAST(${swCountU(en)} AS DOUBLE) / len($toksU)
         |        ELSE 0.0 END AS sr
         |    FROM documents)),
         |f AS (
         |  SELECT doc_id,
         |    CAST(CAST(list_sum(list_transform(range(1, 16), i ->
         |      (strpos('0123456789abcdef', substr(
         |        md5(CAST(doc_id AS VARCHAR) || ':13'), i, 1)) - 1)
         |        * ($pow16)[i])) AS BIGINT) AS DOUBLE)
         |      / 1152921504606846976.0 AS frac
         |  FROM documents)
         |SELECT q.doc_id, q.quality FROM q JOIN f USING (doc_id)
         |WHERE f.frac < q.quality ORDER BY doc_id""".stripMargin,
    "p_batches" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(str_split_regex(text, '\s+'), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, toks, unnest(range(0,
        |    greatest(CAST(ceil(CAST(len(toks) - 32 AS DOUBLE) / 32)
        |      AS INT), 0) + 1)) AS idx
        |  FROM t),
        |c AS (
        |  SELECT doc_id, idx,
        |    len(list_slice(toks, idx * 32 + 1, idx * 32 + 32)) AS nt
        |  FROM w)
        |SELECT doc_id, idx, CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(doc_id % 8 AS INT) AS shard,
        |  CAST(floor(coalesce(sum(nt) OVER (
        |    PARTITION BY doc_id % 8 ORDER BY doc_id, idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    / 80.0) AS BIGINT) AS bin
        |FROM c ORDER BY doc_id, idx""".stripMargin,
    "p_pack_strict" ->
      // the strict fill is a sequential per-shard scan (running fill
      // RESETS on overflow) — replayed one chunk per recursion step
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(str_split_regex(text, '\s+'), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, toks, unnest(range(0,
        |    greatest(CAST(ceil(CAST(len(toks) - 32 AS DOUBLE) / 32)
        |      AS INT), 0) + 1)) AS idx
        |  FROM t),
        |c AS (
        |  SELECT doc_id, idx,
        |    CAST(len(list_slice(toks, idx * 32 + 1, idx * 32 + 32))
        |      AS BIGINT) AS n_tokens,
        |    CAST(doc_id % 8 AS INT) AS shard
        |  FROM w),
        |ord AS (
        |  SELECT *, row_number() OVER (PARTITION BY shard
        |    ORDER BY n_tokens DESC, doc_id, idx) AS rn
        |  FROM c),
        |fill AS (
        |  SELECT shard, rn, doc_id, idx, n_tokens,
        |    CAST(0 AS BIGINT) AS bin, n_tokens AS fill
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.doc_id, o.idx, o.n_tokens,
        |    CASE WHEN f.fill + o.n_tokens > 80 THEN f.bin + 1
        |      ELSE f.bin END,
        |    CASE WHEN f.fill + o.n_tokens > 80 THEN o.n_tokens
        |      ELSE f.fill + o.n_tokens END
        |  FROM fill f JOIN ord o
        |    ON o.shard = f.shard AND o.rn = f.rn + 1)
        |SELECT doc_id, idx, n_tokens, shard, bin
        |FROM fill ORDER BY doc_id, idx""".stripMargin,
    "p_ann_brute" ->
      """SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(
        |        CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 10) q
        |  CROSS JOIN embeddings c
        |  WHERE q.vec_id <> c.vec_id)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)

  /** The persisted-index gates assert result-IDENTITY with their
    * recompute twins, so they share the twin's oracle SQL verbatim —
    * the strongest possible pin: write → open → probe must reproduce
    * the exact rows the one-shot operator computes.
    */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    "p_ann_indexed" -> oraclesBase("p_ann_binary"),
    "p_ann_index_append" -> oraclesBase("p_ann_binary"),
    "p_pca" -> pcaOracle,
    "p_pca2" -> pca2Oracle,
    "p_split_group" -> splitOracle(11, SplitSpec, "source", " source,"),
    "p_ann_ivfpq_idx" -> oraclesBase("p_ann_ivfpq"),
    "p_ivfpq_res_idx" -> oraclesBase("p_ann_ivfpq_res"),
    "p_bm25_indexed" -> oraclesBase("p_bm25_multi"),
    "p_incr_indexed" -> oraclesBase("p_incr_dedup"))
}
