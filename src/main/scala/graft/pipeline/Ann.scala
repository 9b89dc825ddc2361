package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (block nested-loop join + window).
  * Scale path: LSH-bucketed search — `tables` independent hyperplane
  * bucket signatures per vector (OR-amplification); queries probe only
  * their buckets, so the join is equi on (table, bucket) instead of a
  * cross product. Recall grows with `tables`, cost with bucket size;
  * both are plan-visible knobs.
  *
  * At 100 TB the corpus side would be bucketed+sorted on (table,
  * bucket) at write time, making the probe a co-located join with no
  * corpus shuffle.
  */
object Ann {

  /** Brute-force cosine top-k: every query against every corpus row.
    * Correct but quadratic — the oracle for recall measurements.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qId).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val c = corpus.select(col(cId).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Dedup.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** LSH-bucketed approximate top-k with OR-amplified tables. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, vecCol: String, k: Int,
      planes: Int = 10, tables: Int = 4, dim: Int = 64): DataFrame = {
    val q = queries.select(col(qId).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"),
      posexplode(bucketSignatures(col(vecCol), planes, tables, dim)))
      .select(col("query_id"), col("qv"), col("pos").as("table"),
        col("col").as("bucket"))
    val c = corpus.select(col(cId).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"),
      posexplode(bucketSignatures(col(vecCol), planes, tables, dim)))
      .select(col("neighbor_id"), col("cv"), col("pos").as("table"),
        col("col").as("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    // dedup multi-table collisions on the ID pair only (distinct over
    // the embedding arrays would drag the vectors through the shuffle
    // comparator), then re-attach one vector per side.
    val pairs = q.drop("qv").join(c.drop("cv"), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val qv = queries.select(col(qId).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val cv = corpus.select(col(cId).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    pairs.join(qv, "query_id").join(cv, "neighbor_id")
      .withColumn("cos", Dedup.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** One bucket id per table (array of `tables` longs) — a single
    * custom-expression pass over the vector (table t's planes seeded
    * with 7000+t).
    */
  private def bucketSignatures(vec: Column, planes: Int,
      tables: Int, dim: Int): Column =
    graft.functions.HyperplaneBuckets(vec, planes, tables, dim, 7000)

  // ---------- IVF (inverted file) ----------
  //
  // Coarse quantization: every corpus vector lands in the list of its
  // nearest centroid; queries probe only the `nprobe` nearest lists,
  // so the candidate join is equi on the centroid id — the same
  // co-locatable join shape as LSH with recall controlled by nprobe.
  // Centroids here are deterministic unit vectors (seeded); a
  // production system k-means them on a sample, but the assignment /
  // probe / join topology — the part that has to scale — is identical,
  // and determinism keeps the operator oracle-checkable.

  /** Deterministic unit-norm centroid matrix (row = centroid). Public
    * so oracle SQL can embed identical literals.
    */
  def centroids(k: Int, dim: Int, seed: Int): Array[Array[Double]] =
    Array.tabulate(k) { c =>
      val rnd = new scala.util.Random(seed.toLong * 7919L + c)
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }

  /** Nearest-centroid assignment (the corpus-side list id) — one
    * codegen'd pass over the vector (graft.functions.CentroidRank);
    * exact ties break toward the larger id, matching the oracle.
    */
  def assignCentroid(vec: Column, k: Int = 16, dim: Int = 64,
      seed: Int = 4242): Column =
    element_at(graft.functions.CentroidRank(vec, k, dim, seed, 1), 1)

  /** The `nprobe` nearest centroid ids (query-side probe list). */
  def probeCentroids(vec: Column, nprobe: Int, k: Int = 16,
      dim: Int = 64, seed: Int = 4242): Column =
    graft.functions.CentroidRank(vec, k, dim, seed, nprobe)

  /** IVF approximate top-k: probe lists → equi-join on centroid id →
    * exact cosine rank within candidates. At scale the corpus side is
    * written partitioned by centroid id ([[Indexes.writeIvfPqIndex]]'s
    * layout), so a probe reads only its lists.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nprobe: Int = 4, dim: Int = 64,
      seed: Int = 4242): DataFrame = {
    val q = queries.select(col(qId).as("query_id"),
      explode(probeCentroids(col(vecCol).cast("array<double>"),
        nprobe, nCentroids, dim, seed)).as("cent"))
    val c = corpus.select(col(cId).as("neighbor_id"),
      assignCentroid(col(vecCol).cast("array<double>"),
        nCentroids, dim, seed).as("cent"))
    val pairs = q.join(c, Seq("cent"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val qv = queries.select(col(qId).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val cv = corpus.select(col(cId).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.join(qv, "query_id").join(cv, "neighbor_id")
      .withColumn("cos", Dedup.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  // ---------- PQ (product quantization) ----------
  //
  // Jégou et al. 2011: the vector splits into m contiguous sub-vectors
  // and each is replaced by its nearest codebook entry's id, so a
  // corpus vector is stored as m small ints instead of dim doubles
  // (64 doubles → 8 codes = ~64× less scan I/O). Search is ADC
  // (asymmetric distance computation): the QUERY keeps its exact
  // vector, precomputes a (m × ks) table of sub-dot-products against
  // the codebooks once, and scoring a corpus row is m array lookups —
  // the scan never touches an embedding. At 100 TB this is the only
  // layout where the candidate scan is code-column-only; composed
  // with IVF probing (ivfTopK's centroid lists) it is the standard
  // IVF-PQ billion-vector layout.
  //
  // Codebooks here are deterministic seeded entries (one generator
  // per subspace) for the same reason as the IVF centroids: the
  // encode / LUT / scan topology is the part that has to scale, and
  // determinism keeps the operator oracle-checkable. [[pqTrain]] is
  // the production path — per-subspace Lloyd codebooks via
  // [[Cluster.kmeans]] — and PipelineSpec pins that trained books
  // strictly reduce reconstruction distortion vs the seeded ones.

  /** Deterministic per-subspace codebooks: `books(s)(c)` is entry `c`
    * of subspace `s`. Public so oracle SQL can embed identical
    * literals.
    */
  def pqBooks(m: Int, ks: Int, subDim: Int,
      seed: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m)(s => centroids(ks, subDim, seed + 131 * s))

  /** Production codebook training: Lloyd k-means per subspace over
    * the corpus sub-vectors ([[Cluster.kmeans]] — one scan per
    * iteration per subspace with the codebook as plan literals; only
    * ks rows reach the driver). Deterministic given the corpus.
    */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int, ks: Int,
      subDim: Int, iters: Int, seed: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m) { s =>
      val sub = corpus.select(monotonically_increasing_id().as("id"),
        slice(col(vecCol).cast("array<double>"),
          s * subDim + 1, subDim).as("v"))
      Cluster.kmeans(sub, "id", "v", ks, iters, subDim,
        seed + 131 * s)._2
    }

  /** PQ code array (length m) for a vector — one fused codegen'd pass
    * (graft.functions.PqCodes), argmin ||sub − entry||² per subspace,
    * ties to the smaller id.
    */
  def pqEncode(vec: Column, books: Array[Array[Array[Double]]]): Column =
    graft.functions.PqCodes(vec, books)

  /** Query-side ADC lookup table: flat array of m×ks sub-dot-products
    * `lut[s*ks + c] = q_sub(s) · books(s)(c)`, each accumulated in
    * index order — the fold the oracle's list_sum replays. Computed
    * once per QUERY row; corpus rows never touch it. Native kernel
    * (graft.functions.PqLut): the Column-chain form's m×ks literal
    * multiply-add trees overflow Janino's 64 KB method limit and drop
    * the stage out of whole-stage codegen.
    */
  def pqLut(vec: Column, books: Array[Array[Array[Double]]]): Column =
    graft.functions.PqLut(vec, books)

  /** ADC inner-product score: Σ_s lut[s*ks + codes[s]], summed in
    * subspace order (fixed left fold, oracle-replayable).
    */
  def pqAdcScore(codes: Column, lut: Column, m: Int, ks: Int): Column =
    (0 until m).map(s =>
        element_at(lut, lit(s * ks) + element_at(codes, s + 1) + 1))
      .reduceLeft(_ + _)

  /** PQ search with exact refinement — the production recipe: ADC
    * scan produces a `shortlist` of candidates per query (code column
    * only), then ONLY those shortlist×dim vectors are fetched and
    * re-ranked by exact cosine. At 100 TB the refine step is point
    * lookups against the vector store (shortlist ≪ corpus), so the
    * full-precision data is read for k·O(10) rows per query, not the
    * scan.
    */
  def pqTopKRefined(queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, vecCol: String, k: Int,
      shortlist: Int = 50, m: Int = 8, ks: Int = 16, dim: Int = 64,
      seed: Int = 9090): DataFrame = {
    require(shortlist >= k, "shortlist must cover k")
    val adc = pqTopK(queries, corpus, qId, cId, vecCol, shortlist,
      m, ks, dim, seed)
    val qv = queries.select(col(qId).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val cv = corpus.select(col(cId).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    adc.select("query_id", "neighbor_id")
      .join(broadcast(qv), "query_id")
      .join(cv, "neighbor_id")
      .withColumn("cos", Dedup.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Scalar 8-bit quantization (FAISS-SQ8 shape): per-vector affine
    * codes, 64 doubles → 64 bytes + (lo, hi). The write-side
    * compression for an embedding lake when per-component fidelity
    * matters more than PQ's ratio; pairs with [[sqDecode]] for exact
    * oracle-replayable reconstruction.
    */
  def sqEncode(vec: Column): Column = graft.functions.SqEncode(vec)

  /** Dequantize an [[sqEncode]] struct back to `array<double>`
    * (within half a quantization step per component).
    */
  def sqDecode(sq: Column): Column = graft.functions.SqDecode(sq)

  /** IVF-PQ: the standard billion-vector ANN layout (coarse centroid
    * lists × in-list product-quantized codes). Corpus side is ONE
    * scan emitting (id, list id, m codes) — at scale written
    * bucketed+sorted by list id with only these columns, so the probe
    * is a co-located EQUI-join reading no vectors; queries explode to
    * their `nprobe` nearest lists and score candidates by ADC lookups.
    * Unlike LSH multi-tables a vector lives in exactly one list, so
    * no pair dedup pass is needed.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nprobe: Int = 4, m: Int = 8, ks: Int = 16,
      dim: Int = 64, seed: Int = 4242, pqSeed: Int = 9090): DataFrame = {
    val books = pqBooks(m, ks, dim / m, pqSeed)
    val q = queries.select(col(qId).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .select(col("query_id"),
        explode(probeCentroids(col("qv"), nprobe, nCentroids, dim,
          seed)).as("cent"),
        pqLut(col("qv"), books).as("lut"))
    val c = corpus.select(col(cId).as("neighbor_id"),
      assignCentroid(col(vecCol).cast("array<double>"), nCentroids,
        dim, seed).as("cent"),
      pqEncode(col(vecCol), books).as("codes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("cent"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        pqAdcScore(col("codes"), col("lut"), m, ks))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Residual IVF-PQ (Jégou et al. 2011 §IV — the FAISS IVFPQ
    * layout): like [[ivfPqTopK]] but the codes quantize the RESIDUAL
    * vec − centroid, spending the codebooks' 2^bits on the within-list
    * ball instead of the whole space — the recall-per-byte gain the
    * raw-coding form leaves on the table (measured in-engine with
    * [[Retrieval.rankMetrics]]; see the spec). The corpus side is
    * still ONE scan emitting (id, list id, m codes); under the
    * inner-product metric the score decomposes as <q, centroid> +
    * ADC(residual codes) with the SAME raw-query LUT for every list,
    * so the probe join ships one extra double (the per-list bias from
    * [[graft.functions.CentroidDots]]), nothing per-candidate.
    */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, vecCol: String, k: Int,
      books: Array[Array[Array[Double]]],
      nCentroids: Int, nprobe: Int,
      dim: Int, seed: Int): DataFrame = {
    val m = books.length
    val ks = books.head.length
    val q = queries.select(col(qId).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .select(col("query_id"),
        explode(probeCentroids(col("qv"), nprobe, nCentroids, dim,
          seed)).as("cent"),
        pqLut(col("qv"), books).as("lut"),
        graft.functions.CentroidDots(col("qv"), nCentroids, dim, seed)
          .as("cd"))
    val c = corpus.select(col(cId).as("neighbor_id"),
        graft.functions.ResidualPqCodes(
          col(vecCol).cast("array<double>"), nCentroids, dim, seed,
          books).as("e"))
      .select(col("neighbor_id"), col("e.cent").as("cent"),
        col("e.codes").as("codes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("cent"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        element_at(col("cd"), col("cent") + 1) +
          pqAdcScore(col("codes"), col("lut"), m, ks))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Residual-distribution codebook training for
    * [[ivfPqResidualTopK]] — the part that makes residual coding WIN:
    * codebooks trained on the raw space (or seeded at random) sit at
    * the wrong scale for the much smaller within-list residual ball,
    * and the quantization error swamps the IVF gain (measured in the
    * spec: random books score BELOW raw coding; trained residual
    * books score above). Lloyd per subspace over the one-pass
    * residual column ([[graft.functions.ResidualVec]]) — same
    * determinism contract as [[pqTrain]].
    */
  def pqTrainResidual(corpus: DataFrame, vecCol: String, m: Int,
      ks: Int, iters: Int, nCentroids: Int = 16, dim: Int = 64,
      seed: Int = 4242, pqSeed: Int = 9090)
      : Array[Array[Array[Double]]] = {
    val res = corpus.select(
      graft.functions.ResidualVec(col(vecCol).cast("array<double>"),
        nCentroids, dim, seed).as("__r"))
    pqTrain(res, "__r", m, ks, dim / m, iters, pqSeed)
  }

  /** PQ approximate top-k by ADC inner product: the corpus side is
    * ONE scan producing (id, m codes) — at scale this column is
    * precomputed at write time and the scan reads codes only — and
    * the query side (queries with their LUTs) broadcasts, so scoring
    * is scan-local with no corpus shuffle; the only exchange is the
    * per-query top-k window over candidates.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, vecCol: String, k: Int,
      m: Int = 8, ks: Int = 16, dim: Int = 64,
      seed: Int = 9090): DataFrame = {
    val books = pqBooks(m, ks, dim / m, seed)
    val q = queries.select(col(qId).as("query_id"),
      pqLut(col(vecCol).cast("array<double>"), books).as("lut"))
    val c = corpus.select(col(cId).as("neighbor_id"),
      pqEncode(col(vecCol), books).as("codes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        pqAdcScore(col("codes"), col("lut"), m, ks))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  // ---------- Binary (1-bit) quantization ----------
  //
  // Sign-bit compression: dim floats → dim bits (64 dims = 8 bytes, a
  // 32× smaller scan payload than raw doubles), packed as dim/16
  // 16-bit words in an `array<int>` so every word stays in [0, 65535]
  // and no engine's integer arithmetic can overflow (bit 31 of a
  // 32-bit word would wrap a signed INT in Spark and error in DuckDB).
  // Hamming distance over the words tracks angular distance
  // (Goemans–Williamson: P[sign mismatch per component] = θ/π), so a
  // popcount scan produces a shortlist that an exact cosine pass
  // re-ranks — the scan-then-refine topology of [[pqTopKRefined]]
  // with an even cheaper first stage.

  /** Pack sign bits of a `dim`-component vector into dim/16 16-bit
    * words (`array<int>`): word w bit i = (v[16w+i] > 0).
    */
  def binEncode(vec: Column, dim: Int = 64): Column = {
    require(dim % 16 == 0, "dim must be a multiple of 16")
    val words = (0 until dim / 16).map { w =>
      (0 until 16).map { i =>
        when(element_at(vec, w * 16 + i + 1) > 0, lit(1 << i))
          .otherwise(lit(0))
      }.reduce(_ + _)
    }
    // a wrong-dimension vector would silently zero-fill its missing
    // sign bits (element_at past the end is NULL → the otherwise
    // branch) and produce a plausible-looking but meaningless
    // signature — fail the row instead. The guard folds into word 0
    // as +0 rather than wrapping the array in when(assert_true(…)):
    // the wrapper put all 64 conditional sums inside ONE codegen
    // branch, producing a method too large for the JIT (measured
    // 1.2 → 2.1 s warm on the sf0.1 Hamming scan); as a standalone
    // addend every word sum stays independently splittable.
    // guard on the LEFT so it evaluates before word 0's element_ats
    // (which under ANSI mode would otherwise throw their own
    // out-of-bounds error first)
    // null check via isNull on the ARRAY, not size(vec).isNull: under
    // spark.sql.ansi.enabled=false the legacy sizeOfNull rule makes
    // size(NULL) return -1 instead of NULL, which would route a null
    // row into raise_error — the exact crash this guard exists to
    // avoid — and mode-dependence in a kernel is a bug either way.
    val guard = when(vec.isNull || size(vec) === dim, lit(0))
      .otherwise(raise_error(
        lit(s"binEncode expects $dim components")).cast("int"))
    val arr = array(((guard + words.head) +: words.tail): _*)
    // NULL input → NULL output, matching every sibling vector kernel
    // (CosineSim, PqCodes): without this a null embedding row aborts
    // the whole job through the dimension guard with a misleading
    // message. The propagation rides slice's LENGTH argument — NULL
    // for a null vector (a CaseWhen around two literals, so the 64
    // word sums never move inside a conditional branch: the
    // JIT-method-size hazard documented above), nWords otherwise.
    slice(arr, lit(1),
      when(vec.isNull, lit(null).cast("int")).otherwise(lit(dim / 16)))
  }

  /** Hamming distance between two [[binEncode]] word arrays:
    * Σ popcount(xor) per word, UNROLLED over the statically-known
    * word count — plain codegen'd expressions. (A zip_with/aggregate
    * higher-order form computes the same value but falls out of
    * whole-stage codegen into interpreted lambda eval, which costs
    * ~4× on the corpus-linear scan this feeds.)
    */
  def hammingWords(a: Column, b: Column, words: Int = 4): Column =
    (1 to words).map(i =>
      bit_count(element_at(a, i).bitwiseXOR(element_at(b, i)))
        .cast("int")).reduce(_ + _)

  /** Binary-quantized top-k: Hamming shortlist over packed sign bits,
    * exact cosine re-rank of the shortlist. The first stage is
    * corpus-linear but reads 8 bytes/row (at scale the bit column is
    * precomputed at write time, so the scan touches no vectors); the
    * refine stage fetches shortlist × dim full vectors only. For
    * fixed-radius workloads the pigeonhole word-blocking used by
    * `Dedup.simhashPairsMd5` turns the scan into an equi-join (a pair
    * at Hamming ≤ r agrees exactly on some word whenever r < #words).
    */
  def binaryTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, vecCol: String, k: Int,
      shortlist: Int = 50, dim: Int = 64,
      selfExclude: Boolean = true): DataFrame = {
    // bits are computed BEFORE the spread exchange: the shuffle
    // materializes each corpus row's words exactly once, where a
    // same-stage projection would be re-evaluated inside the join's
    // per-query loop (codegen defers column eval to first use — the
    // 64-branch encode ran |corpus|×|queries| times, ~4× the whole
    // operator). spread() also un-pins the scan from a few-split
    // parquet layout; with a persisted index (Indexes.writeBinaryIndex
    // → binaryTopKFrom) the bit column is precomputed and both
    // concerns are moot.
    // null rows are dropped on the RAW column, BELOW the encode
    // projection: binEncode is NULL exactly when its input is, but a
    // filter written on the encoded alias gets substituted through
    // the Project by predicate pushdown and the 64-branch encode tree
    // is then evaluated TWICE per corpus row (filter + project) — and
    // the doubled tree falls out of whole-stage codegen (measured
    // 1.97 → 10.8 s on the sf1 gate). The raw isnotnull reaches the
    // parquet scan as a pushed filter instead.
    val c = Dedup.spread(corpus.filter(col(vecCol).isNotNull)
      .select(col(cId).as("neighbor_id"),
        binEncode(col(vecCol).cast("array<double>"), dim).as("cb")))
    binaryTopKFrom(queries, c, corpus, qId, cId, vecCol, k,
      shortlist, dim, selfExclude)
  }

  /** The [[binaryTopK]] probe against an ALREADY-ENCODED corpus
    * frame `index` (neighbor_id, cb) — the shared tail of the
    * recompute form and [[Indexes.binaryTopKIndexed]]; `vectors`
    * supplies full embeddings for the shortlist re-rank only.
    *
    * `selfExclude` (default true) drops pairs whose query and
    * neighbor ids coincide — the self-search posture every
    * single-corpus caller wants. CROSS-CORPUS callers (bitext mining:
    * src and tgt are DIFFERENT corpora whose id spaces may overlap —
    * both 0-based is common) must pass false, or a true pair that
    * happens to share an id value is silently excluded from the
    * shortlist ([[Retrieval.marginMineApprox]] passes false).
    */
  private[pipeline] def binaryTopKFrom(queries: DataFrame,
      index: DataFrame, vectors: DataFrame, qId: String, cId: String,
      vecCol: String, k: Int, shortlist: Int, dim: Int,
      selfExclude: Boolean = true): DataFrame = {
    require(shortlist >= k, "shortlist must cover k")
    val cand = binaryShortlist(queries, index, qId, vecCol, shortlist,
      dim, selfExclude)
    val cv = vectors.select(col(cId).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    rerankShortlist(cand, queries, cv, qId, vecCol, k)
  }

  /** The Hamming-shortlist stage of [[binaryTopKFrom]]: per query, the
    * `shortlist` index rows with the smallest signature distance
    * (asc, ties by neighbor_id). Output is bounded by |queries| ×
    * shortlist regardless of corpus size.
    */
  private[pipeline] def binaryShortlist(queries: DataFrame,
      index: DataFrame, qId: String, vecCol: String, shortlist: Int,
      dim: Int, selfExclude: Boolean): DataFrame = {
    // null-embedding rows are excluded from the search on both sides
    // (a NULL Hamming distance would sort FIRST under the asc
    // window's nulls-first default, promoting unsearchable rows to
    // the top of every shortlist). The filter is on the RAW vector,
    // not the encoded alias — see binaryTopK's corpus side for why.
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(qId).as("query_id"),
        binEncode(col(vecCol).cast("array<double>"), dim).as("qb"))
    val wh = Window.partitionBy("query_id")
      .orderBy(col("ham").asc, col("neighbor_id"))
    index.join(broadcast(q),
        if (selfExclude) col("query_id") =!= col("neighbor_id")
        else lit(true))
      .withColumn("ham",
        hammingWords(col("qb"), col("cb"), dim / 16))
      .withColumn("hrank", row_number().over(wh))
      .filter(col("hrank") <= shortlist)
      .select("query_id", "neighbor_id", "ham")
  }

  /** The exact-cosine re-rank tail of [[binaryTopKFrom]]: joins the
    * shortlist to full query/neighbor vectors, keeps top k per query
    * (cos desc, ties by neighbor_id). `cv` must carry (neighbor_id,
    * cv: array<double>) for at least every shortlisted neighbor;
    * extra rows are harmless (inner join) — which is what lets
    * [[Indexes.binaryTopKIndexedPoint]] substitute a pruned
    * point-fetch for the full corpus frame, result-identical.
    */
  private[pipeline] def rerankShortlist(cand: DataFrame,
      queries: DataFrame, cv: DataFrame, qId: String, vecCol: String,
      k: Int): DataFrame = {
    val qv = queries.select(col(qId).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    // the shortlist side is the broadcast build: it is bounded by
    // |queries| × shortlist by construction, while `cv` is
    // corpus-sized. Without the hint the planner has no row estimate
    // through the window/top-k (assumes large) and falls back to a
    // sort-merge join that SORTS the corpus's full vectors — measured
    // at 20M × 256-dim: ~40 GB of sort spill vs a single streamed
    // corpus scan with the hint. Broadcast ONLY the vector-free
    // (query_id, neighbor_id, ham) rows and attach the query vectors
    // AFTER the corpus probe: the r15 shape broadcast cand⋈qv, which
    // replicated every query vector shortlist-fold through the
    // broadcast — a 256-dim × shortlist=50 batch hit the 8 GB cap at
    // ~80k queries; id-only rows push that to multi-million-query
    // batches (split the probe batch beyond that) and the second join
    // broadcasts qv once, un-replicated, the same size binaryShortlist
    // already broadcast it.
    broadcast(cand)
      .join(cv, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cos", Dedup.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      // both stage metrics ride out: `ham` pins the shortlist stage,
      // `cos` is the similarity that actually determined the final
      // ranking — without it callers (hard-negative miners, threshold
      // filters) couldn't calibrate on the rerank score, unlike the
      // sibling pqTopKRefined which always returned its refine score
      .select("query_id", "rank", "neighbor_id", "ham", "cos")
  }
}
