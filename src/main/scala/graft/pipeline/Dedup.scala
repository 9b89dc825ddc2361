package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Large-scale deduplication operators for training-data pipelines.
  *
  * All operators are pure DataFrame plans (no UDFs, no driver loops):
  *  - exact:     hash-groupBy on normalized text
  *  - MinHash:   shingle → k minhashes → b bands → bucket join →
  *               candidate pairs → exact-Jaccard verify
  *  - SimHash:   64-bit sign-aggregated token hashes; near-dup =
  *               hamming distance ≤ k on candidate buckets
  *  - embedding: cosine near-dup via random-hyperplane LSH buckets
  *
  * Scale notes (100 TB): every stage shuffles only once on its natural
  * key (hash bucket / band). Candidate generation is linear in corpus
  * size (explode of b bands per doc); the quadratic verify is confined
  * to within-bucket pairs. Banding parameters (k, b, r) trade recall vs
  * bucket size exactly as in the MMDS formulation; skewed buckets (e.g.
  * boilerplate) should be capped with a per-bucket limit before the
  * self-join — `maxBucket` does this.
  */
object Dedup {

  /** Normalized text: lowercase, collapse whitespace. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), graft.pipeline.TextFns.WsRe, " "))

  /** Word tokens of normalized text. */
  def tokens(text: Column): Column =
    filter(split(normalize(text), "[^a-z0-9]+"), t => length(t) > 0)

  /** Word n-gram shingles (distinct). */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    array_distinct(
      when(size(toks) < n, array(array_join(toks, " ")))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " "))))
  }

  // ---------- exact ----------

  /** Exact dedup groups: md5 of normalized text → representative
    * (min id) + multiplicity. One shuffle, map-side partial agg.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(normalize(col(textCol))).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact-dedup: keep one representative row per normalized text. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(normalize(col(textCol))))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---------- MinHash + LSH ----------

  /** Spread per-document compute across the cluster when the input
    * arrives in fewer partitions than cores. A single small parquet
    * file is one split, which would pin the whole signature
    * computation (k·|shingles| hashes per document) to ONE task —
    * measured 200s+ single-threaded vs seconds spread at sf0.1. At
    * warehouse scale inputs have many splits and this is a no-op;
    * when it does fire, the round-robin exchange moves only the raw
    * text once and buys full parallelism for the hashing above it.
    *
    * Width comes from logical-plan statistics (scan bytes over the
    * file-split size), NOT `df.rdd.getNumPartitions` — materializing
    * the RDD would physically plan the input a second time just to
    * count its splits. Unknown-stats plans (joins, huge default
    * sizeInBytes) estimate many splits and pass through unchanged,
    * same as the many-split file case.
    */
  def spread(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val par = sess.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val split = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(
        sess.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val estSplits = (bytes / split) + 1
    if (estSplits < par) df.repartition(par) else df
  }

  // ---------- portable (md5-derived) MinHash ----------
  //
  // Banded LSH where every hash value is derived from md5 —
  // computable bit-identically in any engine with an md5 function,
  // so the DuckDB oracle can verify the *values*. The fused
  // native kernel (MinhashBandBuckets) computes the same buckets in
  // one call per row and is the production path.

  /** Modulus for the portable minhash permutations: 2^31-1 (Mersenne
    * prime). Products a·h stay under 2^62, so the arithmetic is exact
    * BIGINT in any engine.
    */
  val MinhashP: Long = 2147483647L

  /** Deterministic (a, b) coefficients for k universal-hash
    * permutations h_i = (a_i·h + b_i) mod P — plain xorshift walk, so
    * the oracle SQL can embed identical literals.
    */
  def permCoeffs(k: Int): Seq[(Long, Long)] = {
    var x = 88172645463325252L
    def nxt(): Long = {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      (x >>> 33) // 31-bit
    }
    (0 until k).map { _ =>
      val a = nxt() % (MinhashP - 1) + 1
      val b = nxt() % MinhashP
      (a, b)
    }
  }

  /** Portable 60-bit shingle hash: the first 15 hex digits of md5,
    * parsed as an integer, mod P. ONE md5 per shingle — the k
    * signature elements are then cheap modular arithmetic instead of
    * k separate md5 passes (which measured 30× slower at sf0.1).
    */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long") % MinhashP

  /** Portable minhash signature (array<long>): element i is
    * min over shingles of (a_i·hash + b_i) mod P.
    *
    * NB: as ONE expression the md5 subtree repeats per permutation
    * (codegen subexpression elimination cannot reach inside lambda
    * bodies), so extracting all k elements this way costs k md5
    * passes. Single-element projections are fine (the optimizer
    * prunes to one branch); for full signatures stage the hashes in
    * their own projection and use [[signatureOfHashes]] — as
    * [[minhashCandidatesMd5]] does.
    */
  def minhashSignatureMd5(sh: Column, k: Int = 32): Column =
    signatureOfHashes(transform(sh, shingleHash _), k)

  /** Signature from precomputed shingle hashes — callers that stage
    * the hashes in their own projection (one md5 per shingle, behind
    * an exchange) use this to avoid recomputing them per permutation.
    */
  def signatureOfHashes(hs: Column, k: Int): Column =
    array(permCoeffs(k).map { case (a, b) =>
      array_min(transform(hs, h => (h * a + b) % MinhashP))
    }: _*)

  /** Single element i (0-based) of the portable signature WITHOUT
    * building the k-branch array: one md5 pass over the shingles and
    * one permutation min. `element_at(minhashSignatureMd5(sh), i+1)`
    * is NOT simplified by Catalyst (SimplifyExtractValueOps rewrites
    * GetArrayItem over CreateArray but element_at resolves to
    * ElementAt), so the array form evaluates all k branches, each
    * re-deriving the md5 per shingle — measured 265 s vs ~1 s at
    * sf0.1 under a full-evaluation sink. graft registers
    * [[graft.plans.SimplifyElementAtArray]] to close that hole for
    * user queries; this helper never opens it.
    */
  def minhashElementMd5(sh: Column, i: Int, k: Int = 32): Column = {
    val (a, b) = permCoeffs(k)(i)
    array_min(transform(transform(sh, shingleHash _),
      h => (h * a + b) % MinhashP))
  }

  /** Portable band buckets: md5 of the '|'-joined band slice. */
  def bandsMd5(sig: Column, b: Int, r: Int): Column =
    transform(sequence(lit(0), lit(b - 1)),
      j => struct(j.as("band"),
        md5(array_join(
          transform(slice(sig, j * r + 1, lit(r)), _.cast("string")),
          "|")).as("bucket")))

  /** Candidate near-duplicate pairs (id1 < id2) via portable banded
    * MinHash.
    *
    * @param maxBucket drop degenerate buckets larger than this (skew
    *                  guard: boilerplate text at corpus scale)
    */
  def minhashCandidatesMd5(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, b: Int = 8,
      maxBucket: Int = 1000): DataFrame = {
    // the fused native expression computes shingles → one md5 per
    // shingle → k permutation minima → b band buckets in ONE call per
    // row (MinhashNativeSpec pins equality with the Column pipeline),
    // so the staging exchange that kept the md5s from re-deriving per
    // permutation branch is no longer needed
    val bucketed = spread(df.select(col(idCol).as("id"),
        col(textCol).as("__t")))
      .select(col("id"),
        explode(graft.functions.MinhashBandBuckets(col("__t"), n, k, b))
          .as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    val capped = graft.core.Caches.stage(bucketed
      .withColumn("__n", count(lit(1))
        .over(Window.partitionBy("band", "bucket")))
      .filter(col("__n") <= maxBucket).drop("__n"))
      // both self-join sides consume this frame: stage (persist +
      // register) so the signature pipeline runs once (spillable,
      // tiny rows). The returned plan consumes the cache lazily, so
      // the operator has no post-action hook to unpersist — release
      // happens at the harness level: Caches.releaseAll between
      // queries (Bench/Verify do; CacheLifecycleSpec pins it).
    val l = capped.as("l")
    val rgt = capped.as("r")
    l.join(rgt,
        col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
      .distinct()
  }

  /** Jaccard-verified near-dup pairs from portable candidates. */
  def minhashDedupPairsMd5(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, b: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    val sh = spread(df.select(col(idCol).as("id"),
        col(textCol).as("__t")))
      .select(col("id"),
        graft.functions.Shingles(col("__t"), n).as("sh"))
    val cands = minhashCandidatesMd5(df, idCol, textCol, n, k, b)
    cands
      .join(sh.withColumnsRenamed(Map("id" -> "id1", "sh" -> "sh1")), "id1")
      .join(sh.withColumnsRenamed(Map("id" -> "id2", "sh" -> "sh2")), "id2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** MinHash estimator calibration against exact Jaccard — the dedup
    * twin of the retrieval family's rank-metrics eval: before trusting
    * a signature threshold at corpus scale, measure what the
    * estimator's match counts actually mean on this corpus. Pairs are
    * a deterministic systematic sample (doc i vs doc i+δ for each
    * `delta` — consecutive ids catch the generator/crawl locality
    * where near-dups live, large δ supplies the unrelated-pair mass);
    * for each pair the k-component signature match count is compared
    * with the exact shingle Jaccard, grouped by match count into a
    * calibration table (expected Jaccard ≈ matches/k by the MinHash
    * collision argument; `avg_jaccard` and `mae` quantify it on the
    * real corpus).
    *
    * The sample covers BOTH similarity regimes: the id-delta pairs
    * supply the unbiased low-similarity mass, and the band-bucket
    * candidate pairs (the LSH blocking itself) supply the
    * high-similarity tail that id deltas almost never hit — the
    * range where thresholds actually live. The union is grouped by
    * match count, so the blocking's similarity bias shifts which
    * buckets are POPULATED, not what a populated bucket's
    * `avg_jaccard` means (it is conditioned on the match count).
    *
    * Scale shape: signatures and shingle sets are computed ONCE per
    * doc in a staged projection consumed by both pair sides; the
    * delta pairs are id-equi joins and the candidates the standard
    * capped band self-join; output is ≤ k+1 rows. The match count is
    * an unrolled codegen'd sum (a zip_with/aggregate HOF falls out of
    * codegen — the hammingWords lesson).
    */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
      deltas: Seq[Long] = Seq(1L, 7L, 50L), n: Int = 3,
      k: Int = 32, b: Int = 8, maxBucket: Int = 1000): DataFrame = {
    require(deltas.nonEmpty, "need at least one pair delta")
    require(k % b == 0, s"bands must divide the signature: k=$k b=$b")
    // two one-pass kernels per doc: the shingle STRINGS (exact
    // Jaccard needs the sets) and the fused full signature
    // (MinhashSignature — the k-branch column form re-walks the
    // hashes per permutation through interpreted lambdas, measured
    // 9.4 s vs ~1 s at sf1 on this operator)
    val sigs = graft.core.Caches.stage(
      spread(df.select(col(idCol).as("id"), col(textCol).as("__t")))
        .select(col("id"),
          graft.functions.Shingles(col("__t"), n).as("sh"),
          graft.functions.MinhashSignature(col("__t"), n, k)
            .as("sig")))
    val dcand = sigs.select(col("id").as("id1"),
        explode(array(deltas.map(lit): _*)).as("__d"))
      .select(col("id1"), (col("id1") + col("__d")).as("id2"))
    val bandRows = sigs.select(col("id"),
        explode(bandsMd5(col("sig"), b, k / b)).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy("band", "bucket")))
      .filter(col("__n") <= maxBucket)
    val bcand = bandRows.as("l").join(bandRows.as("r"),
        col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
    val cand = dcand.unionAll(bcand).distinct()
    val sideA = sigs.select(col("id").as("id1"), col("sh").as("sha"),
      col("sig").as("siga"))
    val sideB = sigs.select(col("id").as("id2"), col("sh").as("shb"),
      col("sig").as("sigb"))
    val matches = (1 to k).map(i =>
      when(element_at(col("siga"), i) === element_at(col("sigb"), i),
        1).otherwise(0)).reduce(_ + _)
    cand.join(sideA, "id1").join(sideB, "id2")
      .withColumn("matches", matches)
      .withColumn("jac",
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))))
      .filter(size(array_union(col("sha"), col("shb"))) > 0)
      .groupBy("matches")
      .agg(count(lit(1)).as("n_pairs"),
        (graft.Tables.dsum(col("jac"), 6) / count(lit(1)))
          .as("avg_jaccard"),
        (graft.Tables.dsum(
          abs(col("matches").cast("double") / k - col("jac")), 6) /
          count(lit(1))).as("mae"))
      .withColumn("est", col("matches").cast("double") / k)
      .select("matches", "est", "n_pairs", "avg_jaccard", "mae")
  }

  /** Portable band-bucket index of a corpus: (id, band, bucket) rows —
    * the write-once artifact incremental dedup joins new batches
    * against. At warehouse scale this is persisted bucketed+sorted on
    * (band, bucket) (sources.Bucketing), so the per-batch probe join
    * is co-located and touches no corpus text.
    */
  def minhashIndexMd5(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, b: Int = 8): DataFrame =
    spread(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        explode(graft.functions.MinhashBandBuckets(col("__t"), n, k, b))
          .as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))

  /** Incremental near-dup detection: which INCOMING documents
    * duplicate the EXISTING corpus — the per-batch ingest shape of
    * MinHash dedup. Only the incoming batch computes signatures
    * against a (possibly precomputed) corpus index; candidates are the
    * (band, bucket) equi-join of batch×index, verified by exact
    * shingle Jaccard against just the matched corpus rows. The skew
    * cap applies on the INDEX side (boilerplate buckets at corpus
    * scale), mirroring minhashCandidatesMd5's maxBucket.
    *
    * Cost at 100 TB: batch-signature compute is |batch|-scan-local;
    * the probe is co-located when the index is bucketed on
    * (band, bucket); the verify re-reads corpus text for candidate
    * ids ONLY (a semi-join-pruned scan).
    *
    * @return (new_id, corpus_id, jaccard) pairs with Jaccard ≥
    *         threshold
    */
  def incrementalDupPairsMd5(incoming: DataFrame, incId: String,
      corpus: DataFrame, corId: String, textCol: String,
      n: Int = 3, k: Int = 32, b: Int = 8, threshold: Double = 0.8,
      maxBucket: Int = 1000): DataFrame =
    incrementalDupPairsFromIndex(incoming, incId,
      minhashIndexMd5(corpus, corId, textCol, n, k, b),
      corpus, corId, textCol, n, k, b, threshold, maxBucket)

  /** [[incrementalDupPairsMd5]] probing an ALREADY-BUILT corpus band
    * index (id, band, bucket) — the shared tail of the recompute form
    * and [[Indexes.incrementalDupPairsIndexed]]. The maxBucket skew
    * cap applies at probe time (a query knob, not baked into the
    * artifact), and corpus TEXT is read only for the Jaccard verify
    * of candidate ids.
    *
    * CONTRACT (matching [[winnowPairsAgainst]] /
    * [[simhashPairsMd5Against]]): pairs with `new_id == corpus_id`
    * are EXCLUDED — when the incoming batch overlaps the corpus (a
    * re-ingest check), a document is not its own duplicate. Callers
    * that need self rows must join them back explicitly.
    */
  private[pipeline] def incrementalDupPairsFromIndex(
      incoming: DataFrame, incId: String, index: DataFrame,
      corpus: DataFrame, corId: String, textCol: String,
      n: Int, k: Int, b: Int, threshold: Double,
      maxBucket: Int): DataFrame = {
    val corIdx = index
      .withColumn("__n", count(lit(1))
        .over(Window.partitionBy("band", "bucket")))
      .filter(col("__n") <= maxBucket).drop("__n")
      .select(col("id").as("corpus_id"), col("band"), col("bucket"))
    val incIdx = minhashIndexMd5(incoming, incId, textCol, n, k, b)
      .select(col("id").as("new_id"), col("band"), col("bucket"))
    val cands = incIdx.join(corIdx, Seq("band", "bucket"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id").distinct()
    val incSh = spread(incoming.select(col(incId).as("new_id"),
        col(textCol).as("__t")))
      .select(col("new_id"),
        graft.functions.Shingles(col("__t"), n).as("sh1"))
    val corSh = spread(corpus.select(col(corId).as("corpus_id"),
        col(textCol).as("__t")))
      .select(col("corpus_id"),
        graft.functions.Shingles(col("__t"), n).as("sh2"))
    cands.join(incSh, "new_id").join(corSh, "corpus_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "corpus_id", "jaccard")
  }

  /** Duplicate clusters from a near-dup pair graph: connected
    * components by iterative min-label propagation — the standard
    * follow-on to pair generation in a dedup pipeline (keep one doc
    * per component). Each round is one join + one hash aggregation
    * over the edge list; rounds needed = graph diameter in
    * components, which for near-dup clusters is tiny (they are
    * quasi-cliques — most converge in 1-2 rounds). Convergence is
    * checked, `maxIter` bounds the worst case, frames persist
    * between rounds so lineage stays flat. At 100 TB this is the
    * same shape GraphX/GraphFrames CC runs: no driver-side graph,
    * edges never collected.
    *
    * @param ids   one row per node (id column `idCol`)
    * @param pairs edges (id1, id2), any orientation
    * @return (id, comp) — comp = min id reachable, so singleton docs
    *         are their own component
    */
  def dupGroups(ids: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // symmetrize in ONE pass over the pair plan (a union of two
    // selects would re-run the whole pair generation per branch).
    // Staged REPARTITIONED BY id2 — every round's message join probes
    // edges on id2, so materializing the cache in that layout makes
    // the per-round edge exchange zero (the cached partitioning
    // satisfies the join's distribution; only the label frame moves
    // per round). At 100 TB the edge list is the big side of the
    // round — this is the difference between re-shuffling it every
    // round and never (optimization round 17, guide §2.4). The count
    // is pinned to spark.sql.shuffle.partitions (Caches.
    // layoutPartitions): AQE coalesces staged frames, but never a
    // by-number repartition, so the layout keeps the join's count
    // instead of 8 × slots.
    val edges = graft.core.Caches.stage(pairs
      .select(explode(array(
        struct(col("id1"), col("id2")),
        struct(col("id2").as("id1"), col("id1").as("id2")))).as("e"))
      .select(col("e.id1").as("id1"), col("e.id2").as("id2"))
      .distinct()
      .repartition(graft.core.Caches.layoutPartitions(pairs.sparkSession),
        col("id2")))
    // Iterate ONLY over edge-touched nodes: near-dup graphs are
    // sparse (most of the corpus has no duplicate), so the rounds
    // shuffle |V(edges)| rows, not |corpus| — at 100 TB that is the
    // difference between propagating labels over billions of isolated
    // docs every round and over just the duplicate clusters. Isolated
    // docs get comp = id in one final left join. The symmetrized edge
    // list makes id1 cover every endpoint.
    //
    // Checkpoints.cut (not persist) between rounds: the doubling hop
    // below self-joins the round's frame, so a lineage-preserving
    // cache would double the logical plan per round (exponential
    // analyze/explain blowup); checkpointing truncates lineage to the
    // materialized blocks, keeping every round's plan flat. Default
    // mode is localCheckpoint (blocks freed by the ContextCleaner
    // when the round's frame is dropped); set
    // spark.graft.checkpoint.dir for the executor-loss-surviving
    // reliable form (identical results, CheckpointModeSpec).
    // Seed with the FIRST propagation step folded into the init
    // aggregate: comp₀(id) = min(id, min neighbor id) — one groupBy
    // over the edge list, the same exchange count as the plain
    // comp = id init it replaces, but quasi-clique duplicate graphs
    // (the near-dup norm) start converged and exit after ONE loop
    // round instead of two. Any comp₀(id) ≤ id that is a reachable
    // id converges to the identical min-label fixpoint.
    var comp = edges.groupBy(col("id2").as("id"))
      .agg(min(col("id1")).as("__nmin"))
      .select(col("id"), least(col("id"), col("__nmin")).as("comp"))
      .transform(graft.core.Checkpoints.cut)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // each node takes min(own comp, neighbors' comps). Formulated
      // as join+least rather than union+groupBy: equivalent, one
      // fewer shuffle of the full node set, and it sidesteps Union
      // constraint rewriting over checkpointed frames (which chokes
      // on the stale origin constraints a LogicalRDD carries).
      val nbrMin = edges.join(comp, edges("id2") === comp("id"))
        .groupBy(edges("id1").as("id")).agg(min("comp").as("ncomp"))
      // persist (not checkpoint) within the round: the hop self-join
      // below reads this twice, but `next`'s checkpoint already
      // flattens the round's lineage — one materialization job per
      // round instead of twice, and the cache is dropped right after
      val relabeled = graft.core.Caches.stage(
        comp.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("comp").as("prev"),
            least(col("comp"), coalesce(col("ncomp"), col("comp")))
              .as("comp")))
      // Convergence is checked BEFORE the hop (optimization round
      // 17): a round where the one-hop relabel changed nothing is a
      // fixpoint of neighbor-min propagation — labels constant across
      // every edge, i.e. fully converged — and the hop (comp(id) :=
      // min(comp, comp(comp)) can only move a label through a chain
      // the relabel already moved, so it is provably a no-op at that
      // fixpoint. The FINAL round then skips the hop self-join and
      // its checkpoint entirely (≈4 fewer jobs on the quasi-clique
      // graphs that converge in one round). The check is a
      // grouping-free aggregate with no limit in its plan: Spark names
      // each limit operator's row counter from a JVM-global sequence
      // (`_limit_counter_N`), so a `limit(1)` here would generate new
      // source, and compile a new class, on every call.
      val changed = relabeled.filter(col("comp") =!= col("prev")).count()
      if (changed == 0) {
        relabeled.unpersist()
        converged = true
      } else {
        // pointer doubling: comp(id) := min(comp(id), comp(comp(id)))
        // Labels are node ids, so the hop is a self-join; with it the
        // rounds needed drop from O(diameter) to O(log diameter) —
        // maxIter = 20 then covers diameters up to ~2^20, so chain-
        // shaped dup graphs converge instead of silently truncating.
        val a = relabeled.as("a")
        val b = relabeled.select(col("id").as("__bid"),
          col("comp").as("__bcomp"))
        // ids are unique in relabeled, so the hop join is 1:1 — no
        // re-aggregation needed after it.
        val next = a.join(b, col("a.comp") === col("__bid"), "left")
          .select(col("a.id").as("id"),
            least(col("a.comp"),
              coalesce(col("__bcomp"), col("a.comp"))).as("comp"))
          .transform(graft.core.Checkpoints.cut)
        relabeled.unpersist()
        comp = next
      }
      it += 1
    }
    edges.unpersist()
    if (!converged)
      System.err.println(s"[graft] dupGroups: min-label propagation " +
        s"did NOT converge within maxIter=$maxIter rounds; component " +
        s"labels may be incomplete for graphs of diameter > 2^$maxIter")
    // attach isolated nodes (their own component) in one pass
    ids.select(col(idCol).as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Corpus boilerplate profile: word n-grams appearing in at least
    * `minDocs` distinct documents, with their document counts and the
    * smallest carrying doc id. This is the exact-substring-duplication
    * sweep that sizes the skew caps (maxShingleFreq / maxBucket) and
    * feeds template/boilerplate stripping. One explode of per-row
    * DISTINCT gram hashes (native expression — no shuffle-distinct)
    * into one map-side-combinable aggregation; the shuffle carries
    * 8-byte hashes, never gram text.
    */
  def repeatedGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Int = 2): DataFrame =
    spread(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        explode(graft.functions.ShingleHashes(col("__t"), n)).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("example_id"))
      .filter(col("n_docs") >= minDocs)

  /** Span-level exact-substring dedup (Lee et al. 2022,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better"): find, per document, the maximal token spans
    * covered by `n`-token windows that occur at least `minCount`
    * times across the corpus — the substring-granular complement to
    * document-level (exact/minhash) and paragraph-level (para_dedup)
    * dedup. Lee et al. build a corpus suffix array; that is not a
    * shuffle-friendly shape, so this is the standard distributed
    * approximation: fixed-`n` duplicated-gram marking + run merging,
    * which finds exactly the duplicated substrings of >= n tokens
    * (granularity n, no false spans).
    *
    * Scale shape (100 TB): positions+hashes come from ONE scan
    * through the native [[graft.functions.GramHashSeq]] kernel; the
    * duplicate-hash aggregation and the mark join both shuffle the
    * same (doc, pos, 8-byte hash) frame — STAGED, so the exchange
    * computes once — and never gram text; the run merge is one
    * doc-key window over marked positions only (sparse: most of the
    * corpus has no duplicated span). A mega-duplicated gram
    * (boilerplate in every doc) stays a hash-partitioned equi-join
    * row fan-out — each occurrence must be marked — never all-pairs.
    *
    * @return (doc_id, start_tok, end_tok, n_grams): 0-based token
    *         span [start_tok, end_tok] inclusive, n_grams = number of
    *         duplicated windows merged into the span
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Int = 2): DataFrame = {
    require(n > 0 && minCount >= 2,
      s"need n > 0 and minCount >= 2, got n=$n minCount=$minCount")
    val gh = graft.core.Caches.stage(
      df.select(col(idCol).as("doc_id"),
          posexplode(graft.functions.GramHashSeq(col(textCol), n))
            .as(Seq("pos", "h"))))
    val dup = gh.groupBy("h")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select("h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    gh.join(dup, "h")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("start_tok"), max("pos").as("__last"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("start_tok").cast("long"),
        (col("__last") + (n - 1)).cast("long").as("end_tok"),
        col("n_grams"))
  }

  /** Winnowed document fingerprints (Schleimer et al., SIGMOD 2003):
    * the sparse alternative to indexing EVERY gram hash. Selects the
    * rightmost-minimum hash of each w-window over the k-gram hash
    * sequence — `array<struct<pos, h>>`, expected density 2/(w+1),
    * with the guarantee that any shared run of ≥ w+k−1 tokens shares
    * a fingerprint. Same md5-fold hash family as [[dupSpans]]
    * (reference identity hashing: builtin.cljc:2183), so a SQL
    * engine replays every selection.
    *
    * Scale shape (100 TB): fingerprinting is scan-local (one text
    * pass for the gram hashes + one O(n) winnow pass, both inside
    * whole-stage codegen); the downstream index/join volume drops
    * ~(w+1)/2× vs the all-grams frame — the difference between a
    * fingerprint index you can persist per-corpus and one you
    * cannot.
    */
  def winnow(text: Column, k: Int = 4, w: Int = 8): Column =
    graft.functions.WinnowSelect(
      graft.functions.GramHashSeq(text, k), w)

  /** Near-duplicate candidate pairs (id1 < id2, n_shared) over the
    * winnowed fingerprint index: docs sharing ≥ `minShared` DISTINCT
    * fingerprint hashes. The self-join runs on the sparse fingerprint
    * frame only; `maxBucket` drops boilerplate fingerprints shared by
    * more than that many docs (the [[minhashCandidatesMd5]] skew guard —
    * a corpus-wide header would otherwise quadratically fan out its
    * bucket).
    *
    * Precondition: `idCol` is unique per row. Fingerprints are
    * deduplicated per row, not per id, so two rows sharing an id
    * count a shared fingerprint twice and inflate `n_shared`.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 8, minShared: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // per-row array_distinct ≡ the old global `.distinct()` on
    // (id, h) — ids are unique per row, so duplicates only arise
    // within one document's fingerprint array; the distinct's whole
    // exchange disappears (round 18, guide §2.4)
    val fps = graft.core.Caches.stage(
      df.select(col(idCol).as("id"),
          explode(array_distinct(transform(
            winnow(col(textCol), k, w),
            f => f.getField("h")))).as("h"))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("h")))
        .filter(col("__n") <= maxBucket).drop("__n"))
    val l = fps.as("l")
    val r = fps.as("r")
    l.join(r, col("l.h") === col("r.h") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id1"), col("r.id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Winnow partner pairs of an incoming batch AGAINST a corpus —
    * the incremental dedup-check shape ([[incrementalDupPairsMd5]]'s
    * winnow twin): (new_id, corpus_id, n_shared) for batch docs
    * sharing ≥ `minShared` DISTINCT fingerprint hashes with a corpus
    * doc. Rows with equal ids are excluded (the batch-overlaps-corpus
    * self-pair). The boilerplate cap is computed over CORPUS bucket
    * sizes (a fingerprint in more than `maxBucket` corpus docs joins
    * nothing), so candidates per batch fingerprint are bounded and
    * total cost is one corpus scan + a |batch|-bounded join — LINEAR
    * in the corpus where the all-pairs self-join [[winnowPairs]] is
    * quadratic on a shared-vocabulary corpus. This is the shape to
    * run at 100 TB; the self-join form exists for one-shot
    * intra-batch dedup of bounded batches.
    */
  def winnowPairsAgainst(incoming: DataFrame, incId: String,
      corpus: DataFrame, corId: String, textCol: String,
      k: Int = 4, w: Int = 8, minShared: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val corFps = corpus.select(col(corId).as("corpus_id"),
        explode(winnow(col(textCol), k, w)).as("f"))
      .select(col("corpus_id"), col("f.h").as("h")).distinct()
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("__n") <= maxBucket).drop("__n")
    val incFps = incoming.select(col(incId).as("new_id"),
        explode(winnow(col(textCol), k, w)).as("f"))
      .select(col("new_id"), col("f.h").as("h")).distinct()
    incFps.join(corFps, Seq("h"))
      .filter(col("new_id") =!= col("corpus_id"))
      .groupBy("new_id", "corpus_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact n-gram Jaccard similarity between two text columns. */
  def jaccard(a: Column, bc: Column, n: Int = 3): Column = {
    val (sa, sb) = (shingles(a, n), shingles(bc, n))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb))
  }

  // ---------- SimHash (portable, md5-derived) ----------
  //
  // 64-bit SimHash where token-hash bit b is bit (b % 4) of hex digit
  // (b / 4) of md5(token) — every operation has an exact DuckDB mirror,
  // so the fingerprint is oracle-verifiable. The fingerprint is emitted
  // as a 64-char '0'/'1' string (bit 0 first): portable, and avoids
  // 2^63 sign issues a LongType packing would hit in SQL engines.

  /** 64 ±1 contributions from the first 16 hex digits of an md5 hex
    * string (4 bits per digit, LSB first within each digit).
    */
  private def md5BitSigns(m: Column): Column =
    flatten(transform(sequence(lit(0), lit(15)), d => {
      val v = conv(m.substr(d + 1, lit(1)), 16, 10).cast("int")
      array(Seq(1, 2, 4, 8).map(mask =>
        when(v.bitwiseAND(mask) =!= 0, 1).otherwise(-1)): _*)
    }))

  /** Portable SimHash fingerprint as a 64-char bit string — native
    * codegen'd expression; [[simhashMd5Cols]] is the Column-HOF
    * reference form it is equivalence-tested against.
    */
  def simhashMd5(text: Column): Column =
    graft.functions.SimhashMd5(text)

  /** Column-expression (interpreted-HOF) form of [[simhashMd5]]: one
    * md5 + a 64-lane sign aggregate per token. ~10× slower than the
    * native expression (HOF lambdas evaluate interpreted per element);
    * kept as the executable spec for TextHashNativeSpec.
    */
  def simhashMd5Cols(text: Column): Column = {
    val hashes = transform(tokens(text), t => md5(t))
    val sums = aggregate(hashes, array_repeat(lit(0), 64),
      (acc, m) => zip_with(acc, md5BitSigns(m), (a, c) => a + c))
    array_join(transform(sums, s => when(s > 0, "1").otherwise("0")), "")
  }

  /** Hamming distance between two 64-char bit-string fingerprints
    * (native; [[hammingBitsCols]] is the Column reference form).
    */
  def hammingBits(a: Column, bc: Column): Column =
    graft.functions.HammingBits(a, bc)

  /** Column-expression form of [[hammingBits]] (equivalence spec). */
  def hammingBitsCols(a: Column, bc: Column): Column =
    aggregate(transform(sequence(lit(1), lit(64)),
      i => when(a.substr(i, lit(1)) === bc.substr(i, lit(1)), 0)
        .otherwise(1)),
      lit(0), (s, x) => s + x)

  /** Portable SimHash near-dup pairs: block on 4 × 16-char chunks of
    * the bit string (pigeonhole for Hamming ≤ 3), verify full distance.
    */
  def simhashPairsMd5(df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3): DataFrame = {
    // spread + exchange barrier: the fingerprint (one md5 per token +
    // a 64-lane sign aggregate) is computed ONCE per row here; without
    // the barrier CollapseProject inlines it into every chunk branch
    // of the explode below, and a single-split input would pin the
    // whole computation to one task
    val sigs = spread(df.select(col(idCol).as("id"),
        col(textCol).as("__t")))
      .select(col("id"), simhashMd5(col("__t")).as("fp"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    simhashPairsMd5FromFps(sigs, "id", "fp", maxDistance)
  }

  /** Portable SimHash pairs from an already-staged fingerprint frame
    * (callers that also project the fingerprint reuse one computation).
    */
  def simhashPairsMd5FromFps(fps: DataFrame, idCol: String, fpCol: String,
      maxDistance: Int = 3): DataFrame = {
    val sigs = fps.select(col(idCol).as("id"), col(fpCol).as("fp"))
    val chunks = sigs.select(col("id"), col("fp"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("chunk"),
          substring(col("fp"), i * 16 + 1, 16).as("val"))): _*))
        .as("c"))
      .select(col("id"), col("fp"), col("c.chunk"), col("c.val"))
    val l = chunks.as("l")
    val r = chunks.as("r")
    l.join(r,
        col("l.chunk") === col("r.chunk") && col("l.val") === col("r.val") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        hammingBits(col("l.fp"), col("r.fp")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDistance)
  }

  /** Portable SimHash near-dup pairs of an incoming batch AGAINST a
    * corpus (the incremental dedup-check shape): (new_id, corpus_id,
    * dist) with Hamming ≤ `maxDistance`, equal-id self-pairs
    * excluded. Blocking is the same 4 × 16-bit chunk pigeonhole as
    * [[simhashPairsMd5FromFps]], but the join is |batch| chunks ×
    * corpus chunk index — candidates (and cost past the corpus
    * fingerprint scan) scale with |batch| · corpus density, not
    * corpus², which is what makes the check runnable at 100 TB.
    */
  def simhashPairsMd5Against(incoming: DataFrame, incId: String,
      corpus: DataFrame, corId: String, textCol: String,
      maxDistance: Int = 3): DataFrame = {
    val corFps = spread(corpus.select(col(corId).as("id"),
        col(textCol).as("__t")))
      .select(col("id"), simhashMd5(col("__t")).as("fp"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val incFps = spread(incoming.select(col(incId).as("id"),
        col(textCol).as("__t")))
      .select(col("id"), simhashMd5(col("__t")).as("fp"))
    simhashPairsMd5AgainstFps(incFps, "id", "fp", corFps, "id", "fp",
      maxDistance)
  }

  /** [[simhashPairsMd5Against]] from already-computed fingerprint
    * frames (callers that also project fingerprints reuse one
    * computation per side).
    */
  def simhashPairsMd5AgainstFps(incFps: DataFrame, incId: String,
      incFp: String, corFps: DataFrame, corId: String, corFp: String,
      maxDistance: Int = 3): DataFrame = {
    def chunksOf(fps: DataFrame, id: String, fp: String) =
      fps.select(col(id).as("id"), col(fp).as("fp"))
        .select(col("id"), col("fp"),
          explode(array((0 until 4).map(i =>
            struct(lit(i).as("chunk"),
              substring(col("fp"), i * 16 + 1, 16).as("val"))): _*))
            .as("c"))
        .select(col("id"), col("fp"), col("c.chunk"), col("c.val"))
    val l = chunksOf(incFps, incId, incFp).as("l")
    val r = chunksOf(corFps, corId, corFp).as("r")
    l.join(r,
        col("l.chunk") === col("r.chunk") &&
        col("l.val") === col("r.val") &&
        col("l.id") =!= col("r.id"))
      .select(col("l.id").as("new_id"), col("r.id").as("corpus_id"),
        hammingBits(col("l.fp"), col("r.fp")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDistance)
  }

  // ---------- embedding cosine ----------

  /** Cosine similarity of two float-array columns (row-local). */
  def cosine(a: Column, bc: Column): Column =
    graft.functions.CosineSim(a, bc)

  /** The Column-HOF cosine — kept as the executable specification the
    * native [[graft.functions.CosineSim]] kernel is differentially
    * tested against (VecSimSpec pins bit-identity; the kernel uses
    * the same left-fold element order, so every oracle that mirrors
    * this arithmetic is unaffected).
    */
  def cosineHof(a: Column, bc: Column): Column = {
    val dot = aggregate(zip_with(a, bc, (x, y) => x * y),
      lit(0.0d), (s, x) => s + x)
    val na = sqrt(aggregate(a, lit(0.0d), (s, x) => s + x * x))
    val nb = sqrt(aggregate(bc, lit(0.0d), (s, x) => s + x * x))
    dot / (na * nb)
  }

  /** Random-hyperplane LSH bucket signature. Plane components are
    * deterministic literals baked into the plan (seeded PRNG at plan
    * construction) — a plain literal-array dot product per plane, no
    * per-element hashing at runtime, reproducible across executors.
    */
  def hyperplaneBucket(vec: Column, planes: Int = 16,
      seed: Int = 42, dim: Int = 64): Column =
    (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(vec, planeLit(seed, p, dim), (x, w) => x * w),
        lit(0.0d), (s, x) => s + x)
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  private[pipeline] def planeLit(seed: Int, p: Int, dim: Int): Column = {
    val rnd = new scala.util.Random(seed.toLong * 1000003L + p)
    array((0 until dim).map(_ => lit(rnd.nextDouble() * 2 - 1)): _*)
  }

  /** C4-style boilerplate-paragraph removal: drop every paragraph that
    * appears (by md5 of its exact text) in at least `minDocs` distinct
    * documents, preserving the order of surviving paragraphs. Returns
    * one row per input document: id, reassembled text, kept/dropped
    * counts (a document whose every paragraph is boilerplate survives
    * with empty text — the caller decides whether to drop it).
    *
    * Scale shape: posexplode (linear), ONE paragraph-hash aggregate
    * whose output is only the frequent hashes (bounded by
    * total_paragraphs / minDocs, and in practice by the boilerplate
    * vocabulary — headers/footers/licenses), broadcast back as an
    * equality probe, then one groupBy(doc) to reassemble.
    */
  def dropRepeatedParagraphs(df: DataFrame, idCol: String,
      textCol: String, sep: String = "\n\n",
      minDocs: Int = 2): DataFrame = {
    val sepLit = java.util.regex.Pattern.quote(sep)
    // null text coalesces to '' so the doc still explodes to one row
    // and survives to the output ("one row per input document"); the
    // __nulltext flag restores the null on reassembly and keeps the
    // synthesized empty paragraph out of the boilerplate profile.
    // Staged: both the boilerplate aggregate and the flagging join
    // consume this frame, and __h is computed once here.
    val paras = graft.core.Caches.stage(
      df.select(col(idCol).as("__id"),
        col(textCol).isNull.as("__nulltext"),
        posexplode(split(coalesce(col(textCol), lit("")), sepLit))
          .as(Seq("__pos", "__para")))
        .withColumn("__ph", md5(col("__para"))))
    val boiler = broadcast(paras.filter(!col("__nulltext"))
      .groupBy(col("__ph").as("__h"))
      .agg(countDistinct(col("__id")).as("__d"))
      .filter(col("__d") >= minDocs)
      .select("__h"))
    val flagged = paras.join(boiler,
        col("__ph") === col("__h"), "left")
      .select(col("__id"), col("__nulltext"), col("__pos"), col("__para"),
        col("__h").isNotNull.as("__boiler"))
    // per-document reassembly: bounded group (one document's
    // paragraphs), order restored from the explode position
    flagged.groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__pos"),
        col("__boiler"), col("__para")))).as("__ps"),
        first(col("__nulltext")).as("__nt"))
      .select(col("__id").as(idCol),
        when(col("__nt"), lit(null).cast("string"))
          .otherwise(array_join(transform(
            filter(col("__ps"), p => !p.getField("__boiler")),
            _.getField("__para")), sep)).as(textCol),
        when(col("__nt"), lit(0L)).otherwise(
          size(filter(col("__ps"), p => !p.getField("__boiler")))
            .cast("long")).as("n_kept"),
        size(filter(col("__ps"), p => p.getField("__boiler")))
          .cast("long").as("n_dropped"))
  }

  /** Embedding near-dup pairs: bucket by hyperplane signature, verify
    * cosine within buckets. One shuffle on the bucket key.
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 12,
      dim: Int = 64): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .withColumn("bucket", element_at(
        graft.functions.HyperplaneBuckets(col("vec"), planes, 1, dim, 42),
        1))
    val l = v.as("l")
    val r = v.as("r")
    l.join(r, col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .withColumn("cos", cosine(col("l.vec"), col("r.vec")))
      .filter(col("cos") >= threshold)
      .select(col("l.id").as("id1"), col("r.id").as("id2"), col("cos"))
  }
}
