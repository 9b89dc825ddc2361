package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over an embedding column — the
  * topic/domain clustering pass of a training-data pipeline (corpus
  * bucketing, stratified mixing, cluster-balanced sampling).
  *
  * Scale shape (100 TB): each iteration is ONE scan of the corpus with
  * the k centroids baked into the plan as literals (the assignment is
  * a flat codegen'd expression — k dot products of dim literal
  * multiply-adds, no HOF lambdas, no join) feeding ONE hash
  * aggregation of k×(dim+1) cells with map-side partial aggregation.
  * Only the k aggregated rows ever reach the driver (the same
  * driver-sized footprint AQE stats use); the corpus is never
  * collected, cached, or shuffled — iterations re-scan, which at
  * warehouse scale is the standard trade against pinning 100 TB in
  * cluster memory.
  *
  * Determinism: centroid updates run in fixed-point (floor(v·2^20) as
  * exact longs, summed order-independently) and the mean is one IEEE
  * division — so the result is independent of partitioning/retries and
  * bit-reproducible in any engine, which is what lets the DuckDB
  * oracle replay whole iterations (see PipelineQueries.p_kmeans).
  * Distance ranking mirrors the argmin exactly: d = |c|² − 2·v·c
  * (the |v|² term cancels in argmin), ties to the smaller cluster id.
  */
object Cluster {

  /** Fixed-point scale for exact centroid sums: 2^20 ≈ 6 decimal
    * digits. |sum| stays < 2^53 for corpora up to ~2^32 rows of
    * unit-scale components — beyond that raise to DECIMAL sums.
    */
  val FixScale: Double = 1048576.0d

  /** Deterministic unit-norm initial centroids (shared generator with
    * the IVF index so oracle SQL can embed identical literals).
    */
  def initCentroids(k: Int, dim: Int, seed: Int): Array[Array[Double]] =
    Ann.centroids(k, dim, seed)

  /** v·w as a flat left-folded multiply-add chain (codegen'd; the
    * fold order is the one every engine's ordered list-sum replays).
    */
  private def dot(vec: Column, w: Array[Double]): Column =
    w.indices.map(i => element_at(vec, i + 1) * lit(w(i)))
      .reduceLeft(_ + _)

  /** |w|² summed in index order on the driver — mirrors the ordered
    * list-sum the oracle uses, so the double is identical.
    */
  private def sqNorm(w: Array[Double]): Double = {
    var s = 0.0d
    var i = 0
    while (i < w.length) { s += w(i) * w(i); i += 1 }
    s
  }

  /** Cluster id of `vec` under `cents`: argmin over c of
    * |c|² − 2·v·c, ties to the smaller id. Native codegen'd loop
    * (graft.functions.KmeansAssign); ClusterSpec holds the Column
    * reference form it is equivalence-tested against (a when-fold that
    * duplicates each dot-product tree per comparison level, a 2^k
    * expression blowup no hot path may run).
    */
  def assign(vec: Column, cents: Array[Array[Double]]): Column =
    graft.functions.KmeansAssign(vec, cents, cents.map(sqNorm))

  /** `iters` assignment passes with `iters - 1` centroid updates
    * between them (Lloyd). Returns the final assignment frame
    * (id, cluster) and the centroids that produced it.
    *
    * Empty clusters keep their previous centroid.
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, dim: Int = 64,
      seed: Int = 2026): (DataFrame, Array[Array[Double]]) = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    // null / undersized vectors would surface as an opaque NPE at the
    // centroid-update collect (null cluster id, null sums) far from
    // the bad input — drop them here, where the contract is visible
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) >= dim)
    var cents = initCentroids(k, dim, seed)
    var it = 1
    while (it < iters) {
      // one scan + one k-row aggregation; only k rows hit the driver
      val aggCols = count(lit(1)).as("n") +: (0 until dim).map(i =>
        sum(floor(element_at(col("v"), i + 1) * FixScale).cast("long"))
          .as(s"s$i"))
      val rows = v.groupBy(assign(col("v"), cents).as("c"))
        .agg(aggCols.head, aggCols.tail: _*)
        .collect()
      val next = cents.map(_.clone())
      rows.foreach { r =>
        val c = r.getInt(0)
        val n = r.getLong(1)
        var i = 0
        while (i < dim) {
          next(c)(i) = r.getLong(2 + i).toDouble / (n * FixScale)
          i += 1
        }
      }
      cents = next
      it += 1
    }
    (v.select(col("id"), assign(col("v"), cents).as("cluster"),
      col("v")), cents)
  }

  /** Greedy k-center (farthest-point) coreset selection — the
    * diversity-maximizing subset rule (Sener & Savarese, ICLR 2018
    * use it as the core-set active-learning criterion): start from
    * the smallest id, then repeatedly add the point FARTHEST from
    * every already-selected center. A k-center coreset is the
    * opposite selection posture to head sampling — it covers the
    * embedding space's extremes, which is what eval-set seeding and
    * diverse fine-tuning subsets want.
    *
    * Scale shape (100 TB): each of the k−1 selection steps is ONE
    * corpus scan — the selected centers are baked into the plan as
    * literal arrays (the [[kmeans]] posture) and the per-point
    * min-distance is a flat codegen'd least() chain feeding a
    * TakeOrdered(1); only one row reaches the driver per step. The
    * final assignment pass is the same literal-centroid argmin kmeans
    * uses. k scans, no joins, no collect of anything corpus-sized.
    *
    * Determinism/portability: d² = (|c|² − 2·v·c) + |v|² evaluated in
    * the ordered-fold IEEE arithmetic every engine replays; argmax
    * ties break on the smaller id, assignment ties on the earlier
    * center. The whole trajectory (selection AND assignment) is
    * therefore oracle-replayable.
    *
    * @return (assignment frame (id, center_step, center_id), selected
    *         centers in selection order)
    */
  def kcenterGreedy(df: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int = 64): (DataFrame, Seq[(Long, Array[Double])]) = {
    require(k >= 1, s"need k >= 1, got $k")
    // staged: k−1 sequential argmax passes + the final assignment all
    // scan this frame (the kmeans/unigram-train round pattern —
    // without it every greedy step re-reads the input source)
    // the squared norm is center-independent — bake it into the
    // staged cache ONCE (round 18): every greedy step's distance
    // expression used to re-evaluate the 64-term Σv²ᵢ per row per
    // step, and the duplicated subtree grew each step's codegen unit;
    // the stored double is the identical IEEE value (same expression,
    // same data), so the argmax trajectory is bit-unchanged
    val sqOf: Column = {
      val vv = col("v")
      (0 until dim).map(i =>
        element_at(vv, i + 1) * element_at(vv, i + 1)).reduceLeft(_ + _)
    }
    val v = graft.core.Caches.stage(
      df.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("v"))
        .filter(col("v").isNotNull && size(col("v")) >= dim)
        .withColumn("__sq", sqOf))
    // an empty frame would surface as a bare NoSuchElementException
    // from the first collect, and k > n would silently select
    // duplicate centers (min-distance 0 everywhere after all n points
    // are centers) — both caller bugs, so fail with the actual counts.
    // The count also materializes the staged cache before the k−1
    // sequential scans, so it costs no extra pass.
    val n = v.count()
    require(n >= 1, "kcenterGreedy: no eligible rows (need a " +
      s"non-null $vecCol with >= $dim components)")
    require(k <= n, s"kcenterGreedy: k=$k exceeds the $n eligible " +
      "rows — every point is already a center")
    def dist2(c: Array[Double]): Column =
      lit(sqNorm(c)) - lit(2.0d) * dot(col("v"), c) + col("__sq")
    val first = v.orderBy("id").limit(1).collect().head
    var centers = Vector((first.getLong(0),
      first.getSeq[Double](1).toArray))
    for (_ <- 2 to k) {
      val minD = centers.map(c => dist2(c._2)).reduceLeft(least(_, _))
      val next = v.withColumn("__md", minD)
        .orderBy(col("__md").desc, col("id")).limit(1)
        .collect().head
      centers = centers :+ ((next.getLong(0),
        next.getSeq[Double](1).toArray))
    }
    val cents = centers.map(_._2).toArray
    val centerIds = array(centers.map(c => lit(c._1)): _*)
    val assigned = v.select(col("id"),
        (assign(col("v"), cents) + 1).as("center_step"))
      .withColumn("center_id", element_at(centerIds, col("center_step")))
    (assigned, centers)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus embeddings with [[kmeans]],
    * then inside each cluster mark every document whose cosine
    * similarity to a SMALLER-id document reaches `threshold` as a
    * duplicate — keep-smallest-id, the same representative rule as
    * exact dedup. Returns (id, cluster, is_dup): one row per input
    * vector, callers filter `!is_dup` to curate.
    *
    * Scale shape (100 TB): the paper's within-cluster comparison is
    * still quadratic in cluster size, so clusters are sub-blocked by a
    * random-hyperplane signature (the literal-matrix LSH of
    * graft.functions.HyperplaneBuckets) and only (cluster, bucket) cells
    * pair — the verify join's key is the cell, never the corpus, and a
    * cell is ~|cluster| / 2^planes rows. Like every LSH stage here the
    * sub-blocking trades bounded recall for a bounded join; planes=0
    * recovers the exact paper semantics. The assignment frame is
    * staged once (self-join + final left join consume it) and
    * released by the harness's Caches.releaseAll.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, threshold: Double, dim: Int = 64, planes: Int = 6,
      seed: Int = 2026, planeSeed: Int = 77): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val (assigned, _) = kmeans(df, idCol, vecCol, k, iters, dim, seed)
    val withB = assigned.withColumn("bucket",
      if (planes <= 0) lit(0L)
      else element_at(graft.functions.HyperplaneBuckets(
        col("v"), planes, 1, dim, planeSeed), 1))
    val a = graft.core.Caches.stage(withB)
    // fixed-point threshold compare: floor(cos·10^6) ≥ floor(t·10^6)
    // keeps the decision replayable in any engine computing the same
    // ordered double arithmetic (the oracle's list_sum mirror)
    val thFix = math.floor(threshold * 1e6)
    // LEFT SEMI, not inner+distinct: is_dup needs the EXISTENCE of one
    // above-threshold partner, not the pair list. The semi join stops
    // probing a row's block after its first match and never
    // materializes the pair set through an exchange — on dense data
    // (near-dup-rich corpora, where within-block TRUE pair volume is
    // quadratic) that enumeration was the whole cost profile
    // (BENCH_sf10_r12 semdedup rows).
    val dup = a.as("l").join(a.as("r"),
        col("l.cluster") === col("r.cluster") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.id") > col("r.id") &&
          floor(Dedup.cosine(col("l.v"), col("r.v")) * 1e6) >=
            lit(thFix),
        "leftsemi")
      .select(col("id"))
    a.join(dup.withColumn("__dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }
}
