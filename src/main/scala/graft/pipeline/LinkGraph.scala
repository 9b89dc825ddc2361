package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weighted PageRank over an aggregated link graph — the standard
  * web-corpus quality signal (a page linked from well-linked pages is
  * itself trustworthy; used as a document-level curation feature the
  * same way harmonic centrality ranks Common Crawl hosts).
  *
  * Scale shape: the expensive part of ranking a 100 TB corpus is
  * deriving the EDGE frame (a corpus-scale aggregation that partial-
  * aggs map-side); the iterations touch only that aggregated graph.
  * Each pass is one co-partitioned join of the rank frame with the
  * edge frame plus one groupBy(dst) — both shuffle on node ids, and
  * AQE handles hub skew the same way it does any aggregation. Rank
  * frames are lineage-cut per pass ([[graft.core.Checkpoints.cut]] —
  * executor-local by default, reliable when
  * `spark.graft.checkpoint.dir` is set) so the plan does not grow
  * with the iteration count (the dupGroups lineage discipline).
  *
  * Arithmetic is FIXED-POINT: ranks are longs scaled by `scale`, a
  * contribution is (rank·w) div out_w evaluated in DECIMAL(38,0)
  * (exact, no Long overflow), and the damping update is
  * base + (dampPct·Σcontrib) div 100 — every iteration is integer-
  * exact and order-independent, so whole runs replay bit-for-bit in
  * an external engine (the pDsir fixed-point discipline).
  */
object LinkGraph {

  /** Rank `iters` passes over `edges` (columns src, dst, w). Returns
    * (id, rank) with rank in fixed-point `scale` units; Σrank drifts
    * below `scale` only by the per-node floor truncations. Dangling
    * nodes (no out-edges) keep only their base share — the classic
    * simplification, documented rather than hidden.
    *
    * The returned frame is LAZY at the final round (r17): a caller
    * that runs more than one action on it should stage/cut it itself,
    * or the last join+aggregate recomputes per action. */
  def pagerank(edges: DataFrame, iters: Int, dampPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"),
      col("w").cast("long").as("w"))
    // bake the out-weight denominator into the staged edge frame once
    // (a window partitioned by src) so each iteration is exactly one
    // join + one aggregation, not two joins. The frame is staged
    // hash(src)-partitioned — the layout the per-round contrib join
    // probes, so that join never re-shuffles the edge side (the
    // dupGroups edge-layout trick, r17). The count is pinned to
    // spark.sql.shuffle.partitions (Caches.layoutPartitions) by an
    // explicit repartition BEFORE the window, which the window's
    // distribution then reuses with no exchange of its own: left to
    // the window's own shuffle, the layout would either keep 8 × slots
    // partitions or be coalesced by AQE below the join's count.
    val e = graft.core.Caches.stage(e0
      .repartition(graft.core.Caches.layoutPartitions(edges.sparkSession),
        col("src"))
      .withColumn("out_w",
        sum("w").over(org.apache.spark.sql.expressions.Window
          .partitionBy("src"))))
    // materialize the node set once — it re-enters the plan every
    // pass (the rank rebuild join), and without the checkpoint each
    // pass would redo the distinct over the edge frame; both endpoints
    // come out of one scan of the cache, not a union of two
    val nodes = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct().transform(graft.core.Checkpoints.cut)
    // |nodes| is one count over the aggregated graph frame (not the
    // corpus); it sizes the uniform prior baked into the plan.
    val n = nodes.count()
    require(n > 0, "pagerank over an empty edge frame")
    val base = (scale / 100 * (100 - dampPct)) / n
    // rank₀ is a constant projection over the already-checkpointed
    // node frame — cutting it again was one pure-overhead eager job
    // per call (dropped round 18; the per-round cuts below still
    // bound plan growth)
    var rank = nodes.withColumn("rank", lit(scale / n))
    for (i <- 1 to iters) {
      // one round = one join + ONE aggregation: the zero-contribution
      // row unioned per node replaces the old rebuild join against
      // `nodes` (dangling/unlinked nodes still appear, with cs = 0 —
      // sum is integer-exact so the result is bit-identical), saving
      // a join and its broadcast-build job every round (round 18,
      // guide §2.4; job-count attribution in OPTIMIZATION_r18.md)
      val contrib = e
        .join(rank.withColumnRenamed("id", "src"), "src")
        .select(col("dst"),
          expr("(CAST(rank AS DECIMAL(38,0)) * w) div out_w").as("c"))
      rank = contrib
        .union(nodes.select(col("id").as("dst"),
          lit(0).cast("decimal(38,0)").as("c")))
        .groupBy(col("dst").as("id"))
        .agg((lit(base) + expr(s"($dampPct * sum(c)) div 100"))
          .as("rank"))
      // the cut exists to stop per-round plan growth; the LAST
      // round's frame never re-enters a round, so it stays lazy (one
      // eager materialization job saved per call — r17)
      if (i < iters) rank = rank.transform(graft.core.Checkpoints.cut)
    }
    rank
  }

  /** Per-node triangle counts and degrees over an undirected edge
    * list — the local-density features (a node in many triangles
    * sits in a clique-like cluster; degree without triangles is a
    * hub or a chain). On a near-dup graph this separates template
    * FAMILIES (cliques) from coincidental chains — a curation signal
    * no single dedup pass gives.
    *
    * Algorithm: normalize to a < b distinct edges, enumerate wedges
    * a<b<c through the middle id, close them against the edge list —
    * each triangle is found exactly once (its id-ordered form), then
    * credited to all three corners. Joins only; no iteration.
    *
    * Scale shape: wedge fan-out is Σ_b d⁺(b)·d⁻(b) under the id
    * orientation. Near-dup edge lists arrive bucket-capped
    * (`maxBucket`), which bounds degrees by construction; for
    * power-law graphs re-orient by (degree, id) before the wedge
    * join (the standard compact-forward trick) — the join shape is
    * identical.
    *
    * @param edges (id1, id2) any orientation, self-loops ignored
    * @return (id, degree, n_triangles) for every id with degree ≥ 1
    */
  def triangles(edges: DataFrame): DataFrame = {
    val e = graft.core.Caches.stage(
      edges.filter(col("id1") =!= col("id2"))
        .select(least(col("id1"), col("id2")).as("a"),
          greatest(col("id1"), col("id2")).as("b"))
        .distinct())
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
      .join(e.select(col("a").as("x"), col("b").as("z")),
        Seq("x", "z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    e.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007)
    * over an undirected edge list (id1, id2): every node starts as
    * its own label; each round it adopts the most frequent label
    * among its NEIGHBORS, ties to the smallest label. Where connected
    * components ([[graft.pipeline.Dedup.dupGroups]]) answer "reachable
    * at all", LPA's fixed-round form splits a component into dense
    * cores — on a near-dup graph that separates template families
    * that CC would merge through one accidental bridge pair.
    *
    * Deterministic by construction: synchronous updates, a fixed
    * iteration count (no data-dependent convergence test), and the
    * (count desc, label asc) tie order — the whole trajectory replays
    * in any engine, unlike the randomized asynchronous original.
    *
    * Scale shape: each round is one join of the symmetrized edge
    * frame with the label frame (both keyed by node id) plus one
    * (node, label) hash aggregation and one per-node window over the
    * aggregated counts — all bounded by |E|, nothing corpus-sized;
    * label frames are localCheckpointed per round (the dupGroups
    * lineage discipline). Degree skew rides the same AQE handling as
    * any aggregation; near-dup inputs arrive bucket-capped.
    *
    * @return (id, label) — nodes of the edge list only (an isolated
    *         corpus row has no edges and keeps its own community
    *         trivially; callers left-join if they need those rows).
    *         Lazy at the final round, like [[pagerank]]: callers
    *         running several actions on it should stage/cut it.
    */
  def labelProp(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    // symmetrized in ONE pass over the edge plan, as in dupGroups: a
    // union of two selects would run the plan behind `edges` (a pair
    // generation, in p_lpa) once per branch, in twice the tasks.
    // staged REPARTITIONED BY b: every round's neighbor join probes
    // sym on b, so materializing the cache in that layout removes the
    // per-round exchange of the edge frame — the big side of the
    // round at corpus scale (optimization round 17, guide §2.4; the
    // dupGroups edge-layout trick), in spark.sql.shuffle.partitions
    // partitions (Caches.layoutPartitions; a by-number repartition
    // AQE never coalesces)
    val sym = graft.core.Caches.stage(edges
      .filter(col("id1") =!= col("id2"))
      .select(explode(array(
        struct(col("id1").as("a"), col("id2").as("b")),
        struct(col("id2").as("a"), col("id1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .repartition(graft.core.Caches.layoutPartitions(edges.sparkSession),
        col("b")))
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")).transform(graft.core.Checkpoints.cut)
    for (i <- 1 to iters) {
      val nb = sym
        .join(labels.withColumnRenamed("id", "b"), "b")
        .groupBy(col("a").as("id"), col("label"))
        .agg(count(lit(1)).as("__n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("__n").desc, col("label"))
      labels = nb.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("id"), col("label"))
      // last round stays lazy — the cut only guards round-over-round
      // plan growth (r17, as in pagerank)
      if (i < iters) labels = labels.transform(graft.core.Checkpoints.cut)
    }
    labels
  }
}
