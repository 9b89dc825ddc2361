package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Lloyd k-means: determinism (fixed-point updates make the result
  * independent of partitioning), assignment sanity, and the
  * iters=1 ≡ nearest-init-centroid identity.
  */
class ClusterSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf("sf0.001"))

  /** Column-expression form of [[Cluster.assign]] (executable spec):
    * |w|² − 2·v·w per centroid, summed in index order, folded to the
    * argmin with ties to the smaller id.
    */
  private def assignCols(vec: Column, cents: Array[Array[Double]])
      : Column = {
    val scored = cents.zipWithIndex.map { case (w, i) =>
      val sq = w.foldLeft(0.0d)((s, x) => s + x * x)
      val dot = w.indices.map(j => element_at(vec, j + 1) * lit(w(j)))
        .reduceLeft(_ + _)
      (lit(sq) - lit(2.0d) * dot, i)
    }
    val best = scored.tail.foldLeft(
      struct(scored.head._1.as("d"), lit(0).as("c"))) {
      case (b, (d, i)) =>
        when(d < b.getField("d"),
          struct(d.as("d"), lit(i).as("c"))).otherwise(b)
    }
    best.getField("c")
  }

  test("kmeans assignments are identical under repartitioning") {
    val (a1, c1) = Cluster.kmeans(emb, "vec_id", "embedding",
      k = 4, iters = 3)
    val (a2, c2) = Cluster.kmeans(emb.repartition(7), "vec_id",
      "embedding", k = 4, iters = 3)
    assert(c1.flatten.toSeq == c2.flatten.toSeq,
      "centroids must be bit-identical regardless of partitioning")
    assert(a1.orderBy("id").collect().toSeq ==
      a2.orderBy("id").collect().toSeq)
  }

  test("every vector gets a cluster in [0, k)") {
    val (a, _) = Cluster.kmeans(emb, "vec_id", "embedding",
      k = 4, iters = 2)
    val n = emb.count()
    assert(a.count() == n)
    assert(a.filter(col("cluster") < 0 || col("cluster") >= 4)
      .count() == 0)
  }

  test("iters=1 assigns to the nearest initial centroid") {
    val cents = Cluster.initCentroids(4, 64, 2026)
    val (a, returned) = Cluster.kmeans(emb, "vec_id", "embedding",
      k = 4, iters = 1)
    assert(returned.flatten.toSeq == cents.flatten.toSeq,
      "no update step may run before the only assignment")
    // brute-force the argmin on the driver for a sample
    val rows = emb.orderBy("vec_id").limit(20)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val got = a.orderBy("id").limit(20).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (id, v) =>
      val d = cents.map(c =>
        c.zip(v).map { case (w, x) => (x - w) * (x - w) }.sum)
      val want = d.indexOf(d.min)
      assert(got(id) == want, s"vec $id: got ${got(id)}, want $want")
    }
  }

  test("native assign == Column-fold assign") {
    val cents = Cluster.initCentroids(4, 64, 99)
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val diff = v.select(
        Cluster.assign(col("v"), cents).as("n"),
        assignCols(col("v"), cents).as("c"))
      .filter(col("n") =!= col("c")).count()
    assert(diff == 0)
  }

  test("null and undersized vectors are dropped, not an NPE at collect") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Array.fill(64)(0.5))),
      (2L, None),
      (3L, Some(Array.fill(3)(0.5)))).toDF("vec_id", "embedding")
    val (assigned, _) =
      Cluster.kmeans(df, "vec_id", "embedding", k = 2, iters = 2)
    assert(assigned.select("id").as[Long].collect().toSet == Set(1L))
  }

  test("semDedup drops within-cluster near-dups, keep-smallest-id") {
    import spark.implicits._
    val a = Array.tabulate(64)(i => math.sin(i + 1.0))
    val b = a.clone() // exact dup of a
    val c = a.map(x => x * 0.999 + 0.001) // near-dup of a
    val far = Array.tabulate(64)(i => math.cos(3.0 * i) - 0.5)
    val df = Seq((1L, a), (2L, b), (3L, c), (7L, far))
      .toDF("vec_id", "embedding")
    // planes = 0: exact paper semantics (no sub-blocking)
    val out = graft.pipeline.Cluster.semDedup(df, "vec_id", "embedding",
        k = 2, iters = 2, threshold = 0.99, planes = 0)
      .orderBy("id").select("id", "is_dup")
      .as[(Long, Boolean)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 7L),
      "one row per input vector")
    assert(out == Seq((1L, false), (2L, true), (3L, true), (7L, false)),
      s"smallest id represents the near-dup group, got $out")
    // identical vectors always share any hyperplane bucket, so the
    // exact dup is still caught under sub-blocking
    val blocked = graft.pipeline.Cluster.semDedup(df, "vec_id",
        "embedding", k = 2, iters = 2, threshold = 0.99, planes = 6)
      .filter(col("id") === 2L).select("is_dup")
      .as[Boolean].collect()
    assert(blocked.toSeq == Seq(true))
  }

  test("updates move centroids toward assigned points") {
    val (_, c1) = Cluster.kmeans(emb, "vec_id", "embedding",
      k = 4, iters = 1)
    val (_, c3) = Cluster.kmeans(emb, "vec_id", "embedding",
      k = 4, iters = 3)
    assert(c1.flatten.toSeq != c3.flatten.toSeq,
      "two update rounds must change the deterministic init centroids")
  }

  test("kcenterGreedy covers well-separated clusters and assigns " +
      "each point to its own cluster's center") {
    import spark.implicits._
    def vec(a: Double, b: Double): Seq[Double] =
      Seq(a, b) ++ Seq.fill(62)(0.0)
    // three tight clusters far apart; ids interleaved so selection
    // order is geometry, not id order
    val pts = Seq(
      (1L, vec(0, 0)), (4L, vec(0.1, 0)), (7L, vec(0, 0.1)),
      (2L, vec(100, 0)), (5L, vec(100.1, 0)),
      (3L, vec(0, 100)), (6L, vec(0, 100.2))).toDF("id", "v")
    val (assigned, centers) =
      Cluster.kcenterGreedy(pts, "id", "v", k = 3, dim = 64)
    // first center = smallest id; the other two are one per far cluster
    assert(centers.head._1 == 1L)
    val centerIds = centers.map(_._1).toSet
    assert(centerIds.contains(2L) || centerIds.contains(5L))
    assert(centerIds.contains(3L) || centerIds.contains(6L))
    // every point lands with its own cluster's center
    val byCenter = assigned.collect()
      .groupBy(_.getLong(2)).map { case (c, rs) =>
        c -> rs.map(_.getLong(0)).toSet }
    val clusterOf = Map(1L -> 0, 4L -> 0, 7L -> 0, 2L -> 1, 5L -> 1,
      3L -> 2, 6L -> 2)
    byCenter.foreach { case (c, members) =>
      assert(members.map(clusterOf).size == 1,
        s"center $c mixes clusters: $members")
      assert(members.contains(c))
    }
  }

  test("kcenterGreedy second pick is the farthest point from the " +
      "first center") {
    import spark.implicits._
    def vec(a: Double): Seq[Double] = Seq(a) ++ Seq.fill(63)(0.0)
    val pts = Seq((1L, vec(0)), (2L, vec(5)), (3L, vec(9)),
      (4L, vec(2))).toDF("id", "v")
    val (_, centers) = Cluster.kcenterGreedy(pts, "id", "v", k = 2,
      dim = 64)
    assert(centers.map(_._1) == Seq(1L, 3L))
  }
}
