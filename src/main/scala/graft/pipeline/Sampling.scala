package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{Md5Fold60, Sum60}

/** Deterministic sampling/mixing operators for training-data curation.
  *
  * Training pipelines need reproducible subsets ("50% of English, all
  * of French") and a reproducible global training order — both
  * independent of cluster partitioning, retries, and input file
  * order. Randomness here is a seeded CONTENT hash (md5 of id+seed):
  * deterministic across runs and engines (oracle-checkable), uniform
  * enough for mixing, and cheap.
  *
  * Scale notes: stratified sampling is one shuffle on the stratum key
  * (window rank); the global shuffle is one range-partitioned sort on
  * the hash — both standard Spark shapes with no driver involvement.
  */
object Sampling {

  /** Seeded per-row sampling hash (hex string, uniform lexicographic). */
  def sampleHash(id: Column, seed: Int): Column =
    md5(concat(id.cast("string"), lit(":" + seed)))

  /** The 60-bit fold of [[sampleHash]]: its first 15 hex digits as a
    * long, read straight from the digest ([[Md5Fold60]]). */
  private def sampleFold(id: Column, seed: Int): Column =
    Md5Fold60(concat(id.cast("string"), lit(":" + seed)))

  /** [[sampleFold]] as a fraction in [0, 1): the integer value of 15
    * hex digits / 16^15 (exact in double far beyond the thresholds'
    * precision). */
  private def sampleFrac(id: Column, seed: Int): Column =
    sampleFold(id, seed).cast("double") / 1152921504606846976.0d

  /** Deterministic stratified sample: within each stratum, rows rank
    * by the seeded hash and the first ceil(frac × n) survive. Exact
    * per-stratum counts (unlike Bernoulli `df.sample`), reproducible
    * under repartitioning, one shuffle.
    *
    * @param fracs  per-stratum keep fraction; strata absent from the
    *               map use `default`
    */
  def stratified(df: DataFrame, stratumCol: String, idCol: String,
      fracs: Map[String, Double], default: Double = 0.0,
      seed: Int = 42): DataFrame = {
    val w = Window.partitionBy(stratumCol)
      .orderBy(sampleHash(col(idCol), seed), col(idCol))
    val frac = fracs.foldLeft(lit(default)) { case (acc, (k, f)) =>
      when(col(stratumCol) === k, f).otherwise(acc)
    }
    df.withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(stratumCol)))
      .filter(col("__rk") <= ceil(frac * col("__n")))
      .drop("__rk", "__n")
  }

  /** Deterministic train/val/test split: each row lands in the split
    * whose cumulative weight interval contains its seeded hash —
    * scan-local (no shuffle, no coordination), stable under
    * repartitioning/retries/appends (a row's split never changes when
    * other rows come or go, unlike rank-based splitting), and
    * engine-portable (the first 15 hex digits of the hash compare as
    * an integer fraction of 16^15).
    *
    * @param splits (name, weight) in order; weights normalize to 1
    */
  def split(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], seed: Int = 42): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "need positive split weights")
    val total = splits.map(_._2).sum
    val frac = sampleFrac(col(idCol), seed)
    val bounds = splits.scanLeft(0.0) { case (acc, (_, w)) =>
      acc + w / total
    }.tail
    val expr = splits.zip(bounds).init.foldRight(
      lit(splits.last._1): Column) { case (((name, _), b), acc) =>
      when(frac < b, name).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Deterministic weight-proportional Bernoulli filter: keep a row
    * iff its seeded hash fraction < `weight` (a [0,1] column — e.g. a
    * quality score, so high-quality documents survive proportionally
    * more often). Scan-local like [[split]] (no shuffle; a row's fate
    * never depends on other rows, so appends/retries/repartition
    * can't change it), and engine-portable through the same exact
    * 15-hex-digit fraction.
    */
  def weighted(df: DataFrame, idCol: String, weight: Column,
      seed: Int = 42): DataFrame = {
    df.filter(sampleFrac(col(idCol), seed) < weight)
  }

  /** Temperature-weighted source mixing — the "alpha sampling" of
    * multi-source/multilingual training runs: sample stratum `s` with
    * probability ∝ n_s^alpha, flattening the source distribution
    * toward uniform as alpha → 0. Each stratum gets the keep
    * probability
    *   q_s = targetFrac · N · p_s / n_s,  p_s = n_s^alpha / Σ n^alpha
    * and a row survives iff its seeded hash fraction < q_s (scan-local
    * membership; q_s ≥ 1 keeps the whole stratum).
    *
    * Scale shape: ONE tiny stratum-count aggregate (map-side partial)
    * broadcast back as a rates frame — the corpus itself never
    * shuffles, and a row's fate depends only on its own id + the
    * stratum rates, so appends change rates but never flip a kept row
    * capriciously under retries/repartitioning.
    *
    * Engine portability: the default alpha = 0.5 goes through sqrt
    * (IEEE correctly rounded — bit-exact across engines); other alphas
    * use pow, whose last-ulp rounding is library-defined. The Σ n^alpha
    * reduction runs through DECIMAL so summation order cannot perturb
    * the rates.
    */
  def temperatureMix(df: DataFrame, stratumCol: String, idCol: String,
      targetFrac: Double, alpha: Double = 0.5,
      seed: Int = 42): DataFrame = {
    require(targetFrac > 0, "targetFrac must be positive")
    val counts = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__a",
        if (alpha == 0.5) sqrt(col("__n").cast("double"))
        else pow(col("__n").cast("double"), alpha))
    val tots = counts.agg(
      graft.Tables.dsum(col("__a"), 12).as("__a_total"),
      sum(col("__n")).as("__n_total"))
    val rates = counts.crossJoin(broadcast(tots))
      .select(col(stratumCol),
        ((lit(targetFrac) * col("__n_total") *
          (col("__a") / col("__a_total"))) / col("__n")).as("__keep_p"))
    df.join(broadcast(rates), stratumCol)
      .filter(col("__keep_p") >= 1.0 ||
        sampleFrac(col(idCol), seed) < col("__keep_p"))
      .drop("__keep_p")
  }

  /** Deterministic global shuffle: a total order by seeded hash (ties
    * by id) — the reproducible training order. Plans as one
    * range-partitioned sort.
    */
  def deterministicShuffle(df: DataFrame, idCol: String,
      seed: Int = 42): DataFrame =
    df.orderBy(sampleHash(col(idCol), seed), col(idCol))

  /** Keep at most `cap` rows per key, by rank under `order` (ties must
    * be broken by a unique column in `order` for determinism) — the
    * RefinedWeb/C4-style per-domain cap that stops a handful of mega
    * domains from dominating a web corpus.
    *
    * Scale shape (100 TB): the declarative row_number-then-filter form
    * is DELIBERATE — Spark 4 plans it as WindowGroupLimit
    * Partial → Exchange → WindowGroupLimit Final, i.e. every map task
    * emits at most `cap` rows per key BEFORE the shuffle, so a mega
    * domain lands ≤ cap · mapPartitions rows (not its corpus share)
    * on its reducer. A hand-salted two-phase rewrite was measured and
    * rejected: it reimplements exactly this, one exchange slower.
    * PlanSpec pins the partial+final WindowGroupLimit pair so a
    * regression to a full per-key window cannot land silently.
    */
  def capPerKey(df: DataFrame, keyCol: String, order: Seq[Column],
      cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap >= 1, s"cap must be >= 1, got $cap")
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(order: _*)))
      .filter(col("__rn") <= cap).drop("__rn")
  }

  /** Deterministic per-key uniform reservoir: the k rows with the
    * smallest seeded sampling hash survive per key — distributionally
    * a uniform k-sample like classic reservoir sampling, but
    * reproducible under repartitioning/retries/appends-of-other-keys,
    * and it executes as the same partial+final WindowGroupLimit pair
    * as capPerKey (map-side candidate pruning, no full per-key sort).
    */
  def reservoirPerKey(df: DataFrame, keyCol: String, idCol: String,
      k: Int, seed: Int = 42): DataFrame =
    capPerKey(df, keyCol,
      Seq(sampleHash(col(idCol), seed), col(idCol)), k)

  /** Shard manifest: per hash-assigned shard, the row count, content
    * size, and an ORDER-INDEPENDENT content fingerprint (the sum of
    * per-row 60-bit md5 folds mod 2^60, graft.functions.Sum60) — the
    * frame a consumer diffs against yesterday's manifest to certify a
    * delivered dataset without re-reading it. Everything is one
    * partial-agg scan; the fingerprint survives repartitioning and
    * row reordering by construction, so two manifests match iff the
    * shard contents match. A shard whose every row hash is null (null
    * id or text) has a null fingerprint, as SQL `sum` gives.
    */
  def shardManifest(df: DataFrame, idCol: String, textCol: String,
      shards: Int, seed: Int = 42): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    df.select(
        pmod(sampleFold(col(idCol), seed), lit(shards.toLong)).as("shard"),
        length(col(textCol)).cast("long").as("len"),
        Md5Fold60(concat(col(idCol).cast("string"), lit("|"),
          md5(col(textCol)))).as("fp"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("len").as("sum_chars"),
        when(count(col("fp")) > 0, Sum60(col("fp"))).as("fingerprint"))
  }

  /** Certification diff of two manifests (shape of [[shardManifest]]):
    * per shard, both sides' stats and whether they fully agree — the
    * read a consumer runs to accept a delivery. Null-safe: a shard
    * present on only one side reports ok = false. */
  def manifestDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("shard"), col("n_docs").as("n_docs_a"),
      col("sum_chars").as("sum_chars_a"),
      col("fingerprint").as("fingerprint_a"))
    val r = b.select(col("shard"), col("n_docs").as("n_docs_b"),
      col("sum_chars").as("sum_chars_b"),
      col("fingerprint").as("fingerprint_b"))
    l.join(r, Seq("shard"), "full")
      .withColumn("ok",
        col("n_docs_a") <=> col("n_docs_b") &&
        col("sum_chars_a") <=> col("sum_chars_b") &&
        col("fingerprint_a") <=> col("fingerprint_b"))
  }

  /** Write the frame as training shards: `shards` range-partitioned
    * files in deterministic-shuffle order, each additionally capped at
    * `maxRecordsPerFile` (uniform, loader-friendly file sizes; range
    * partitioning on the hash keeps shard boundaries reproducible).
    */
  /** Neyman allocation (optimal stratified sampling, Neyman 1934):
    * split a labeling/sampling budget across strata proportional to
    * N_h·σ_h — high-variance strata earn more of the budget than
    * proportional allocation gives them, which is how a fixed
    * annotation budget buys the lowest-variance corpus estimate.
    *
    * Determinism/portability: per-stratum moments are EXACT integers
    * (one partial-agg scan; Σx² rides DECIMAL(38,0) — it overflows
    * BIGINT at ~10^12 rows of 4-digit values). N_h·σ_h =
    * √(N_h·Σx² − (Σx)²) — one correctly-rounded sqrt of an exact
    * value, the [[TextFns.collocations]] float contract — and the
    * total folds in ASCENDING STRATUM ORDER (sums of doubles are
    * associativity-sensitive; the fixed fold is what the oracle
    * replays, the bitext pivot-sum discipline). Integer allocations
    * come from largest-remainder apportionment (floor everything,
    * hand the leftover to the largest fractional remainders;
    * ties → smaller stratum).
    *
    * Boundary case (classical Neyman): a small high-variance stratum
    * can be awarded more samples than it HAS rows — alloc is capped
    * at n_rows and the excess re-apportions among the uncapped
    * strata by the same largest-remainder rule (repeated until no
    * cap binds: the standard water-filling resolution), so a caller
    * drawing alloc rows per stratum never under-fills the budget.
    * Σ alloc = min(budget, Σ n_rows) exactly. A stratum whose
    * valueCol is entirely NULL has zero observed moments (s1 = s2 =
    * 0, weight 0) — it earns budget only through the all-zero-
    * variance proportional fallback.
    *
    * Scale shape: ONE scan to |strata| moment rows; everything after
    * is k-bounded driver model math (the kmeans/PCA pattern).
    * `maxStrata` guards the collect.
    *
    * @return one row per stratum: stratum, n_rows, s1 (Σx), s2 (Σx²
    *         as DECIMAL(38,0) string for exactness), alloc
    */
  def neymanAllocation(df: DataFrame, stratumCol: String,
      valueCol: Column, budget: Int,
      maxStrata: Int = 1024): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val spark = df.sparkSession
    val moments = df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_rows"),
        // coalesce: a stratum whose valueCol is entirely NULL sums to
        // NULL, which would NPE the getLong/getDecimal below — treat
        // unobserved moments as 0 (weight 0)
        coalesce(sum(valueCol.cast("long")), lit(0L)).as("s1"),
        coalesce(sum((valueCol.cast("decimal(19,0)") *
            valueCol.cast("decimal(19,0)")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))
          .as("s2"))
      .orderBy("stratum")
      .limit(maxStrata + 1)
      .collect()
    require(moments.length <= maxStrata,
      s"more than $maxStrata strata; aggregate upstream")
    val rows = moments.map { r =>
      val n = r.getLong(1)
      val s1 = BigInt(r.getLong(2))
      val s2 = BigInt(r.getDecimal(3).toBigInteger)
      val vNum = BigInt(n) * s2 - s1 * s1 // N·Σx² − (Σx)² = N²·σ²
      (String.valueOf(r.get(0)), n, r.getLong(2), s2, vNum)
    }
    // fixed ascending-stratum fold (already sorted by the orderBy)
    val ws = rows.map { case (_, _, _, _, v) =>
      math.sqrt(v.toDouble)
    }
    // Water-filling largest-remainder apportionment with the n_rows
    // cap: apportion `remaining` over the in-pool strata; any stratum
    // awarded more than it has rows is frozen at n_rows, leaves the
    // pool, and the loop re-apportions what's left. Each pass either
    // finishes or shrinks the pool, so it terminates in ≤ |strata|
    // passes; when no cap binds the first pass IS the classical
    // allocation (identical floats, identical tie-breaks).
    val alloc = Array.fill(rows.length)(0L)
    var pool = rows.indices.toVector
    var remaining = math.min(budget.toLong, rows.map(_._2).sum)
    var settled = false
    while (!settled && pool.nonEmpty && remaining > 0) {
      // ascending-stratum fold over the pool (determinism contract)
      val total = pool.foldLeft(0.0d)((acc, i) => acc + ws(i))
      val trial: Map[Int, Long] =
        if (total == 0.0d) {
          // zero variance in the pool → proportional by row count
          val nTot = pool.foldLeft(0L)((acc, i) => acc + rows(i)._2)
          val floors = pool.map(i =>
            if (nTot == 0) 0L else remaining * rows(i)._2 / nTot)
          val rem = remaining - floors.sum
          val order = pool.sortBy(i =>
            (-(remaining * rows(i)._2 % math.max(nTot, 1)), rows(i)._1))
          val bump = order.take(rem.toInt).toSet
          pool.zip(floors).map { case (i, f) =>
            i -> (f + (if (bump(i)) 1L else 0L)) }.toMap
        } else {
          val ideals = pool.map(i => remaining.toDouble * ws(i) / total)
          val floors = ideals.map(x => math.floor(x).toLong)
          val rem = (remaining - floors.sum).toInt
          val order = pool.indices.sortBy(j =>
            (-(ideals(j) - math.floor(ideals(j))), rows(pool(j))._1))
          val bump = order.take(rem).map(pool(_)).toSet
          pool.zip(floors).map { case (i, f) =>
            i -> (f + (if (bump(i)) 1L else 0L)) }.toMap
        }
      val over = pool.filter(i => trial(i) > rows(i)._2)
      if (over.isEmpty) {
        trial.foreach { case (i, a) => alloc(i) = a }
        settled = true
      } else {
        over.foreach { i => alloc(i) = rows(i)._2 }
        remaining -= over.map(rows(_)._2).sum
        pool = pool.filterNot(over.contains)
      }
    }
    import spark.implicits._
    rows.zipWithIndex.map { case ((st, n, s1, s2, _), i) =>
      (st, n, s1, s2.toString, alloc(i))
    }.toSeq.toDF("stratum", "n_rows", "s1", "s2", "alloc")
  }
}
