package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Privacy gating for training-data release: k-anonymity over
  * quasi-identifier columns (Sweeney 2002) — every combination of
  * quasi-identifier values must cover at least k rows, or those rows
  * are re-identifiable by joining the released data against an
  * external dataset carrying the same attributes.
  *
  * Complements [[Checks]] (whose suite is a single-row conditional
  * aggregation): k-anonymity needs a per-class aggregation, so it
  * lives here with its own one-shuffle plan shapes.
  */
object Privacy {

  /** Per-equivalence-class report: one hash aggregation on the
    * quasi-identifier tuple (partial+final, one shuffle keyed by the
    * class — the minimum possible), `class_size` and the `ok = size
    * ≥ k` verdict per class. NULL quasi values form their own class
    * (first-class in Spark's groupBy), matching the attacker model —
    * a NULL combination is as joinable as any other.
    */
  def kAnonymityClasses(df: DataFrame, quasi: Seq[Column],
      k: Long): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier")
    require(k >= 1, "k must be positive")
    df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("ok", col("class_size") >= k)
  }

  /** Distinct l-diversity per equivalence class (Machanavajjhala et
    * al., ICDE 2006): k-anonymity stops homogeneity attacks only if
    * each class also carries at least `l` DISTINCT sensitive values —
    * a class of 50 rows that all share one diagnosis discloses it to
    * anyone who can place a person in the class.
    *
    * Also reports recursive (c,l)-diversity on the same pass: with
    * per-class sensitive-value counts r1 ≥ r2 ≥ … ≥ rm, the class is
    * (c,l)-diverse iff r1 < c·(r_l + r_{l+1} + … + r_m) — the most
    * common value must not dominate the tail beyond factor c, which
    * rules out "l distinct values but 99% one of them" classes that
    * pass the distinct test. All arithmetic is exact integers, so
    * any engine replays the verdicts bit-for-bit.
    *
    * Scale shape: one partial-agg shuffle on (quasi, sensitive) — the
    * distinct-counting pattern — then one on the quasi tuple; both
    * hash aggregations, no windows over raw rows, no collect. The
    * r1/tail split rides a window over the (class, value) CELL frame
    * (|classes|·|values-per-class| rows, already aggregated), not the
    * input.
    *
    * @return one row per class: quasi columns, class_size,
    *         n_sensitive (distinct sensitive values), top_count (r1),
    *         tail_count (Σ_{i≥l} r_i), ok_distinct (n_sensitive ≥ l),
    *         ok_recursive (r1 < c·tail_count)
    */
  def lDiversityClasses(df: DataFrame, quasi: Seq[Column],
      sensitive: Column, l: Int, c: Long = 2L): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier")
    require(l >= 1, "l must be positive")
    require(c >= 1, "c must be positive")
    val cells = df.groupBy((quasi :+ sensitive.as("__sv")): _*)
      .agg(count(lit(1)).as("__n"))
    val quasiNames = cells.columns.dropRight(2)
    // rank sensitive values inside each class by count desc (ties by
    // value for determinism); the window runs over the aggregated
    // cell frame, whose width per class is the sensitive cardinality
    val w = Window.partitionBy(quasiNames.map(col): _*)
      .orderBy(col("__n").desc, col("__sv").cast("string"))
    cells.withColumn("__rk", row_number().over(w))
      .groupBy(quasiNames.map(col): _*)
      .agg(sum(col("__n")).as("class_size"),
        count(lit(1)).as("n_sensitive"),
        max(when(col("__rk") === 1, col("__n"))).as("top_count"),
        coalesce(sum(when(col("__rk") >= l, col("__n"))), lit(0L))
          .as("tail_count"))
      .withColumn("ok_distinct", col("n_sensitive") >= l)
      .withColumn("ok_recursive", col("top_count") < lit(c) * col("tail_count"))
  }

  /** t-closeness per equivalence class (Li, Li & Venkatasubramanian,
    * ICDE 2007), categorical form — completes the release-audit trio
    * (k-anonymity → l-diversity → t-closeness): l-diversity still
    * leaks when a class's sensitive DISTRIBUTION differs sharply from
    * the table's (a class with 3 distinct diagnoses, all rare
    * cancers, is l-diverse and still disclosive). A class is t-close
    * when the distance between its sensitive distribution and the
    * global one is at most t.
    *
    * Distance = variation distance (the EMD under equal ground
    * distances, the paper's categorical case), kept as an EXACT
    * integer fraction so any engine replays the verdicts bit-for-bit
    * (the p_drift cross-multiplication discipline — no floating
    * division anywhere):
    *
    *   dist = Σ_v |p_v − q_v| / 2
    *        = ( Σ_{v∈class} |n_cv·N − g_v·n_c|
    *            + n_c·(N − Σ_{v∈class} g_v) ) / (2·n_c·N)
    *
    * The second numerator term folds every value ABSENT from the
    * class (|0 − q_v| mass) into one subtraction, so the plan never
    * densifies classes × value domain. Verdict cross-multiplied:
    * ok ⇔ dist_num·tDen ≤ tNum·dist_den.
    *
    * Scale shape: one partial-agg shuffle on (quasi, sensitive), the
    * global value histogram aggregated FROM the cell frame (no second
    * input scan) and broadcast back, one window + final aggregation
    * on the quasi tuple over the cell frame — the lDiversity plan
    * shape. Numerators are ≤ 2·n_c·N: exact in BIGINT to ~3·10^9
    * rows; beyond that, cast the counts to DECIMAL(38,0) upstream.
    *
    * @param tNum,tDen threshold t = tNum/tDen (exact rational)
    * @return one row per class: quasi columns, class_size, dist_num,
    *         dist_den (dist = dist_num/dist_den), ok
    */
  def tCloseness(df: DataFrame, quasi: Seq[Column],
      sensitive: Column, tNum: Long, tDen: Long): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier")
    require(tNum >= 0 && tDen >= 1, "need t = tNum/tDen >= 0")
    val cells = df.groupBy((quasi :+ sensitive.as("__sv")): _*)
      .agg(count(lit(1)).as("__n"))
    val quasiNames = cells.columns.dropRight(2)
    // fresh names for the re-joined branch (lineage-shared with cells);
    // NOTE the total column is __tot, not __N: Spark's resolver is
    // case-INsensitive by default, so __N would collide with __n
    val global = cells.select(col("__sv").as("__gv"),
        col("__n").as("__gn"))
      .groupBy(col("__gv")).agg(sum("__gn").as("__g"))
    val total = global.agg(sum(col("__g")).as("__tot"))
    val w = Window.partitionBy(quasiNames.map(col): _*)
    // null-safe: a NULL sensitive value is a first-class domain value
    // (the kAnonymityClasses attacker model); plain equality would
    // silently drop its mass from the present term
    cells.join(broadcast(global), col("__sv") <=> col("__gv"))
      .drop("__gv")
      .crossJoin(broadcast(total))
      .withColumn("__nc", sum(col("__n")).over(w))
      .groupBy(quasiNames.map(col): _*)
      .agg(max(col("__nc")).as("class_size"),
        sum(abs(col("__n") * col("__tot") - col("__g") * col("__nc")))
          .as("__present"),
        sum(col("__g")).as("__gsum"),
        max(col("__tot")).as("__tot"))
      .withColumn("dist_num", col("__present") +
        col("class_size") * (col("__tot") - col("__gsum")))
      .withColumn("dist_den", lit(2L) * col("class_size") * col("__tot"))
      .withColumn("ok",
        col("dist_num") * lit(tDen) <= lit(tNum) * col("dist_den"))
      .drop("__present", "__gsum", "__tot")
  }

  /** Ordered t-closeness (the paper's numeric case): EMD under the
    * adjacent-step ground distance,
    *
    *   dist = Σ_i |Σ_{j≤i} (p_j − q_j)| / (m−1)
    *        = Σ_i |cum_i(n_cv·N − g_v·n_c)| / (n_c·N·(m−1))
    *
    * with values ordered by the sensitive attribute and m = |domain|.
    * Unlike the categorical form this NEEDS the absent cells (the
    * cumulative sums run over the whole ordered domain), so the plan
    * densifies distinct classes × the broadcast value domain — both
    * post-aggregation frames, tiny relative to the input by the time
    * they meet. Same exact-integer contract and output shape as
    * [[tCloseness]].
    */
  def tClosenessOrdered(df: DataFrame, quasi: Seq[Column],
      sensitive: Column, tNum: Long, tDen: Long): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier")
    require(tNum >= 0 && tDen >= 1, "need t = tNum/tDen >= 0")
    val cells = df.groupBy((quasi :+ sensitive.as("__sv")): _*)
      .agg(count(lit(1)).as("__n"))
    val quasiNames = cells.columns.dropRight(2)
    // fresh-name projections for the lineage-shared re-joins; __tot
    // not __N — case-insensitive resolver (see tCloseness)
    val global = cells.select(col("__sv").as("__gv"),
        col("__n").as("__gn"))
      .groupBy(col("__gv")).agg(sum("__gn").as("__g"))
    val total = global.agg(sum(col("__g")).as("__tot"),
      count(lit(1)).as("__m"))
    val classSizes = cells
      .select((quasiNames.map(n => col(n).as(s"__q_$n")) :+
        col("__n").as("__cn")): _*)
      .groupBy(quasiNames.map(n => col(s"__q_$n")): _*)
      .agg(sum(col("__cn")).as("class_size"))
    // densify: every class × every domain value (absent cells = 0)
    val dense = classSizes.crossJoin(broadcast(global))
      .join(cells,
        quasiNames.map(n => col(s"__q_$n") <=> col(n))
          .reduce(_ && _) && col("__gv") <=> col("__sv"),
        "left_outer")
      .select((quasiNames.map(n => col(s"__q_$n").as(n)) ++ Seq(
        col("__gv").as("__sv"), col("__g"), col("class_size"),
        coalesce(col("__n"), lit(0L)).as("__celln"))): _*)
      .crossJoin(broadcast(total))
    // NULLS LAST pinned: Spark defaults NULLS FIRST, DuckDB LAST — a
    // NULL sensitive value must accumulate at the same domain position
    // in any replaying engine (the q_quantiles window precedent)
    val wOrd = Window.partitionBy(quasiNames.map(col): _*)
      .orderBy(col("__sv").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense
      .withColumn("__cum", sum(col("__celln") * col("__tot") -
        col("__g") * col("class_size")).over(wOrd))
      .groupBy((quasiNames.map(col) :+ col("class_size")): _*)
      .agg(sum(abs(col("__cum"))).as("dist_num"),
        max(col("__tot")).as("__tot"), max(col("__m")).as("__m"))
      .withColumn("dist_den",
        col("class_size") * col("__tot") * greatest(col("__m") - 1, lit(1L)))
      .withColumn("ok",
        col("dist_num") * lit(tDen) <= lit(tNum) * col("dist_den"))
      .drop("__tot", "__m")
  }
}
