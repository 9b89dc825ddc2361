package graft.pipeline

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset drift report: per-column L1 (total-variation ×2) distance
  * between a reference snapshot and a current batch — the check a
  * training pipeline runs before mixing a new crawl into an existing
  * corpus (did the language mix shift? did a source vanish?).
  *
  * The distance is computed in the cross-multiplied integer form
  *   Σ_v |cnt_ref(v)·N_cur − cnt_cur(v)·N_ref|
  * (= L1 · N_ref·N_cur), evaluated in DECIMAL(38,0) so there is no
  * per-value division, no float accumulation-order dependence, and no
  * Long overflow at corpus scale; the single IEEE division happens
  * once per column at the end. Numeric columns drift-check via a
  * caller-derived bin column (floor(x/width) rendered to string) —
  * same machinery, value domain bounded by construction.
  *
  * Shape: ONE union scan of both snapshots unpivoted to (column,
  * value, side), one partial-agg shuffle to per-(column, value) side
  * counts; totals ride a window over that small frame. At 100 TB the
  * exchange carries |columns| × |distinct values| rows.
  */
object Drift {

  /** L1 drift of `cols` between `ref` and `cur`; a column is flagged
    * `drifted` when the distance exceeds `threshold` (L1 ranges in
    * [0, 2]; 2 = disjoint supports). */
  def l1Drift(ref: DataFrame, cur: DataFrame, cols: Seq[String],
      threshold: Double = 0.1): DataFrame = {
    val tag = (df: DataFrame, s: Int) => df
      .select(cols.map(col): _*).withColumn("__side", lit(s))
    val both = tag(ref, 0).unionByName(tag(cur, 1))
    val entries = cols.map(c => struct(lit(c).as("col_name"),
      col(c).cast("string").as("value_s")))
    val stacked = both
      .select(col("__side"), explode(array(entries: _*)).as("kv"))
      .select(col("__side"), col("kv.col_name"), col("kv.value_s"))
    val vc = stacked.groupBy("col_name", "value_s").agg(
      sum(when(col("__side") === 0, 1L).otherwise(0L)).as("cr"),
      sum(when(col("__side") === 1, 1L).otherwise(0L)).as("cc"))
    finishL1(vc, threshold)
  }

  /** (col_name, value_s, cnt) value counts of `cols` — one unpivot +
    * one aggregation with |columns| × |domain| output rows. Kept as a
    * reference manifest, it is diffed against a later delivery's
    * counts with [[l1FromCounts]]. */
  def valueCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val entries = cols.map(c => struct(lit(c).as("col_name"),
      col(c).cast("string").as("value_s")))
    df.select(explode(array(entries: _*)).as("kv"))
      .groupBy(col("kv.col_name").as("col_name"),
        col("kv.value_s").as("value_s"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The drift report from two pre-aggregated count frames (shape of
    * [[valueCounts]]) — no raw data touched, so snapshots can be
    * compared long after the data moved on. */
  def l1FromCounts(ref: DataFrame, cur: DataFrame,
      threshold: Double = 0.1): DataFrame = {
    val r = ref.select(col("col_name"), col("value_s"),
      col("cnt").as("cr"))
    val c = cur.select(col("col_name"), col("value_s"),
      col("cnt").as("cc"))
    // null-safe on value_s: valueCounts emits a NULL value group
    // (cast-to-string of NULL is NULL), which must match across sides
    // the way l1Drift's single groupBy folds it into one bucket — a
    // plain equi-join would split it into two disjoint rows and
    // inflate the L1 numerator.
    val vc = r.join(c, r("col_name") === c("col_name") &&
        r("value_s") <=> c("value_s"), "full")
      .select(coalesce(r("col_name"), c("col_name")).as("col_name"),
        coalesce(r("value_s"), c("value_s")).as("value_s"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cc"), lit(0L)).as("cc"))
    finishL1(vc, threshold)
  }

  private def finishL1(vc: DataFrame, threshold: Double): DataFrame = {
    val w = Window.partitionBy("col_name")
    val withTot = vc
      .withColumn("nr", sum("cr").over(w))
      .withColumn("nc", sum("cc").over(w))
    withTot.groupBy("col_name").agg(
        max("nr").as("n_ref"), max("nc").as("n_cur"),
        sum(abs(col("cr").cast("decimal(38,0)") * col("nc") -
          col("cc").cast("decimal(38,0)") * col("nr"))).as("__num"))
      .withColumn("l1", col("__num").cast("double") /
        (col("n_ref").cast("double") * col("n_cur").cast("double")))
      .select(col("col_name"), col("n_ref"), col("n_cur"), col("l1"),
        (col("l1") > threshold).as("drifted"))
  }
}
