package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One-pass column profiler: per column, row/null/distinct counts,
  * typed numeric min/max, lexicographic string min/max, and the most
  * frequent value — the dataset triage every curation pipeline runs
  * before committing a 100 TB job to it.
  *
  * Shape: ONE projection unpivots the chosen columns to
  * (col_name, value) rows, ONE shuffle partial-aggregates them to the
  * per-(column, value) count frame, and everything else — the
  * per-column rollup and the top-1 window — runs over |columns| ×
  * |distinct values| rows, never the data again. That value-count
  * frame is exactly the frequency table a profiler needs anyway, so
  * nothing is computed twice; with heavy-hitter columns the partial
  * aggregate absorbs the skew map-side.
  *
  * Determinism notes: value_s is the engine string rendering, so the
  * profiled columns must render identically across engines — integral
  * and string types do, doubles do not (profile those via a numeric
  * cast upstream). Numeric min/max carry sentinel -1 for non-numeric
  * columns instead of NULL: a NULL in an int64 output column turns
  * the whole column float64 in pandas-based comparators, which then
  * renders every value "123.0" vs "123".
  */
object Profile {

  /** Profile `cols` of `df`. Integral columns additionally get typed
    * (numeric) min/max; every column gets lexicographic min/max of its
    * string rendering plus the modal value with its count (ties break
    * to the smallest value string). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val entries = cols.map { c =>
      val numeric = fields(c) match {
        case _: LongType | _: IntegerType | _: ShortType | _: ByteType =>
          col(c).cast("long")
        case _ => lit(null).cast("long")
      }
      struct(lit(c).as("col_name"), col(c).cast("string").as("value_s"),
        numeric.as("value_n"))
    }
    val stacked = df.select(explode(array(entries: _*)).as("kv"))
      .select(col("kv.col_name"), col("kv.value_s"), col("kv.value_n"))
    // both the rollup and the top-1 window consume the value-count
    // frame — stage it (|columns| × |distinct values| rows) so the
    // corpus is scanned once, not once per branch
    val vc = graft.core.Caches.stage(
      stacked.groupBy("col_name", "value_s", "value_n")
        .agg(count(lit(1)).as("cnt")))
    val rollup = vc.groupBy("col_name").agg(
      sum("cnt").as("n"),
      coalesce(sum(when(col("value_s").isNull, col("cnt"))), lit(0L))
        .as("n_null"),
      count(when(col("value_s").isNotNull, lit(1))).as("n_distinct"),
      coalesce(min("value_n"), lit(-1L)).as("min_n"),
      coalesce(max("value_n"), lit(-1L)).as("max_n"),
      min("value_s").as("min_s"),
      max("value_s").as("max_s"))
    val top1 = vc.filter(col("value_s").isNotNull)
      .withColumn("rn", row_number().over(Window.partitionBy("col_name")
        .orderBy(col("cnt").desc, col("value_s"))))
      .filter(col("rn") === 1)
      .select(col("col_name"), col("value_s").as("top1"),
        col("cnt").as("top1_cnt"))
    rollup.join(top1, Seq("col_name"), "left")
      .select(col("col_name"), col("n"), col("n_null"), col("n_distinct"),
        col("min_n"), col("max_n"), col("min_s"), col("max_s"),
        coalesce(col("top1"), lit("")).as("top1"),
        coalesce(col("top1_cnt"), lit(0L)).as("top1_cnt"))
  }
}
