package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.graftglue.ColumnGlue

/** Multi-dimensional clustering layout: Morton (Z-order) interleaving,
  * a write-time layout for multi-column data skipping.
  *
  * WHY at 100 TB: parquet/ORC data skipping works off per-file (and
  * per-row-group) min/max spans. Sorting by ONE column makes its
  * spans tight and every other column's spans full-range; a scan
  * filtered on a second dimension then touches every file. Z-ordering
  * sorts by the bit-interleaved value of d dimensions, so each file
  * covers a small d-dimensional box — a predicate on ANY subset of
  * the z-ordered columns prunes most files (the layout Delta/Iceberg
  * expose as OPTIMIZE ZORDER; here it is a plain repartitionByRange +
  * sort, no table format required). [[fileSpans]] + LayoutSpec
  * measure the effect rather than assert it.
  *
  * The z-value is exact integer arithmetic end to end — clamp,
  * scale by (2^bits − 1), integral divide, literal-mask interleave —
  * so an external SQL engine replays every value (gate p_zorder); no
  * doubles, no hash, no sampling.
  */
object Layout {

  /** Exact floor division for non-negative operands (codegen'd
    * IntegralDivide — NOT `/`, which routes through double and loses
    * exactness past 2^53).
    */
  private def idiv(a: Column, b: Column): Column =
    ColumnGlue.column(IntegralDivide(
      ColumnGlue.expression(a), ColumnGlue.expression(b)))

  /** Morton z-value of integral columns with caller-known inclusive
    * bounds: each column is clamped into [min, max], scaled to
    * [0, 2^bits), and bit b of dimension i lands at z-bit b·d + i.
    * Constant dimensions (min = max) contribute zero bits. Bounds are
    * driver values so the whole thing is one literal-rich codegen'd
    * projection — at write time the bounds come from one agg over the
    * frame ([[zorderWrite]]); for incremental layouts pass the
    * TABLE-level bounds so batches interleave consistently.
    */
  def zvalue(cols: Seq[Column], mins: Seq[Long], maxs: Seq[Long],
      bits: Int = 16): Column = {
    val d = cols.length
    require(d >= 1 && bits >= 1 && d * bits <= 62,
      s"need 1 <= dims and dims*bits <= 62, got d=$d bits=$bits")
    require(mins.length == d && maxs.length == d,
      "mins/maxs must match cols")
    val scaleMax = (1L << bits) - 1
    mins.zip(maxs).foreach { case (mn, mx) =>
      require(mx >= mn, s"max $mx < min $mn")
      require(mx - mn <= Long.MaxValue / scaleMax,
        s"range ${mx - mn} too wide for exact scaling at $bits bits")
    }
    val terms = cols.zipWithIndex.flatMap { case (c, i) =>
      val (mn, mx) = (mins(i), maxs(i))
      if (mx == mn) Seq.empty[Column]
      else {
        val num = greatest(lit(0L),
          least(lit(mx - mn), c.cast("long") - lit(mn)))
        val scaled = idiv(num * lit(scaleMax), lit(mx - mn))
        (0 until bits).map { b =>
          when(scaled.bitwiseAND(lit(1L << b)) =!= 0,
            lit(1L << (b * d + i))).otherwise(lit(0L))
        }
      }
    }
    if (terms.isEmpty) lit(0L) else terms.reduce(_ + _)
  }

  /** One-agg driver read of the per-column bounds. */
  def bounds(df: DataFrame, cols: Seq[String]): (Seq[Long], Seq[Long]) = {
    val r = df.agg(
      min(col(cols.head).cast("long")),
      (cols.tail.map(c => min(col(c).cast("long"))) ++
        cols.map(c => max(col(c).cast("long")))): _*).head()
    val n = cols.length
    ((0 until n).map(r.getLong), (n until 2 * n).map(r.getLong))
  }

  /** Z-order a frame into `files` range-partitioned, internally
    * sorted parquet files. One range shuffle at write time; every
    * later scan with predicates on any of `cols` skips most files.
    * Returns the bounds used (persist them to z-order later batches
    * against the same grid).
    */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
      bits: Int = 16, files: Int = 16): (Seq[Long], Seq[Long]) = {
    val (mins, maxs) = bounds(df, cols)
    df.withColumn("__zv",
        zvalue(cols.map(col), mins, maxs, bits))
      .repartitionByRange(files, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv")
      .write.mode("overwrite").parquet(path)
    (mins, maxs)
  }

  /** Per-file min/max spans of `cols` for a written layout — the
    * exact statistics a reader's file-level skipping consults, as a
    * queryable frame. LayoutSpec uses it to count how many files a
    * box predicate must touch under competing layouts.
    */
  def fileSpans(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(cols.head)).as(s"${cols.head}_min"),
        (cols.tail.map(c => min(col(c)).as(s"${c}_min")) ++
          cols.map(c => max(col(c)).as(s"${c}_max"))): _*)
}
