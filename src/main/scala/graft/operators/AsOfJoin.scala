package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of join (SURVEY.md §2.12: absent in the reference; a standard
  * temporal operator for event/state enrichment).
  *
  * For each left row, attach the latest right row with the same key
  * whose time ≤ the left time — WITHOUT a range cross-join: both sides
  * union into one stream, sorted per key by time, and a running
  * last-non-null window carries the right payload forward. One shuffle
  * on the key, O(n log n) per partition, no pair explosion — this is
  * the composition Spark's built-ins allow (preference order (a) of the
  * custom-operator ladder), so Catalyst/AQE still own the physical
  * plan.
  */
object AsOfJoin {

  /** @param left       probe side (events)
    * @param right      state side (versioned dimension)
    * @param keyCols    equi-key column names present on both sides
    * @param leftTime   event-time column on `left`
    * @param rightTime  version-time column on `right`
    * @param payload    right columns to carry (must not clash with left)
    */
  def asOf(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .select((keyCols.map(col) :+ col("__t") :+ col("__side")) ++
        leftCols.filterNot(keyCols.contains).map(col) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(p)): _*)
    val r = right
      .withColumn("__t", col(rightTime))
      .withColumn("__side", lit(0))
      .select((keyCols.map(col) :+ col("__t") :+ col("__side")) ++
        leftCols.filterNot(keyCols.contains)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payload.map(col): _*)
    // right rows sort before left rows at the same timestamp (side 0 < 1):
    // a state change effective at t applies to events at t.
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.foldLeft(l.unionByName(r)) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1)
      .drop("__t", "__side")
  }
}
