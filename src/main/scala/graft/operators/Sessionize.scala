package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch gap-based sessionization: a session closes after
  * `gapMinutes` of per-user inactivity.
  *
  * Shape (100 TB): ONE shuffle on the user key serves everything —
  * the lag pass, the running new-session sum (same window ordering,
  * ROWS frame), and the per-session aggregation (HashPartitioning on
  * user satisfies the (user, session) clustered distribution, so the
  * groupBy adds no exchange). Nothing quadratic, no self-join, state
  * never leaves the partition.
  *
  * Value sums go through DECIMAL (Tables.dsum) so results are
  * summation-order independent — the same exactness contract every
  * oracle-compared aggregate in the engine follows.
  */
object Sessionize {

  def sessions(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(tsCol)
    val run = Window.partitionBy(userCol).orderBy(tsCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        unix_micros(col(tsCol)) - unix_micros(col("__prev")) > gapUs,
        1L).otherwise(0L))
      .withColumn("session_id", sum("__new").over(run))
      .groupBy(col(userCol), col("session_id"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        graft.Tables.dsum(col(valueCol), 6).as("sum_value"))
  }
}
