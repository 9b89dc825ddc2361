package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-funnel and cohort-retention analysis — the two warehouse
  * queries every event log eventually answers: "how far do users get
  * through an ordered flow" and "how many of each signup wave are
  * still active k weeks later".
  */
object Funnel {

  /** Per-user ordered-step funnel: t(0) = the user's earliest event
    * of type `steps(0)`; t(i) = the earliest event of type `steps(i)`
    * STRICTLY after t(i−1) and within `windowMinutes` of t(0);
    * `steps_reached` = length of the longest satisfied prefix. The
    * earliest-chain rule makes the result insensitive to event order
    * within a shuffle (timestamps decide, not row order).
    *
    * Shape (100 TB): ONE shuffle on the user key serves every step —
    * the chained `min(when(...))` windows share the partitioning, so
    * Catalyst stacks Window operators over a single exchange (the
    * Sessionize discipline); no self-joins, no collect_list, no
    * per-user arrays. L = steps.length extra projections, not passes.
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String],
      windowMinutes: Int = 1440): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size,
      "funnel steps must be distinct event types")
    require(windowMinutes >= 1, "window must be positive")
    val w = Window.partitionBy(userCol)
    val winUs = windowMinutes * 60L * 1000000L
    var df = events.withColumn("__t0",
      min(when(col(typeCol) === steps.head, col(tsCol))).over(w))
    steps.indices.tail.foreach { i =>
      df = df.withColumn(s"__t$i",
        min(when(col(typeCol) === steps(i) &&
          col(tsCol) > col(s"__t${i - 1}") &&
          unix_micros(col(tsCol)) - unix_micros(col("__t0")) <= winUs,
          col(tsCol))).over(w))
    }
    val reached = steps.indices
      .map(i => when(col(s"__t$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    val aggs = max(col("steps_reached")).as("steps_reached") +:
      steps.indices.map(i => max(col(s"__t$i")).as(s"t$i"))
    df.withColumn("steps_reached", reached)
      .groupBy(col(userCol).as("user_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Cohort retention: users grouped by the `bucket` (week/month/day)
    * of their FIRST event; for each (cohort, bucket offset) the
    * distinct active users. `cohort_size` rides along (= n_active at
    * offset 0 — every user is active in their own first bucket), so
    * retention = n_active / cohort_size on exact integers.
    *
    * Shape: the first-event window is one user-key shuffle; activity
    * dedup is one (cohort, offset, user) aggregation; everything
    * after runs on the |cohorts|·|offsets| frame. Buckets truncate
    * with date_trunc (ISO Monday weeks in both Spark and DuckDB) and
    * offsets are exact day-difference divisions — integers any engine
    * replays.
    */
  def cohortRetention(events: DataFrame, userCol: String,
      tsCol: String, bucket: String = "week"): DataFrame = {
    val daysPer = bucket.toLowerCase match {
      case "week" => 7L
      case "day" => 1L
      case other => throw new IllegalArgumentException(
        s"unsupported cohort bucket '$other' (want week or day; " +
          "months are variable-length, use week)")
    }
    // the offset column is named for its unit ("week_offset" /
    // "day_offset") so a day-bucketed frame can't be misread as weeks
    val offName = s"${bucket.toLowerCase}_offset"
    val w = Window.partitionBy(userCol)
    val cohort = to_date(date_trunc(bucket, min(col(tsCol)).over(w)))
    val active = to_date(date_trunc(bucket, col(tsCol)))
    val perCell = events
      .select(col(userCol).as("__u"), cohort.as("cohort"),
        (datediff(active, cohort) / daysPer).cast("long").as(offName))
      .distinct()
      .groupBy("cohort", offName)
      .agg(count(lit(1)).as("n_active"))
    perCell.withColumn("cohort_size",
      max(when(col(offName) === 0, col("n_active")))
        .over(Window.partitionBy("cohort")))
  }
}
