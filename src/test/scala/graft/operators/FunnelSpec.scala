package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("funnel: ordered chain, window cutoff, strictly-after steps") {
    val ev = Seq(
      // user 1: full chain inside the window
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00")),
      (1L, "purchase", ts("2024-01-01 12:00:00")),
      // user 2: purchase BEFORE click — chain stops at click
      (2L, "view", ts("2024-01-01 10:00:00")),
      (2L, "purchase", ts("2024-01-01 10:30:00")),
      (2L, "click", ts("2024-01-01 11:00:00")),
      // user 3: click lands outside the 120-minute window
      (3L, "view", ts("2024-01-01 10:00:00")),
      (3L, "click", ts("2024-01-01 13:00:00")),
      // user 4: no step-1 event at all
      (4L, "error", ts("2024-01-01 10:00:00")),
      // user 5: simultaneous view+click — strictly-after rejects it,
      // a later click qualifies
      (5L, "view", ts("2024-01-01 10:00:00")),
      (5L, "click", ts("2024-01-01 10:00:00")),
      (5L, "click", ts("2024-01-01 10:10:00"))
    ).toDF("user_id", "event_type", "ts")
    val out = Funnel.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowMinutes = 120)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out(1L)._1 == 3)
    assert(out(2L)._1 == 2, "purchase before click must not count")
    assert(out(3L)._1 == 1, "click outside the window must not count")
    assert(out(4L)._1 == 0 && out(4L)._2.isEmpty)
    assert(out(5L)._1 == 2)
    assert(out(5L)._3.contains(ts("2024-01-01 10:10:00")),
      "the tied click is rejected; the later one qualifies")
  }

  test("funnel: earliest chain is used, not any chain") {
    // a LATER view would admit the click, but the chain anchors on
    // the EARLIEST view, whose window has closed
    val ev = Seq(
      (1L, "view", ts("2024-01-01 08:00:00")),
      (1L, "view", ts("2024-01-01 10:55:00")),
      (1L, "click", ts("2024-01-01 11:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val r = Funnel.funnel(ev, "user_id", "event_type", "ts",
      Seq("view", "click"), windowMinutes = 60).head
    assert(r.getInt(1) == 1)
    assert(r.getTimestamp(2) == ts("2024-01-01 08:00:00"))
  }

  test("funnel: a later-listed earlier view re-anchors the chain; t0 " +
      "keeps its microseconds") {
    val ev = Seq(
      // user 1: the click is listed before the view that anchors it
      (1L, "click", ts("2026-01-01 10:30:00")),
      (1L, "view", ts("2026-01-01 10:00:00")),
      (1L, "purchase", ts("2026-01-01 11:00:00")),
      // user 2: a purchase with no click stops the chain at 1
      (2L, "view", ts("2026-01-01 10:00:00.000123")),
      (2L, "purchase", ts("2026-01-01 10:20:00")),
      // user 4: the click precedes the first view, but an even
      // earlier view re-anchors the chain before it
      (4L, "view", ts("2026-01-01 10:30:00")),
      (4L, "click", ts("2026-01-01 10:00:00")),
      (4L, "view", ts("2026-01-01 09:50:00"))
    ).toDF("user_id", "event_type", "ts")
    val out = Funnel.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowMinutes = 120)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getTimestamp(2)))).toMap
    assert(out(1L) == ((3, ts("2026-01-01 10:00:00"))))
    assert(out(2L) == ((1, ts("2026-01-01 10:00:00.000123"))))
    assert(out(4L) == ((2, ts("2026-01-01 09:50:00"))))
  }

  test("cohort retention: offsets, sizes, and distinct-user counting") {
    val ev = Seq(
      // cohort of Mon 2024-01-01: users 1, 2
      (1L, ts("2024-01-03 10:00:00")), // week 0
      (1L, ts("2024-01-10 10:00:00")), // week 1
      (1L, ts("2024-01-10 11:00:00")), // same week — counts once
      (2L, ts("2024-01-05 10:00:00")), // week 0
      // cohort of Mon 2024-01-08: user 3, active weeks 0 and 2
      (3L, ts("2024-01-08 10:00:00")),
      (3L, ts("2024-01-22 10:00:00"))
    ).toDF("user_id", "ts")
    val out = Funnel.cohortRetention(ev, "user_id", "ts", "week")
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      ("2024-01-01", 0L) -> ((2L, 2L)),
      ("2024-01-01", 1L) -> ((1L, 2L)),
      ("2024-01-08", 0L) -> ((1L, 1L)),
      ("2024-01-08", 2L) -> ((1L, 1L))))
    intercept[IllegalArgumentException] {
      Funnel.cohortRetention(ev, "user_id", "ts", "month")
    }
    // a day-bucketed frame names its offset for its unit
    val dayCols = Funnel.cohortRetention(ev, "user_id", "ts", "day")
      .columns.toSeq
    assert(dayCols ==
      Seq("cohort", "day_offset", "n_active", "cohort_size"))
  }
}
