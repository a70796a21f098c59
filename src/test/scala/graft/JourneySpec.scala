package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.JourneyQueries

/** Journey-read semantics on hand-built streams: last-touch attribution
  * (latest-preceding pick, 7-day lookback expiry, none-channel) and the
  * first-order transition matrix (per-user chronology, exact permille).
  * Oracle parity of the graded queries is the driver's job; these pin
  * the operator-level edge cases the sf tables can't isolate. */
class JourneySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  private def ts(s: String) = Timestamp.valueOf(s)

  /** user 1: view → click → purchase (click wins: latest preceding);
    * then a second purchase 8 days later (lookback expired → none).
    * user 2: purchase with no prior touch → none.
    * user 3: click then SAME-timestamp purchase ordered by event_id —
    * the click row precedes the purchase row, so it still gets credit. */
  private def fixture = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-01 11:00:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 12:00:00"), 1L, "purchase", 25.0),
      (4L, ts("2024-01-09 13:00:00"), 1L, "purchase", 10.0),
      (5L, ts("2024-01-02 09:00:00"), 2L, "purchase", 7.0),
      (6L, ts("2024-01-03 09:00:00"), 3L, "click", 0.0),
      (7L, ts("2024-01-03 09:00:00"), 3L, "purchase", 3.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("lastTouchAttribution: latest-preceding touch, lookback expiry, " +
    "none-channel, same-ts event_id tie-break") {
    val out = JourneyQueries.lastTouchAttribution(fixture,
        Seq("view", "click"), "purchase", 7L * 86400L * 1000000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("click", 2L, 28.0),   // user1 p1 (click beats view), user3 same-ts
      ("none", 2L, 17.0)))   // user1 p2 (expired), user2 (no touch)
  }

  test("assocFromEvents: per-user DISTINCT type sets, unordered pairs, " +
    "exact support/confidence permille; absent pairs absent") {
    val s = spark
    import s.implicits._
    // u1 {A,B} (B twice — distinct collapses), u2 {A,B}, u3 {A}, u4 {B,C}
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "A", 0.0),
      (2L, ts("2024-01-01 11:00:00"), 1L, "B", 0.0),
      (3L, ts("2024-01-01 12:00:00"), 1L, "B", 0.0),
      (4L, ts("2024-01-02 10:00:00"), 2L, "A", 0.0),
      (5L, ts("2024-01-02 11:00:00"), 2L, "B", 0.0),
      (6L, ts("2024-01-03 10:00:00"), 3L, "A", 0.0),
      (7L, ts("2024-01-04 10:00:00"), 4L, "B", 0.0),
      (8L, ts("2024-01-04 11:00:00"), 4L, "C", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = JourneyQueries.assocFromEvents(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    assert(out == Seq(
      ("A", "B", 2L, 3L, 3L, 4L, 500L, 666L),
      ("B", "C", 1L, 3L, 1L, 4L, 250L, 333L)),
      s"got $out")
  }

  test("topPathsFromEvents: 30-min gap splits sessions, paths truncate " +
    "at 3 steps, short sessions keep short paths, count ties break by path") {
    val s = spark
    import s.implicits._
    // u1: one session of 4 events — path is the FIRST THREE only.
    // u2: view, then a 31-min gap → two singleton sessions.
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-01 10:05:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 10:10:00"), 1L, "purchase", 0.0),
      (4L, ts("2024-01-01 10:15:00"), 1L, "error", 0.0),
      (5L, ts("2024-01-02 09:00:00"), 2L, "view", 0.0),
      (6L, ts("2024-01-02 09:31:00"), 2L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = JourneyQueries.topPathsFromEvents(ev, 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(
      ("click", 1L), ("view", 1L), ("view>click>purchase", 1L)),
      s"got $out")
  }

  test("windowFunnel: anchor = earliest view; click before the view or " +
    "outside the window doesn't count; purchase needs the click first " +
    "and must land inside the ANCHOR's window") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      // u1: full level 3 inside 24h of the anchor view
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-01 11:00:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 12:00:00"), 1L, "purchase", 0.0),
      // u2: click precedes the first view — level stops at 1
      (4L, ts("2024-01-02 09:00:00"), 2L, "click", 0.0),
      (5L, ts("2024-01-02 10:00:00"), 2L, "view", 0.0),
      // u3: click lands 25h after the anchor — outside, level 1
      (6L, ts("2024-01-03 00:00:00"), 3L, "view", 0.0),
      (7L, ts("2024-01-04 01:00:00"), 3L, "click", 0.0),
      // u4: view+click in window, purchase at anchor+25h — level 2
      (8L, ts("2024-01-05 00:00:00"), 4L, "view", 0.0),
      (9L, ts("2024-01-05 01:00:00"), 4L, "click", 0.0),
      (10L, ts("2024-01-06 01:00:00"), 4L, "purchase", 0.0),
      // u5: purchase BEFORE any click — level 1 only
      (11L, ts("2024-01-07 00:00:00"), 5L, "view", 0.0),
      (12L, ts("2024-01-07 01:00:00"), 5L, "purchase", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = JourneyQueries.windowFunnel(ev, 24L * 3600L * 1000000L)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((5L, 5L, 2L, 1L)))
  }

  test("returnTimes: bucket boundaries are half-open at exactly 1d/3d/7d " +
    "(a gap of exactly one day lands in the 1-3d bucket)") {
    val s = spark
    import s.implicits._
    // consecutive single-event sessions with gaps 1h / exactly 1d /
    // exactly 3d / exactly 7d → one gap in each bucket
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-01 01:00:00"), 1L, "view", 0.0),
      (3L, ts("2024-01-02 01:00:00"), 1L, "view", 0.0),
      (4L, ts("2024-01-05 01:00:00"), 1L, "view", 0.0),
      (5L, ts("2024-01-12 01:00:00"), 1L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = JourneyQueries.returnTimes(ev).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, "lt_1d", 1L), (2L, "1_3d", 1L),
      (3L, "3_7d", 1L), (4L, "ge_7d", 1L)), s"got $out")
  }

  test("transitionMatrix: per-user chronology, counts and floored permille") {
    val rows = JourneyQueries.transitionMatrix(fixture).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // user 1: view→click→purchase→purchase; user 3: click→purchase
    assert(rows == Seq(
      ("click", "purchase", 2L, 2L, 1000L),
      ("purchase", "purchase", 1L, 1L, 1000L),
      ("view", "click", 1L, 1L, 1000L)))
    // permille floors: 1-of-3 reads 333, 2-of-3 reads 666
    val skew = {
      val s = spark
      import s.implicits._
      Seq(
        (1L, ts("2024-01-01 10:00:00"), 9L, "view", 0.0),
        (2L, ts("2024-01-01 11:00:00"), 9L, "click", 0.0),
        (3L, ts("2024-01-02 10:00:00"), 8L, "view", 0.0),
        (4L, ts("2024-01-02 11:00:00"), 8L, "error", 0.0),
        (5L, ts("2024-01-03 10:00:00"), 7L, "view", 0.0),
        (6L, ts("2024-01-03 11:00:00"), 7L, "error", 0.0)
      ).toDF("event_id", "ts", "user_id", "event_type", "value")
    }
    val sk = JourneyQueries.transitionMatrix(skew).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(4))).toSeq
    assert(sk == Seq(("view", "click", 333L), ("view", "error", 666L)))
  }

  test("multitouchAttribution: U-shaped credits conserve exactly 1000 " +
    "per purchase — sole 1000, pair 500/500, k=5 middles split 200 by " +
    "largest-remainder-to-earliest, orphan lands on none, lookback " +
    "expires") {
    val s = spark
    import s.implicits._
    // user 1: five touches v,c,v,c,v then purchase — credits must be
    // 400, 67, 67, 66, 400 in (ts, event_id) order (200 DIV 3 = 66,
    // rem 2 → the two EARLIEST middles get +1)
    // user 2: one view then purchase → 1000
    // user 3: view+click then purchase → 500/500
    // user 4: orphan purchase (touch expired: 8 days before)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-01 11:00:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 12:00:00"), 1L, "view", 0.0),
      (4L, ts("2024-01-01 13:00:00"), 1L, "click", 0.0),
      (5L, ts("2024-01-01 14:00:00"), 1L, "view", 0.0),
      (6L, ts("2024-01-01 15:00:00"), 1L, "purchase", 10.0),
      (7L, ts("2024-01-02 10:00:00"), 2L, "view", 0.0),
      (8L, ts("2024-01-02 11:00:00"), 2L, "purchase", 5.0),
      (9L, ts("2024-01-03 10:00:00"), 3L, "view", 0.0),
      (10L, ts("2024-01-03 11:00:00"), 3L, "click", 0.0),
      (11L, ts("2024-01-03 12:00:00"), 3L, "purchase", 2.0),
      (12L, ts("2024-01-01 09:00:00"), 4L, "view", 0.0),
      (13L, ts("2024-01-09 10:00:00"), 4L, "purchase", 7.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = JourneyQueries.multitouchAttribution(
        ev, Seq("view", "click"), "purchase", 7L * 86400L * 1000000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // user 1 by position: view 400, click 67, view 67, click 66,
    // view 400 → view 867, click 133. user 2: view 1000. user 3:
    // view 500, click 500. user 4: none 1000.
    assert(out("view") == ((5L, 867L + 1000L + 500L,
      10L * 100L * 867L + 5L * 100L * 1000L + 2L * 100L * 500L)),
      out.toString)
    assert(out("click") == ((3L, 133L + 500L,
      10L * 100L * 133L + 2L * 100L * 500L)), out.toString)
    assert(out("none") == ((1L, 1000L, 7L * 100L * 1000L)), out.toString)
    // conservation: total permille = 1000 × purchases
    assert(out.values.map(_._2).sum == 4000L)
  }

  test("peak concurrency sweep line: hand-checked peaks, end-INCLUSIVE " +
    "instant where one session ends as another starts counts BOTH, " +
    "midnight crosser contributes to both its days") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val sess = Seq(
      // three overlapping sessions: peak 3 inside [10:20, 10:25]
      ("2024-03-01 10:00:00", "2024-03-01 10:30:00"),
      ("2024-03-01 10:15:00", "2024-03-01 10:45:00"),
      ("2024-03-01 10:20:00", "2024-03-01 10:25:00"),
      // D ends AT 11:10, E starts AT 11:10 — end-inclusive ⇒ 2 open
      ("2024-03-01 11:00:00", "2024-03-01 11:10:00"),
      ("2024-03-01 11:10:00", "2024-03-01 11:20:00"),
      // midnight crosser: counts on Mar 1 AND Mar 2 (clipped)
      ("2024-03-01 23:50:00", "2024-03-02 00:10:00"))
      .toDF("a", "b")
      .select(to_timestamp(col("a")).as("session_start"),
        to_timestamp(col("b")).as("session_end"))
    val got = graft.queries.InventoryQueries2.peakConcurrencyFrom(sess)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
    assert(got == Seq("2024-03-01" -> 3L, "2024-03-02" -> 1L), got.toString)
    // the tie instant really read 2, not 1: with the triple-overlap
    // block removed, the Mar-1 peak becomes the 11:10 handover
    val got2 = graft.queries.InventoryQueries2.peakConcurrencyFrom(
        sess.filter(col("session_start") >= to_timestamp(
          org.apache.spark.sql.functions.lit("2024-03-01 11:00:00"))))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
    assert(got2 == Seq("2024-03-01" -> 2L, "2024-03-02" -> 1L), got2.toString)
  }
}
