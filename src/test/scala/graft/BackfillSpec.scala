package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Backfill, SlidingWindowLog}

/** The bulk-backfill envelope: skip/fresh/stale classification from the
  * store (the source of truth), --skip/--refresh arms, crash-resume by
  * re-planning, and the rate gate bounding total fetch cadence. */
class BackfillSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  private val asOf = Timestamp.valueOf("2024-06-10 12:00:00")
  private val fresh = Timestamp.valueOf("2024-06-10 06:00:00")  // < 1 day old
  private val stale = Timestamp.valueOf("2024-03-01 00:00:00")  // months old

  private def manifest: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e"), (6, "f"), (7, "g"))
      .toDF("idx", "name")
  }

  private def history(rows: (String, Timestamp)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("name", "ts")
  }

  private def actions(plan: DataFrame): Map[String, String] =
    plan.collect().map(r => r.getAs[String]("name") -> r.getAs[String]("action")).toMap

  test("classification: positional skip, fresh skip, stale topup, missing backfill") {
    val h = history("a" -> fresh, "c" -> fresh, "d" -> stale)
    val p = Backfill.plan(manifest, h, "idx", "name", "ts", asOf,
      freshDays = 1.0, skip = 2)
    assert(actions(p) == Map(
      "a" -> "skipped_resume", // skip=2 wins even though fresh
      "b" -> "skipped_resume",
      "c" -> "skipped_fresh",  // newest point inside freshDays: no API call
      "d" -> "topup",          // stale: re-fetched, not skipped forever
      "e" -> "backfill", "f" -> "backfill", "g" -> "backfill"))
    // skipped rows carry no schedule slot — they consume no budget
    assert(p.filter("action LIKE 'skipped%' AND scheduled_ms IS NOT NULL").isEmpty)
  }

  test("--refresh re-fetches everything regardless of freshness (skip still wins)") {
    val h = history("a" -> fresh, "c" -> fresh, "d" -> stale)
    val p = Backfill.plan(manifest, h, "idx", "name", "ts", asOf,
      freshDays = 1.0, skip = 1, refresh = true)
    val a = actions(p)
    assert(a("a") == "skipped_resume")
    assert(a("c") == "topup" && a("d") == "topup") // freshness bypassed
    assert(a("e") == "backfill")
  }

  test("crash-resume: re-planning after a partial run skips exactly the completed items") {
    val h0 = history("g" -> stale)
    val p0 = Backfill.plan(manifest, h0, "idx", "name", "ts", asOf, freshDays = 1.0)
    assert(actions(p0).count(_._2 == "skipped_fresh") == 0) // everything due
    // "run" the first three fetches: their stored tail is now today-dated,
    // which is the reference's resume checkpoint — the DB, not a cursor
    val h1 = history("a" -> asOf, "b" -> asOf, "c" -> asOf, "g" -> stale)
    val p1 = Backfill.plan(manifest, h1, "idx", "name", "ts", asOf, freshDays = 1.0)
    assert(actions(p1) == Map(
      "a" -> "skipped_fresh", "b" -> "skipped_fresh", "c" -> "skipped_fresh",
      "d" -> "backfill", "e" -> "backfill", "f" -> "backfill", "g" -> "topup"))
    // and the resumed fetch list re-schedules from slot zero
    assert(p1.filter("name = 'd'").collect()(0).getAs[Long]("scheduled_ms") == 0L)
  }

  test("rate gate bounds cadence: <= maxRequests per window, SlidingWindowLog replay agrees") {
    val p = Backfill.plan(manifest, history(), "idx", "name", "ts", asOf,
      freshDays = 1.0, maxRequests = 2, windowSeconds = 60L)
    val sched = p.orderBy("idx").collect().map(_.getAs[Long]("scheduled_ms"))
    assert(sched.toSeq == Seq(0L, 0L, 60000L, 60000L, 120000L, 120000L, 180000L))
    // no window of the schedule ever holds more than maxRequests fires
    assert(sched.groupBy(identity).values.forall(_.length <= 2))
    // the in-plan schedule is exactly the SlidingWindowLog burst shape the
    // rate-limited source enforces: replay each fire through the log
    val log = new SlidingWindowLog(maxGrants = 2, windowMillis = 60000L)
    var now = 0L // all fetches due immediately; each fires as soon as legal
    val replayed = sched.map { _ =>
      val t = log.availableAt(now)
      log.grant(t, 1)
      now = t
      t
    }
    assert(replayed.toSeq == sched.toSeq)
  }
}
