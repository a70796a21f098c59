package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.ReadApi
import graft.operators.Relational
import graft.sources.PartitionedStore
import JobCount.jobsIn

/** REST-surface parity: each endpoint function returns the reference's
  * shapes (limits, ordering, 404 seam, no-op suppression). */
class ReadApiSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("overview: newest-first, capped at 200") {
    val s = spark
    import s.implicits._
    val rows = (1 to 250).map(i =>
      ("itemA", ts(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), "EUR", 1.0 + i, 2.0 + i, i))
      .toDF("market_hash_name", "timestamp", "currency", "lowest_price", "median_price", "volume")
    val out = ReadApi.overview(rows, "itemA").collect()
    assert(out.length == ReadApi.OverviewLimit)
    assert(out.head.getTimestamp(0).after(out.last.getTimestamp(0)))
  }

  test("history: range whitelist + ascending order + bad range rejected") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("itemA", ts("2023-01-01 00:00:00"), 1.0, 1),
      ("itemA", ts("2024-01-20 00:00:00"), 2.0, 2),
      ("itemA", ts("2024-01-30 00:00:00"), 3.0, 3))
      .toDF("market_hash_name", "time", "price", "volume")
    val asOf = lit("2024-01-31 00:00:00").cast("timestamp")
    assert(ReadApi.history(rows, "itemA", "week", asOf).collect().map(_.getDouble(1)).toSeq == Seq(3.0))
    assert(ReadApi.history(rows, "itemA", "month", asOf).count() == 2)
    assert(ReadApi.history(rows, "itemA", "all", asOf).count() == 3)
    intercept[IllegalArgumentException] {
      ReadApi.history(rows, "itemA", "'; DROP TABLE--", asOf)
    }
  }

  test("activity: tail clamps like Python [-50:] when fewer than 50 events") {
    val s = spark
    import s.implicits._
    // latest snapshot holds 3 events — far under ActivityTail; the endpoint
    // must return all 3 (Spark's raw slice(c,-50,50) would return EMPTY)
    val snap = Seq(
      ("itemA", ts("2024-01-01 10:00:00"), Seq("e1", "e2", "e3")),
      ("itemA", ts("2024-01-01 09:00:00"), Seq("old")))
      .toDF("market_hash_name", "timestamp", "parsed_activities")
    val out = ReadApi.activity(snap, "itemA").collect()
    assert(out.length == 1)
    assert(out(0).getSeq[String](out(0).fieldIndex("parsed_activities")).toList ==
      List("e1", "e2", "e3"))
    // and a genuinely long tail still slices to the last k
    val long = Seq(("itemB", ts("2024-01-01 10:00:00"), (1 to 60).map(i => s"e$i")))
      .toDF("market_hash_name", "timestamp", "parsed_activities")
    val r = ReadApi.activity(long, "itemB").collect()(0)
    val tail = r.getSeq[String](r.fieldIndex("parsed_activities")).toList
    assert(tail.length == ReadApi.ActivityTail && tail.head == "e11" && tail.last == "e60")
  }

  test("itemExists: the 200-empty vs 404 seam") {
    val s = spark
    import s.implicits._
    val tracked = Seq(("itemA", "priceoverview", true), ("itemB", "histogram", false))
      .toDF("market_hash_name", "stream", "enabled")
    assert(ReadApi.itemExists(tracked, "itemA"))
    assert(!ReadApi.itemExists(tracked, "itemB")) // disabled → 404
    assert(!ReadApi.itemExists(tracked, "nope"))
  }

  /** The per-request window the snapshot readers must agree with: the
    * latest row of the item's rows, ties broken on the whole row. */
  private def latestOf(df: DataFrame, name: String): DataFrame = {
    val one = df.filter(col("market_hash_name") === name)
    Relational.latestPerKeyWindow(one, Seq(lit(1)),
      Seq(col("timestamp").desc) ++ one.columns.filter(_ != "timestamp").map(col(_).desc))
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema")
    assert(got.collect().toSeq == want.collect().toSeq, what)
  }

  test("snapshot readers equal the per-item latest window on adversarial " +
    "inputs: timestamp ties, a null name, an absent item, a one-row group, " +
    "activity tails under and over 50 events") {
    val s = spark
    import s.implicits._
    val book = Seq(
      ("itemA", ts("2024-01-01 10:00:00"), 5.0, 6.0, 3),
      ("itemA", ts("2024-01-01 10:00:00"), 5.5, 6.0, 3), // same ts, higher bid
      ("itemA", ts("2024-01-01 09:00:00"), 9.0, 9.5, 8),
      (null, ts("2024-01-02 00:00:00"), 1.0, 2.0, 1),
      ("itemB", ts("2024-01-01 08:00:00"), 2.0, 2.5, 4))
      .toDF("market_hash_name", "timestamp", "highest_buy_order", "lowest_sell_order",
        "buy_order_count")
    for (n <- Seq("itemA", "itemB", "absent", null))
      assertSame(ReadApi.orderbook(book, n), latestOf(book, n), s"orderbook $n")
    assert(ReadApi.orderbook(book, "itemA").collect().map(_.getDouble(2)).toSeq == Seq(5.5))
    assert(ReadApi.orderbook(book, "absent").count() == 0)

    def events(n: Int, price: Double) = (1 to n).map(i => (price + i, s"e$i"))
    val act = Seq(
      ("itemA", ts("2024-01-01 10:00:00"), events(3, 1.0)),
      ("itemA", ts("2024-01-01 10:00:00"), events(3, 2.0)), // same ts, later prices
      ("itemA", ts("2024-01-01 09:00:00"), events(70, 0.0)),
      ("itemB", ts("2024-01-01 10:00:00"), events(60, 0.0)),
      (null, ts("2024-01-03 00:00:00"), events(1, 0.0)))
      .toDF("market_hash_name", "timestamp", "parsed_activities")
    for (n <- Seq("itemA", "itemB", "absent", null))
      assertSame(ReadApi.activity(act, n),
        latestOf(act, n).withColumn("parsed_activities",
          ReadApi.tailClamped(col("parsed_activities"), ReadApi.ActivityTail)),
        s"activity $n")
    val b = ReadApi.activity(act, "itemB").collect()(0)
    assert(b.getSeq[AnyRef](2).length == ReadApi.ActivityTail)

    val tracked = Seq(("itemA", true), ("itemB", false), (null, true))
      .toDF("market_hash_name", "enabled")
    for (n <- Seq("itemA", "itemB", "absent", null))
      assert(ReadApi.itemExists(tracked, n) ==
        !tracked.filter(col("enabled") && col("market_hash_name") === n).isEmpty, String.valueOf(n))
  }

  test("snapshot readers: a second call on the same frame launches no job") {
    val s = spark
    import s.implicits._
    val book = Seq(("itemA", ts("2024-01-01 10:00:00"), 5.0))
      .toDF("market_hash_name", "timestamp", "highest_buy_order")
    val act = Seq(("itemA", ts("2024-01-01 10:00:00"), Seq("e1")))
      .toDF("market_hash_name", "timestamp", "parsed_activities")
    val tracked = Seq(("itemA", true)).toDF("market_hash_name", "enabled")
    ReadApi.orderbook(book, "itemA").collect()
    ReadApi.activity(act, "itemA").collect()
    ReadApi.itemExists(tracked, "itemA")
    val (answers, jobs) = jobsIn(spark)((
      ReadApi.orderbook(book, "itemB").collect().length,
      ReadApi.activity(act, "itemA").collect().length,
      ReadApi.itemExists(tracked, "itemA")))
    assert(answers == ((0, 1, true)))
    assert(jobs == 0)
  }

  test("snapshot readers see every store write: after an append the next " +
    "read and orderbook show the new latest row; a plain write into the " +
    "tracked set shows on the next itemExists") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_read_snap").toString
    def book(t: String, bid: Double) = Seq(("itemA", ts(t), bid))
      .toDF("market_hash_name", "timestamp", "highest_buy_order")
    def bid(df: DataFrame) =
      ReadApi.orderbook(df, "itemA").collect().map(_.getAs[Double]("highest_buy_order")).toSeq
    PartitionedStore.append(book("2024-01-01 10:00:00", 5.0), dir, "timestamp", "market_hash_name")
    val before = PartitionedStore.read(spark, dir)
    assert(bid(before) == Seq(5.0))
    PartitionedStore.append(book("2024-01-02 10:00:00", 7.0), dir, "timestamp", "market_hash_name")
    val after = PartitionedStore.read(spark, dir)
    assert(!(after eq before))
    assert(bid(after) == Seq(7.0))

    val tracked = java.nio.file.Files.createTempDirectory("graft_read_tracked").toString + "/t"
    Seq(("itemA", true)).toDF("market_hash_name", "enabled").write.parquet(tracked)
    assert(!ReadApi.itemExists(PartitionedStore.read(spark, tracked), "itemB"))
    Seq(("itemB", true)).toDF("market_hash_name", "enabled").write.mode("append").parquet(tracked)
    assert(ReadApi.itemExists(PartitionedStore.read(spark, tracked), "itemB"))
  }

  test("meta: tracked count + last ingest + window request count") {
    val s = spark
    import s.implicits._
    val tracked = Seq(("a", true), ("b", true), ("c", false)).toDF("market_hash_name", "enabled")
    val t1 = Seq(ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:30")).toDF("timestamp")
    val t2 = Seq(ts("2024-01-01 09:00:00")).toDF("timestamp")
    val asOf = lit("2024-01-01 10:01:00").cast("timestamp")
    val r = ReadApi.meta(tracked, Seq(t1, t2), asOf, 60).collect()(0)
    assert(r.getAs[Timestamp]("last_ingest") == ts("2024-01-01 10:00:30"))
    assert(r.getAs[Long]("requests_in_window") == 2) // 10:00:00 + 10:00:30
    assert(r.getAs[Long]("tracked_count") == 2)
  }

  test("admitItem: validate → resolve → duplicate gate → feasibility → classify") {
    import graft.api.ControlApi
    import graft.api.ControlApi.{Admitted, AdmitRequest, Rejected}
    val s = spark
    import s.implicits._
    val tracked = Seq(
      ("knife", "histogram", true, 10),
      ("glove", "priceoverview", false, 30))
      .toDF("market_hash_name", "stream", "enabled", "poll_interval_sec")
    val manifest = Seq(("knife", 176321160L), ("glove", 176000001L))
      .toDF("market_hash_name", "item_nameid")
    def admit(req: AdmitRequest) =
      ControlApi.admitItem(tracked, manifest, req, rateBudget = 600L,
        windowSeconds = 60L)

    // validation rejects (untrusted body)
    assert(admit(AdmitRequest("x", "nope")) == Rejected(400,
      "Invalid stream 'nope'. Use one of: activity, histogram, pricehistory, priceoverview"))
    assert(admit(AdmitRequest("  ", "activity", pollIntervalSec = Some(10)))
      .isInstanceOf[Rejected])
    assert(admit(AdmitRequest("x", "activity")).isInstanceOf[Rejected]) // interval required
    assert(admit(AdmitRequest("x", "activity", pollIntervalSec = Some(1)))
      .isInstanceOf[Rejected]) // out of bounds
    // nameid unresolvable for a stream that requires it
    assert(admit(AdmitRequest("ghost", "activity", pollIntervalSec = Some(10)))
      .isInstanceOf[Rejected])
    // enabled duplicate = suppressed no-op → 409
    assert(admit(AdmitRequest("knife", "histogram", pollIntervalSec = Some(10)))
      == Rejected(409, "'knife' (histogram) is already tracked"))
    // feasibility: live set is knife@10s → 6 req/60s; adding 12s → +5;
    // an interval making required exceed 600 must be rejected...
    assert(admit(AdmitRequest("fresh", "priceoverview", pollIntervalSec = Some(5)))
      .isInstanceOf[Admitted]) // 6 + 12 = 18 ≤ 600
    val tight = ControlApi.admitItem(tracked, manifest,
      AdmitRequest("fresh", "priceoverview", pollIntervalSec = Some(5)),
      rateBudget = 17L, windowSeconds = 60L)
    assert(tight == Rejected(409, "Would exceed rate limit: 18 req/60s " +
      "vs budget 17. Increase poll_interval_sec or remove an item."))
    // accepted insert: nameid resolved, capacity echoed
    admit(AdmitRequest("glove", "activity", pollIntervalSec = Some(12))) match {
      case Admitted(op, nameid, interval, required, budget, util) =>
        assert(op == "insert" && nameid.contains(176000001L) && interval == 12)
        assert(required == 11L && budget == 600L) // 6 (knife) + 5 (60/12)
        assert(math.abs(util - 11.0 / 600.0 * 100.0) < 1e-12)
      case other => fail(s"expected Admitted, got $other")
    }
    // disabled row re-admitted → reenable, not insert
    admit(AdmitRequest("glove", "priceoverview", pollIntervalSec = Some(30))) match {
      case Admitted(op, nameid, _, _, _, _) =>
        assert(op == "reenable" && nameid.isEmpty)
      case other => fail(s"expected Admitted, got $other")
    }
    // pricehistory: client cadence ignored, fixed hourly tick, no load
    // added — cannot fail the gate even with a zero-headroom budget
    ControlApi.admitItem(tracked, manifest,
      AdmitRequest("fresh", "pricehistory", pollIntervalSec = Some(1)),
      rateBudget = 6L, windowSeconds = 60L) match {
      case Admitted(op, _, interval, required, _, _) =>
        assert(op == "insert" && interval == ControlApi.PricehistoryPollSec)
        assert(required == 6L) // knife only; the add contributes nothing
      case other => fail(s"expected Admitted, got $other")
    }
  }

  test("patchItem: target resolve → cadence/nameid re-resolve → load-delta feasibility gate") {
    import graft.api.ControlApi
    import graft.api.ControlApi.{PatchRequest, Rejected, Updated}
    val s = spark
    import s.implicits._
    val tracked = Seq(
      ("knife", "histogram", true, 10, Some(176321160L)),
      ("knife", "priceoverview", true, 30, None),
      ("glove", "priceoverview", false, 30, None))
      .toDF("market_hash_name", "stream", "enabled", "poll_interval_sec", "item_nameid")
    val manifest = Seq(("glove", 176000001L)).toDF("market_hash_name", "item_nameid")
    def patch(req: PatchRequest, budget: Long = 600L) =
      ControlApi.patchItem(tracked, manifest, req, budget, windowSeconds = 60L)

    // 400: empty patch, invalid target stream
    assert(patch(PatchRequest("knife")) == Rejected(400,
      "Nothing to update: provide poll_interval_sec, new_stream, or enabled"))
    assert(patch(PatchRequest("knife", newStream = Some("nope"))).isInstanceOf[Rejected])
    // 404: unknown name; 409: ambiguous name without stream
    assert(patch(PatchRequest("ghost", enabled = Some(false)))
      == Rejected(404, "No tracked item 'ghost'"))
    assert(patch(PatchRequest("knife", enabled = Some(false))) == Rejected(409,
      "'knife' is tracked on multiple streams; specify stream to disambiguate"))
    // interval bounds re-checked against the effective live stream
    assert(patch(PatchRequest("knife", stream = Some("histogram"),
      pollIntervalSec = Some(1))).isInstanceOf[Rejected])
    // load-increasing change (interval decrease) re-gates with the NEW
    // interval: live set is knife@10 (6) + knife@30 (2); 30→5 makes
    // 6 + 12 = 18 — rejected at budget 17, accepted at 18
    assert(patch(PatchRequest("knife", stream = Some("priceoverview"),
      pollIntervalSec = Some(5)), budget = 17L)
      == Rejected(409, "Would exceed rate limit: 18 req/60s vs budget 17. " +
        "Pick a larger poll_interval_sec."))
    assert(patch(PatchRequest("knife", stream = Some("priceoverview"),
      pollIntervalSec = Some(5)), budget = 18L)
      == Updated("priceoverview", 5, true, None, "reconciling live"))
    // load-DECREASING change skips the gate even with a blown budget
    assert(patch(PatchRequest("knife", stream = Some("histogram"),
      pollIntervalSec = Some(60)), budget = 1L)
      == Updated("histogram", 60, true, Some(176321160L), "reconciling live"))
    assert(patch(PatchRequest("knife", stream = Some("histogram"),
      enabled = Some(false)), budget = 1L)
      == Updated("histogram", 10, false, Some(176321160L), "disabled"))
    // enabling a disabled row IS a load increase — gated with its interval
    assert(patch(PatchRequest("glove", enabled = Some(true)), budget = 9L)
      == Rejected(409, "Would exceed rate limit: 10 req/60s vs budget 9. " +
        "Pick a larger poll_interval_sec.")) // 6 + 2 + 60/30
    // a move onto a nameid stream resolves it from the manifest
    assert(patch(PatchRequest("glove", newStream = Some("activity"),
      enabled = Some(true)))
      == Updated("activity", 30, true, Some(176000001L), "reconciling live"))
    // a move onto pricehistory stamps the hourly tick and FREES budget —
    // never gated, supplied interval ignored
    assert(patch(PatchRequest("knife", stream = Some("histogram"),
      newStream = Some("pricehistory"), pollIntervalSec = Some(1)), budget = 1L)
      == Updated("pricehistory", ControlApi.PricehistoryPollSec, true,
        Some(176321160L), "reconciling live"))
  }

  test("removeItem: disable-not-drop with the shared target resolution") {
    import graft.api.ControlApi
    import graft.api.ControlApi.{Disabled, Rejected}
    val s = spark
    import s.implicits._
    val tracked = Seq(
      ("knife", "histogram", true, 10),
      ("knife", "priceoverview", true, 30),
      ("glove", "priceoverview", false, 30))
      .toDF("market_hash_name", "stream", "enabled", "poll_interval_sec")
    assert(ControlApi.removeItem(tracked, "ghost")
      == Rejected(404, "No tracked item 'ghost'"))
    assert(ControlApi.removeItem(tracked, "knife") == Rejected(409,
      "'knife' is tracked on multiple streams; specify stream to disambiguate"))
    assert(ControlApi.removeItem(tracked, "knife", Some("pricehistory"))
      == Rejected(404, "No tracked item 'knife' on stream 'pricehistory'"))
    assert(ControlApi.removeItem(tracked, "knife", Some("histogram"))
      == Disabled("histogram", "poller stops on reconcile"))
    // no feasibility involvement: disabling only frees budget
    assert(ControlApi.removeItem(tracked, "glove")
      == Disabled("priceoverview", "poller stops on reconcile"))
  }

  test("replaceTrackedItems: insert/update/delete classified, noop suppressed") {
    val s = spark
    import s.implicits._
    val current = Seq(("a", "priceoverview", 30), ("b", "activity", 8), ("c", "histogram", 60))
      .toDF("market_hash_name", "stream", "poll_interval_sec")
    val desired = Seq(("a", "priceoverview", 30), ("b", "activity", 15), ("d", "pricehistory", 3600))
      .toDF("market_hash_name", "stream", "poll_interval_sec")
    val ops = ReadApi.replaceTrackedItems(current, desired, Seq("poll_interval_sec"))
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(ops == Map("b" -> "update", "c" -> "delete", "d" -> "insert")) // 'a' = noop, absent
  }
}
