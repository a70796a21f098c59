package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DataQuality, TimeSeries}

/** TimeSeries operator semantics on hand-computed frames: OHLC bar edges
  * with tie-breaks, forward-fill run logic (leading nulls, gap spans,
  * same-bucket last-wins), exact trend slope, and TVD drift counts. */
class TimeSeriesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  private def ts(s: String) = Timestamp.valueOf(s)

  /** One key, two days; day 1 has an intra-hour pair to pin last-wins. */
  private def series = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, ts("2024-01-01 00:10:00"), "a", 10.0),
      (2L, ts("2024-01-01 00:40:00"), "a", 12.0), // same hour: later wins
      (3L, ts("2024-01-01 03:00:00"), "a", 8.0),
      (4L, ts("2024-01-02 05:00:00"), "a", 20.0),
      (5L, ts("2024-01-01 02:00:00"), "b", 5.0)
    ).toDF("event_id", "ts", "key", "value")
  }

  test("ohlcBars: open/close by (ts, id), high/low, exact qsum") {
    val out = TimeSeries.ohlcBars(series, "key", "ts", "event_id",
        "value", to_date(col("ts")))
      .orderBy("key", "bucket").collect()
    val a1 = out(0) // a, 2024-01-01
    assert(a1.getAs[Double]("open") == 10.0)
    assert(a1.getAs[Double]("close") == 8.0)
    assert(a1.getAs[Double]("high") == 12.0)
    assert(a1.getAs[Double]("low") == 8.0)
    assert(a1.getAs[Long]("n") == 3L)
    assert(a1.getAs[Long]("qsum") == 30000000L)
    val a2 = out(1) // a, 2024-01-02: single obs, open == close
    assert(a2.getAs[Double]("open") == 20.0 &&
      a2.getAs[Double]("close") == 20.0)
    val b = out(2)
    assert(b.getAs[String]("key") == "b" && b.getAs[Long]("n") == 1L)
  }

  test("resampleFfill: dense grid, leading nulls, gap fill, last-wins") {
    val out = TimeSeries.resampleFfill(series, "key", "ts", "event_id",
        "value", "hour", expr("INTERVAL 1 HOUR"))
      .orderBy("key", "grid_ts").collect()
    // global bounds: 00:00 Jan 1 .. 05:00 Jan 2 = 30 hours, 2 keys
    assert(out.length == 60)
    val a = out.take(30).map(r =>
      (Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))
    assert(a(0) == (Some(12.0), true))  // hour 0: last of the 00:xx pair
    assert(a(1) == (Some(12.0), false)) // hour 1: carried forward
    assert(a(3) == (Some(8.0), true))   // hour 3: new observation
    assert(a(10) == (Some(8.0), false)) // long gap still carries 8.0
    assert(a(29) == (Some(20.0), true)) // Jan 2 05:00
    val b = out.drop(30).map(r =>
      (Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))
    assert(b(0) == (None, false) && b(1) == (None, false)) // before first obs
    assert(b(2) == (Some(5.0), true))
    assert(b(29) == (Some(5.0), false)) // b never observed again: carried
  }

  test("trendSlope: exact integer num/den on a hand-computed series") {
    val s = spark
    import s.implicits._
    // key k: daily totals y = [2.0, 4.0, 6.0] on days x = [0, 1, 2]
    val df = Seq(
      (1L, ts("2024-01-01 01:00:00"), "k", 1.0),
      (2L, ts("2024-01-01 02:00:00"), "k", 1.0),
      (3L, ts("2024-01-02 01:00:00"), "k", 4.0),
      (4L, ts("2024-01-03 01:00:00"), "k", 6.0)
    ).toDF("event_id", "ts", "key", "value")
    val r = TimeSeries.trendSlope(df, "key", "ts", "value", "2024-01-01")
      .collect().head
    // quantized y = [2e6, 4e6, 6e6]; n=3, Sxy=16e6, Sx=3, Sy=12e6, Sxx=5
    // num = 3*16e6 - 3*12e6 = 12e6 ; den = 3*5 - 9 = 6  (slope = 2e6/day)
    assert(r.getAs[Long]("n_days") == 3L)
    assert(r.getAs[Long]("slope_num") == 12000000L)
    assert(r.getAs[Long]("slope_den") == 6L)
  }

  test("resampleInterp: exact weighted-average interpolation, holds at edges") {
    val s = spark
    import s.implicits._
    // key a: obs at hours 1 (v=10) and 4 (v=4): falling series exercises
    // the would-be-negative-delta branch; hours 2,3 interpolate, hour 0
    // back-holds, hour 5 (from key b's span) forward-holds
    val df = Seq(
      (1L, ts("2024-01-01 01:30:00"), "a", 10.0),
      (2L, ts("2024-01-01 04:10:00"), "a", 4.0),
      (3L, ts("2024-01-01 00:20:00"), "b", 7.0),
      (4L, ts("2024-01-01 05:40:00"), "b", 9.0)
    ).toDF("event_id", "ts", "key", "value")
    val out = TimeSeries.resampleInterp(df, "key", "ts", "event_id",
        "value", "hour", expr("INTERVAL 1 HOUR"), 3600000000L)
      .orderBy("key", "grid_ts").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getString(3)))
    val a = out.take(6)
    assert(a(0) == ("a", 10000000L, "hold"))   // hour 0: back-hold
    assert(a(1) == ("a", 10000000L, "obs"))
    // interp: (10e6*(4-2) + 4e6*(2-1)) DIV 3 = 24e6/3 = 8e6
    assert(a(2) == ("a", 8000000L, "interp"))
    assert(a(3) == ("a", 6000000L, "interp"))
    assert(a(4) == ("a", 4000000L, "obs"))
    assert(a(5) == ("a", 4000000L, "hold"))    // hour 5: forward-hold
    val bRows = out.drop(6)
    assert(bRows(0)._3 == "obs" && bRows(5)._3 == "obs")
    assert(bRows(2) == ("b", (7000000L * 3 + 9000000L * 2) / 5, "interp"))
  }

  test("movingDailyAgg: RANGE frame shrinks over calendar gaps") {
    val s = spark
    import s.implicits._
    // key k, days 0, 1, 8: day 8's 7-day window covers days 2..8 → itself only
    val df = Seq(
      (1L, ts("2024-01-01 01:00:00"), "k", 2.0),
      (2L, ts("2024-01-02 01:00:00"), "k", 4.0),
      (3L, ts("2024-01-02 02:00:00"), "k", 6.0),
      (4L, ts("2024-01-09 01:00:00"), "k", 10.0)
    ).toDF("event_id", "ts", "key", "value")
    val out = TimeSeries.movingDailyAgg(df, "key", "ts", "value",
        "2024-01-01", 7)
      .orderBy("day").collect()
      .map(r => (r.getAs[Long]("win_n"), r.getAs[Long]("win_qsum"),
        r.getAs[Long]("avg_q")))
    assert(out(0) == (1L, 2000000L, 2000000L))
    assert(out(1) == (3L, 12000000L, 4000000L))  // days 1+2 in range
    assert(out(2) == (1L, 10000000L, 10000000L)) // gap: day 9 alone
  }

  test("qval guard: a negative value raises in-plan instead of silently breaking DIV parity") {
    val s = spark
    import s.implicits._
    // Spark DIV truncates, DuckDB // floors: a negative quantized sum
    // would hash-mismatch the oracle SILENTLY — the guard must turn the
    // precondition violation into a loud failure at the offending row
    val df = Seq(
      (1L, ts("2024-01-01 01:00:00"), "k", 2.0),
      (2L, ts("2024-01-02 01:00:00"), "k", -4.0)
    ).toDF("event_id", "ts", "key", "value")
    val e = intercept[Exception] {
      TimeSeries.movingDailyAgg(df, "key", "ts", "value", "2024-01-01", 7)
        .collect()
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(c => Option(c.getMessage).getOrElse("")).getOrElse("")
    assert(msg(e).contains("DIV parity"), msg(e))
  }

  test("ewmaDaily: (3s+x) DIV 4 fold in day order, seeded with day one") {
    val s = spark
    import s.implicits._
    // daily totals: [8.0, 4.0, 16.0] → q [8e6, 4e6, 16e6]
    // s1 = 8e6; s2 = (24e6 + 4e6)>>2 = 7e6; s3 = (21e6 + 16e6)>>2 = 9250000
    val df = Seq(
      (1L, ts("2024-01-01 01:00:00"), "k", 3.0),
      (2L, ts("2024-01-01 02:00:00"), "k", 5.0),
      (3L, ts("2024-01-02 01:00:00"), "k", 4.0),
      (4L, ts("2024-01-03 01:00:00"), "k", 16.0)
    ).toDF("event_id", "ts", "key", "value")
    val r = TimeSeries.ewmaDaily(df, "key", "ts", "value").collect().head
    assert(r.getAs[Long]("n_days") == 3L)
    assert(r.getAs[java.sql.Date]("last_day").toString == "2024-01-03")
    assert(r.getAs[Long]("ewma_q") == 9250000L)
  }

  test("ewmaAnomalies: prefix-EWMA baseline, day one unflagged, spike flagged") {
    val s = spark
    import s.implicits._
    // daily q-totals: [8e6, 4e6, 40e6]; baselines: day2 ← 8e6, day3 ← 7e6
    // day2: |4-8|*4 = 16 ≤ 3*8 = 24 → calm; day3: |40-7|*4 = 132 > 21 → anom
    val df = Seq(
      (1L, ts("2024-01-01 01:00:00"), "k", 8.0),
      (2L, ts("2024-01-02 01:00:00"), "k", 4.0),
      (3L, ts("2024-01-03 01:00:00"), "k", 40.0)
    ).toDF("event_id", "ts", "key", "value")
    val out = TimeSeries.ewmaAnomalies(df, "key", "ts", "value", 3L, 4L)
      .orderBy("day").collect()
      .map(r => (Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))
    assert(out(0) == (None, false))
    assert(out(1) == (Some(8000000L), false))
    assert(out(2) == (Some(7000000L), true))
  }

  test("xcorrDaily: exact rationals — a perfectly tracking pair attains " +
    "cov² = var_a·var_b; an inverse pair flips the sign; driver replay") {
    val s = spark
    import s.implicits._
    // pos: value total and event count rise together (a=100,200,300;
    // b=1,2,3) — perfect correlation. neg: value falls as count rises
    // (a=400,300,200; b=1,2,4).
    val rows =
      (1 to 1).map(i => (i.toLong, ts("2024-01-01 01:00:00"), "pos", 1.0)) ++
      (1 to 2).map(i => (10 + i.toLong, ts("2024-01-02 01:00:00"), "pos", 1.0)) ++
      (1 to 3).map(i => (20 + i.toLong, ts("2024-01-03 01:00:00"), "pos", 1.0)) ++
      Seq((31L, ts("2024-01-01 02:00:00"), "neg", 4.0)) ++
      (1 to 2).map(i => (40 + i.toLong, ts("2024-01-02 02:00:00"), "neg", 1.5)) ++
      (1 to 4).map(i => (50 + i.toLong, ts("2024-01-03 02:00:00"), "neg", 0.5))
    val out = TimeSeries.xcorrDaily(
        rows.toDF("event_id", "ts", "key", "value"), "key", "ts", "value")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // pos: ma=200, mb=2 → residuals a (-100,0,100), b (-1,0,1)
    assert(out("pos") == (3L, 200L, 20000L, 2L))
    assert(200L * 200L == 20000L * 2L, "perfect tracking: cov^2 = va*vb")
    // neg: ma=300, mb=7/3 DIV = 2 → a (100,0,-100), b (-1,0,2)
    assert(out("neg") == (3L, -300L, 20000L, 5L))
  }

  test("maxDays envelope guard: the quadratic prefix-fold ops raise on a " +
    "key exceeding the day bound; within-bound keys are untouched") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 01:00:00"), "k", 8.0),
      (2L, ts("2024-01-02 01:00:00"), "k", 4.0),
      (3L, ts("2024-01-03 01:00:00"), "k", 40.0)
    ).toDF("event_id", "ts", "key", "value")
    // 3 days > maxDays=2 → in-plan raise for both ops
    val e1 = intercept[Exception] {
      TimeSeries.ewmaAnomalies(df, "key", "ts", "value", 3L, 4L,
        maxDays = 2).collect()
    }
    assert(e1.getMessage.contains("maxDays"), e1.getMessage)
    val e2 = intercept[Exception] {
      TimeSeries.cusumChangepoints(df, "key", "ts", "value",
        maxDays = 2).collect()
    }
    assert(e2.getMessage.contains("maxDays"), e2.getMessage)
    // exactly at the bound: passes, answers unchanged
    assert(TimeSeries.ewmaAnomalies(df, "key", "ts", "value", 3L, 4L,
      maxDays = 3).count() == 3L)
    assert(TimeSeries.cusumChangepoints(df, "key", "ts", "value",
      maxDays = 3).count() == 3L)
  }

  test("dowProfile: Monday-anchored dow slots, exact slot and week means") {
    val s = spark
    import s.implicits._
    // 2024-01-01 is a Monday (dow 0); Jan 7 is Sunday (dow 6); Jan 8 Monday
    val df = Seq(
      (1L, ts("2024-01-01 01:00:00"), "k", 2.0),
      (2L, ts("2024-01-08 01:00:00"), "k", 4.0), // same slot, next week
      (3L, ts("2024-01-07 01:00:00"), "k", 9.0)
    ).toDF("event_id", "ts", "key", "value")
    val out = TimeSeries.dowProfile(df, "key", "ts", "value", "2024-01-01")
      .orderBy("dow").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    // Monday slot: n=2, qsum=6e6, mean 3e6; Sunday: 9e6; week mean 5e6
    assert(out.toSeq == Seq(
      (0L, 2L, 6000000L, 3000000L, 5000000L),
      (6L, 1L, 9000000L, 9000000L, 5000000L)))
  }

  test("cusumChangepoints: calm key never flags; sustained shift trips " +
    "both sides; driver replay exact") {
    val s = spark
    import s.implicits._
    val rows = (1 to 20).flatMap { d =>
      val v = if (d <= 10) 10.0 else 60.0
      Seq((d.toLong * 2 - 1, ts(f"2024-01-$d%02d 01:00:00"), "shift", v),
        (d.toLong * 2, ts(f"2024-01-$d%02d 02:00:00"), "calm", 10.0))
    }.toDF("event_id", "ts", "key", "value")
    val out = TimeSeries.cusumChangepoints(rows, "key", "ts", "value")
      .orderBy("key", "day").collect()
    val calm = out.filter(_.getString(0) == "calm")
    assert(calm.length == 20 && calm.forall(r =>
      r.getLong(4) == 0L && r.getLong(5) == 0L && !r.getBoolean(6)))
    // driver replay of the integer recurrence for the shifted key
    val yvs = (1 to 20).map(d => if (d <= 10) 10000000L else 60000000L)
    val mu = yvs.sum / 20; val kap = mu / 4; val h = mu * 2
    var sp = 0L; var sn = 0L
    val exp = yvs.map { y =>
      sp = math.max(0L, sp + (y - mu - kap))
      sn = math.max(0L, sn + (mu - kap - y))
      (sp, sn, sp > h || sn > h)
    }
    val shift = out.filter(_.getString(0) == "shift")
    assert(shift.length == 20)
    shift.zip(exp).foreach { case (r, (esp, esn, ec)) =>
      assert(r.getLong(3) == mu)
      assert(r.getLong(4) == esp && r.getLong(5) == esn &&
        r.getBoolean(6) == ec, s"day ${r.getDate(1)}")
    }
    // the DOWN shift flags in the first half, the UP shift in the second
    assert(exp.take(10).exists(_._3) && exp.drop(10).exists(_._3))
    assert(exp.exists(!_._3)) // and it is not all-flagged
  }

  test("holtDaily: level+trend fold replayed on the driver; falling " +
    "series drives trend negative with floor-shift parity") {
    val s = spark
    import s.implicits._
    // rising then falling — the fall sends trend (and level'−level)
    // negative, the regime where truncating DIV would diverge
    val vals = Seq(10.0, 12.0, 14.0, 16.0, 8.0, 4.0, 2.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, ts(f"2024-01-${i + 1}%02d 01:00:00"), "k", v)
    }
    val out = TimeSeries.holtDaily(rows.toDF("event_id", "ts", "key", "value"),
      "key", "ts", "value").collect()(0)
    // driver replay with explicit floor shifts
    var level = 10000000L; var trend = 0L
    vals.tail.foreach { v =>
      val y = math.floor(v * 1e6).toLong
      val l2 = ((level + trend) * 3 + y) >> 2
      trend = (trend * 3 + (l2 - level)) >> 2
      level = l2
    }
    assert(out.getLong(1) == 7L)
    assert(out.getAs[Long]("level_q") == level)
    assert(out.getAs[Long]("trend_q") == trend)
    assert(trend < 0L, s"fixture must exercise the negative-trend regime: $trend")
    assert(out.getAs[Long]("forecast_q") == level + trend)
  }

  test("acfDaily: planted period-2 series peaks at even lags; driver " +
    "replay exact; calendar gap drops the pair") {
    val s = spark
    import s.implicits._
    // alternating 10/30 over 9 days, with day 5 MISSING — lag-1 pairs
    // across the gap (4→5, 5→6) must vanish, not misalign
    val days = Seq(1, 2, 3, 4, 6, 7, 8, 9, 10)
    val vals = days.map(d => if (d % 2 == 1) 10.0 else 30.0)
    val rows = days.zip(vals).map { case (d, v) =>
      (d.toLong, ts(f"2024-01-$d%02d 01:00:00"), "k", v)
    }
    val out = TimeSeries.acfDaily(rows.toDF("event_id", "ts", "key", "value"),
        "key", "ts", "value", 3, "2024-01-01")
      .orderBy("lag").collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // driver replay (ACF quantizes to CENTS — products of residuals)
    val yv = vals.map(v => math.floor(v * 1e2).toLong)
    val mu = yv.sum / yv.length
    val r = days.map(_.toLong).zip(yv.map(_ - mu)).toMap
    val varDen = r.values.map(x => x * x).sum
    for (lag <- 1L to 3L) {
      val pairs = days.map(_.toLong)
        .flatMap(x => r.get(x + lag).map(b => r(x) * b))
      assert(out(lag) == ((pairs.length.toLong, pairs.sum, varDen)),
        s"lag $lag: ${out(lag)} vs (${pairs.length}, ${pairs.sum}, $varDen)")
    }
    // period-2 signature: negative at odd lags, positive at even
    assert(out(1L)._2 < 0L && out(2L)._2 > 0L && out(3L)._2 < 0L)
    // the gap really dropped a pair: lag 1 has 7 pairs, not 8
    assert(out(1L)._1 == 7L)
  }

  test("deseasonalize + MAD: a Sunday-big Sunday never flags; a Tuesday " +
    "behaving like a Sunday does") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, datediff, lit}
    // 4 weeks from Mon 2024-01-01: Sundays 70.0, weekdays 10.0, except
    // Tue Jan 23 = 70.0 (the planted off-pattern day)
    val rows = (1 to 28).map { d =>
      val date = java.time.LocalDate.of(2024, 1, d)
      val sunday = date.getDayOfWeek == java.time.DayOfWeek.SUNDAY
      val v = if (sunday || d == 23) 70.0 else 10.0
      (d.toLong, ts(f"2024-01-$d%02d 01:00:00"), "k", v)
    }
    val df = rows.toDF("event_id", "ts", "key", "value")
    val resid = graft.operators.TimeSeries.deseasonalize(df, "key", "ts",
        "value", "2024-01-01")
      .select(col("key"),
        datediff(col("day"), lit("2024-01-01").cast("date"))
          .cast("long").as("x"), col("resid_q"))
    val flagged = graft.operators.Relational.madOutliers(resid, "key", "x",
        col("resid_q"), k = 3L)
      .collect().map(_.getAs[Long]("id")).toSet
    // day index of Jan 23 = 22; Sundays are x ∈ {6, 13, 20, 27}
    assert(flagged.contains(22L), s"the off-pattern Tuesday must flag: $flagged")
    assert(Set(6L, 13L, 20L, 27L).intersect(flagged).isEmpty,
      s"seasonally-big Sundays must NOT flag: $flagged")
  }

  test("mkTrend: hand-computed S on monotone, outlier-resistant, and " +
    "tied series") {
    val s = spark
    import s.implicits._
    // "up": strictly rising 5 days → S = C(5,2) = 10 = max_s
    // "rob": rising except one huge day-2 outlier — OLS would flip on
    //   magnitude; signs don't: pairs with the outlier contribute
    //   (1↑900, then 900↓ to 12,13,14 = −3) → S = 1−3 + C(3,2)=3 ↑ from
    //   10<12<13<14 rising tail + (10,12),(10,13),(10,14)=+3 → compute
    //   exactly in the assertion below
    // "tie": all equal → S = 0, flat
    val series = Map(
      "up" -> Seq(1.0, 2.0, 3.0, 4.0, 5.0),
      "rob" -> Seq(10.0, 900.0, 12.0, 13.0, 14.0),
      "tie" -> Seq(7.0, 7.0, 7.0, 7.0, 7.0))
    val rows = series.toSeq.flatMap { case (k, vs) =>
      vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, ts(f"2024-01-${i + 1}%02d 01:00:00"), k, v)
      }
    }
    val out = TimeSeries.mkTrend(rows.toDF("event_id", "ts", "key", "value"),
        "key", "ts", "value")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    def sOf(vs: Seq[Double]): Long =
      (for (i <- vs.indices; j <- i + 1 until vs.size)
        yield math.signum(vs(j) - vs(i)).toLong).sum
    assert(out("up") == ((5L, 10L, 10L, "up")))
    assert(out("rob") == ((5L, sOf(series("rob")), 10L, "up")),
      "one outlier must not flip the sign-based trend")
    assert(sOf(series("rob")) > 0L)
    assert(out("tie") == ((5L, 0L, 10L, "flat")))
  }

  test("theilSen: median pairwise slope resists the outlier OLS chases; " +
    "floor-division ordering key is exact on negative slopes") {
    val s = spark
    import s.implicits._
    // key a: values 10,12,14,100 on consecutive days — pairwise slopes
    // (µ-units/day): {2e6 ×3, 30e6, 44e6, 86e6}; P=6, lower median rank 3
    // = the (num=4e6, den=2) pair. OLS would be dragged to ~28e6.
    // key b: values 10,9,9 on days 0,1,3 — slopes {-1e6/1, -1e6/3, 0/2};
    // rank 2 is the (num=-1e6, den=3) pair whose scaled key
    // floor(-1e6·2²⁰/3) = -349525333334 differs from truncation by 1,
    // pinning the pmod floor construction.
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), "a", 10.0),
      (2L, ts("2024-01-02 00:00:00"), "a", 12.0),
      (3L, ts("2024-01-03 00:00:00"), "a", 14.0),
      (4L, ts("2024-01-04 00:00:00"), "a", 100.0),
      (5L, ts("2024-01-01 00:00:00"), "b", 10.0),
      (6L, ts("2024-01-02 00:00:00"), "b", 9.0),
      (7L, ts("2024-01-04 00:00:00"), "b", 9.0)
    ).toDF("event_id", "ts", "key", "value")
    val out = TimeSeries.theilSen(df, "key", "ts", "value", "2024-01-01")
      .orderBy("key").collect()
    val a = out(0)
    assert(a.getAs[Long]("n_days") == 4L && a.getAs[Long]("n_pairs") == 6L)
    assert(a.getAs[Long]("slope_num") == 4000000L &&
      a.getAs[Long]("slope_den") == 2L)
    assert(a.getAs[Long]("slope_scaled") == 2000000L * (1L << 20))
    val b = out(1)
    assert(b.getAs[Long]("slope_num") == -1000000L &&
      b.getAs[Long]("slope_den") == 3L)
    assert(b.getAs[Long]("slope_scaled") == -349525333334L,
      "scaled key must FLOOR (truncation would give …333)")
  }

  test("distributionDrift: cohort counts and scaled TVD contribution") {
    val s = spark
    import s.implicits._
    // cohort1 = even ids: {x:2, y:0}, N1=2 ; cohort2 = odd: {x:1, y:1}, N2=2
    val df = Seq((2L, "x"), (4L, "x"), (1L, "x"), (3L, "y"))
      .toDF("id", "k")
    val out = DataQuality.distributionDrift(df, "k", col("id") % 2 === 0)
      .orderBy("key").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq ==
      Seq(("x", 2L, 1L, 2L), ("y", 0L, 1L, 2L)))
    // TVD = sum(contrib) / (2*N1*N2) = 4/8 = 0.5: distributions (1,0) vs (.5,.5)
  }

  test("naiveBaselineEval: a perfectly weekly series gives snaive zero " +
    "error, a linear trend makes naive win; totals are exact quantized " +
    "integers and eval days missing a lag drop") {
    val s = spark
    import s.implicits._
    // 21 daily points per key, days 2024-01-01 .. 2024-01-21
    val rows = (0 until 21).flatMap { i =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(i)
      val t = ts(s"$day 12:00:00")
      Seq(("seasonal", t, (i % 7 + 1).toDouble), // period-7 exact repeat
        ("trend", t, i.toDouble))                // +1 per day
    }
    val df = rows.toDF("k", "t", "v")
    val out = TimeSeries
      .naiveBaselineEval(df, "k", "t", "v", season = 7, evalDays = 7)
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    // seasonal, eval days 15..21 (i=14..20): snaive exact (0); naive pays
    // the 7→1 wrap (6) + six +1 steps = 12, ×1e6 quantization
    // trend: naive +1/day ×7 = 7e6; snaive +7/day ×7 = 49e6
    assert(out == Seq(
      ("seasonal", 7L, 12000000L, 0L, true),
      ("trend", 7L, 7000000L, 49000000L, false)))
    // a key with only 5 days has NO eval day with a 7-day lag: no row
    val short = (0 until 5).map { i =>
      val day = java.time.LocalDate.of(2024, 2, 1).plusDays(i)
      ("short", ts(s"$day 12:00:00"), 1.0)
    }.toDF("k", "t", "v")
    assert(TimeSeries.naiveBaselineEval(short, "k", "t", "v", 7, 7)
      .count() == 0L)
  }
}
