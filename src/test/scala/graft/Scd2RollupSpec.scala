package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

/** SCD Type-2 interval-build and incremental-rollup-maintenance semantics
  * on planted fixtures. */
class Scd2RollupSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  private def ts(s: String) = Timestamp.valueOf(s)

  test("scd2: consecutive same-state rows collapse; intervals chain; last is current") {
    val s = spark
    import s.implicits._
    val log = Seq(
      (1L, "A", ts("2024-01-01 00:00:00"), 10L),
      (1L, "A", ts("2024-01-02 00:00:00"), 11L), // no change — collapsed
      (1L, "B", ts("2024-01-03 00:00:00"), 12L),
      (1L, "B", ts("2024-01-04 00:00:00"), 13L), // no change
      (1L, "A", ts("2024-01-05 00:00:00"), 14L),
      (2L, "X", ts("2024-01-01 12:00:00"), 15L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val out = Relational.scd2(log, Seq("user_id"), "event_type", "ts", "event_id")
      .orderBy("user_id", "valid_from").collect()
    val u1 = out.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getString(1)).toSeq == Seq("A", "B", "A"))
    // each interval closes at the next change's open
    assert(u1(0).getTimestamp(3) == u1(1).getTimestamp(2))
    assert(u1(1).getTimestamp(3) == u1(2).getTimestamp(2))
    assert(u1(2).isNullAt(3) && u1(2).getBoolean(5), "open interval is current")
    assert(!u1(0).getBoolean(5) && !u1(1).getBoolean(5))
    // the collapsed A-run keeps the FIRST row's open ts and change id
    assert(u1(0).getTimestamp(2) == ts("2024-01-01 00:00:00") && u1(0).getLong(4) == 10L)
    // single-state key: one current interval
    val u2 = out.filter(_.getLong(0) == 2L)
    assert(u2.length == 1 && u2(0).isNullAt(3) && u2(0).getBoolean(5))
  }

  test("scd2: equal-timestamp changes stay deterministic via the tie column") {
    val s = spark
    import s.implicits._
    val t = ts("2024-01-01 00:00:00")
    val log = Seq(
      (1L, "A", t, 1L), (1L, "B", t, 2L), (1L, "A", t, 3L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val out = Relational.scd2(log, Seq("user_id"), "event_type", "ts", "event_id")
      .orderBy("change_id").collect()
    assert(out.map(r => (r.getString(1), r.getLong(4))).toSeq ==
      Seq(("A", 1L), ("B", 2L), ("A", 3L)))
    assert(out.count(_.getBoolean(5)) == 1, "exactly one current interval")
  }

  test("scd2 equals an in-memory reference on seeded random change logs") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(3, 11, 99)) {
      val rnd = new scala.util.Random(seed)
      val states = Vector("A", "B", "C")
      val log = (0 until 300).map { i =>
        (rnd.nextInt(5).toLong,                      // key
          states(rnd.nextInt(3)),                    // state
          ts(f"2024-01-${1 + rnd.nextInt(28)}%02d 00:00:00"), // ts (ties likely)
          i.toLong)                                  // unique tie column
      }
      val df = log.toDF("user_id", "event_type", "ts", "event_id")
      val got = Relational.scd2(df, Seq("user_id"), "event_type", "ts", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
          Option(r.getTimestamp(3)), r.getLong(4), r.getBoolean(5))).toSet
      // reference: sort per key by (ts, event_id), collapse runs, chain intervals
      val expected = log.groupBy(_._1).flatMap { case (k, rows) =>
        val sorted = rows.sortBy(r => (r._3.getTime, r._4))
        val changes = sorted.foldLeft(Vector.empty[(String, Timestamp, Long)]) {
          case (acc, (_, st, t, id)) =>
            if (acc.nonEmpty && acc.last._1 == st) acc else acc :+ ((st, t, id))
        }
        changes.zipWithIndex.map { case ((st, t, id), i) =>
          val next = if (i + 1 < changes.length) Some(changes(i + 1)._2) else None
          (k, st, t, next, id, next.isEmpty)
        }
      }.toSet
      assert(got == expected, s"seed $seed")
    }
  }

  test("rollup maintenance: merge(partial(old), partial(delta)) ≡ partial(all) exactly") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (ts("2024-01-01 05:00:00"), "click", 1.11),
      (ts("2024-01-01 06:00:00"), "view", 2.22),
      (ts("2024-01-02 07:00:00"), "click", 3.33),
      (ts("2024-01-02 08:00:00"), "click", 4.44),
      (ts("2024-01-03 09:00:00"), "view", 5.55)
    ).toDF("ts", "event_type", "value")
    val cutoff = lit("2024-01-02 00:00:00").cast("timestamp")
    val merged = Relational.rollupMerge(
      Relational.rollupPartial(ev.filter(col("ts") < cutoff), "ts", "event_type", "value"),
      Relational.rollupPartial(ev.filter(col("ts") >= cutoff), "ts", "event_type", "value"))
    val full = Relational.rollupPartial(ev, "ts", "event_type", "value")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getDate(0).toString, r.getString(1), r.getLong(2),
        r.getDecimal(3).toPlainString)
    assert(merged.collect().map(key).toSet == full.collect().map(key).toSet)
    // a day entirely on one side of the cutoff survives the merge untouched
    assert(merged.filter(col("day") === "2024-01-03").count() == 1)
  }

  test("rollup maintenance: a column-reordered delta partial still groups by the type column") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (ts("2024-01-01 05:00:00"), "click", 1.0),
      (ts("2024-01-01 06:00:00"), "view", 2.0)
    ).toDF("ts", "event_type", "value")
    val standing = Relational.rollupPartial(ev, "ts", "event_type", "value")
    // same rows, scrambled column order — unionByName tolerates it, so the
    // merge's grouping must resolve the type column by NAME, not position
    val reordered = standing.select(col("sum_dec"), col("day"),
      col("n_events"), col("event_type"))
    val merged = Relational.rollupMerge(standing, reordered)
      .orderBy(col("day"), col("event_type")).collect()
    assert(merged.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("click", 2L), ("view", 2L)))
  }

  test("HLL lifecycle: union of stored daily sketches estimates EXACTLY like one whole-span build") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val ev = (0 until 3000).map { i =>
      (ts(f"2024-01-${1 + i % 7}%02d 0${i % 9}:00:00"), s"user_${rnd.nextInt(400)}")
    }.toDF("ts", "uid")
    val daily = Relational.hllDailySketches(ev, "ts", "uid")
    assert(daily.count() == 7)
    // store + read back: sketches are portable bytes
    val dir = java.nio.file.Files.createTempDirectory("graft_hll").toString
    daily.write.mode("overwrite").parquet(dir)
    val merged = Relational.hllSpanEstimate(s.read.parquet(dir)).collect()(0)
    val whole = ev.select(lit(java.sql.Date.valueOf("2024-01-01")).as("day"), col("uid"))
      .groupBy(col("day")).agg(hll_sketch_agg(col("uid")).as("sketch"))
    val wholeEst = Relational.hllSpanEstimate(whole).collect()(0)
    assert(merged.getLong(0) == 7L)
    // register-max merge ⇒ identical registers ⇒ identical estimate
    assert(merged.getLong(1) == wholeEst.getLong(1),
      s"union-of-days ${merged.getLong(1)} != whole-span ${wholeEst.getLong(1)}")
    // and the estimate is close to the truth (HLL's actual contract)
    val exact = ev.select(col("uid")).distinct().count()
    assert(math.abs(merged.getLong(1) - exact).toDouble / exact < 0.05,
      s"estimate ${merged.getLong(1)} vs exact $exact drifted > 5%")
  }

  test("rollup maintenance: merging an empty delta is the identity") {
    val s = spark
    import s.implicits._
    val ev = Seq((ts("2024-01-01 05:00:00"), "click", 1.0))
      .toDF("ts", "event_type", "value")
    val standing = Relational.rollupPartial(ev, "ts", "event_type", "value")
    val merged = Relational.rollupMerge(standing, standing.filter(lit(false)))
    assert(merged.collect().toSeq == standing.collect().toSeq)
  }

  test("CMS lifecycle: merge of partials ≡ whole build bitwise; est ≥ true; collisions only inflate") {
    val s = spark
    import s.implicits._
    // zipf-ish corpus: key k_i appears 50/i times — a real frequency skew
    val rows = (1 to 20).flatMap(i => Seq.fill(50 / i)(s"k$i"))
    val df = rows.toDF("k")
    val (d, w) = (3, 8) // width 8 << 20 keys: collisions guaranteed
    val whole = Relational.cmsBuild(df, "k", d, w)
    // split the corpus arbitrarily (alternating rows — both halves carry
    // duplicates of the same keys), build partials, merge: cell-for-cell
    // identical to the whole build (integer sums are associative)
    val (evens, odds) = rows.zipWithIndex.partition(_._2 % 2 == 0)
    val parts = Relational.cmsMerge(
      Relational.cmsBuild(evens.map(_._1).toDF("k"), "k", d, w),
      Relational.cmsBuild(odds.map(_._1).toDF("k"), "k", d, w))
    val cells = (x: org.apache.spark.sql.DataFrame) =>
      x.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val truth = df.groupBy(col("k")).agg(count(lit(1)).as("true_cnt"))
    val est = Relational.cmsEstimate(whole, truth.select("k"), "k", d, w)
      .join(truth, "k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(est.nonEmpty && est.forall { case (_, e, t) => e >= t },
      s"CMS must never under-count: $est")
    assert(est.exists { case (_, e, t) => e > t },
      "width 8 over 20 keys must collide somewhere — no overcount seen")
    // never-seen keys estimate 0 only if all their cells are empty; at
    // width 8 they collide into occupied cells — still ≥ 0 and bounded
    val ghost = Relational.cmsEstimate(whole, Seq("zzz").toDF("k"), "k", d, w)
      .collect()(0).getLong(1)
    assert(ghost >= 0L && ghost <= rows.length)
    // the merge identity, bitwise on cells
    assert(cells(whole) == cells(parts))
  }

  test("CMS stored lifecycle: daily partials committed + appended re-aggregate to the whole build bitwise; spans answer from stored rows") {
    val s = spark
    import s.implicits._
    import graft.sources.PartitionedStore
    val (d, w) = (3, 8)
    val ev = Seq(
      (ts("2024-01-01 01:00:00"), "a"), (ts("2024-01-01 02:00:00"), "b"),
      (ts("2024-01-01 03:00:00"), "a"), (ts("2024-01-02 01:00:00"), "a"),
      (ts("2024-01-02 02:00:00"), "c"), (ts("2024-01-03 01:00:00"), "b"),
      (ts("2024-01-03 02:00:00"), "b"), (ts("2024-01-03 03:00:00"), "d"))
      .toDF("ts", "k")
    val daily = Relational.cmsDailySketches(ev, "ts", "k", d, w)
    // nightly shape: days 1-2 standing, day 3 appended as the delta
    val path = java.nio.file.Files.createTempDirectory("cms_store").toString
    val day3 = java.sql.Date.valueOf("2024-01-03")
    val v1 = PartitionedStore.commitVersion(
      daily.filter(col("day") < lit(day3)), path)
    PartitionedStore.commitVersion(daily.filter(col("day") === lit(day3)),
      path, append = true, parent = Some(v1))
    val cells = (x: org.apache.spark.sql.DataFrame) =>
      x.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // stored + re-aggregated ≡ one build over the whole corpus, bitwise
    val served = Relational.cmsSpan(PartitionedStore.readVersion(s, path))
    assert(cells(served) == cells(Relational.cmsBuild(ev, "k", d, w)))
    // a day-span query re-aggregates ONLY stored rows — equal to a build
    // over just those days' facts, with no fact re-read
    val span12 = Relational.cmsSpan(PartitionedStore.readVersion(s, path)
      .filter(col("day") < lit(day3)))
    assert(cells(span12) == cells(Relational.cmsBuild(
      ev.filter(to_date(col("ts")) < lit(day3)), "k", d, w)))
    // time travel: version 1 serves the pre-append standing sketch
    assert(cells(Relational.cmsSpan(
      PartitionedStore.readVersion(s, path, Some(v1)))) == cells(span12))
  }

  test("quantile histogram sketch: crossing selection exact on a " +
    "hand-computed frame; negative values raise") {
    val s = spark
    import s.implicits._
    // key a: cents [100,200,300,400] — n=4; p50 rank 2 → 200,
    // p95 rank ceil(3.8)=4 → 400, p99 rank 4 → 400.
    // key b: cents [500]×3 — all percentiles 500.
    val hist = Seq(
      ("a", 100L, 1L), ("a", 200L, 1L), ("a", 300L, 1L), ("a", 400L, 1L),
      ("b", 500L, 3L)
    ).toDF("key", "qc", "cnt")
    val got = Relational.quantileServe(hist,
        Seq(("p50_c", 50L, 100L), ("p95_c", 95L, 100L),
          ("p99_c", 99L, 100L)))
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("a", 4L, 200L, 400L, 400L),
      ("b", 3L, 500L, 500L, 500L)))
    val ev = Seq((ts("2024-01-01 01:00:00"), "k", -1.0))
      .toDF("ts", "key", "value")
    val e = intercept[Exception] {
      Relational.quantileDailySketches(ev, "ts", "key", "value").collect()
    }
    assert(e.getMessage.contains("negative value"), e.getMessage)
  }

  test("quantileServe: crossing selection == naive expanded-rank " +
    "reference on seeded random histograms (incl. ties and p100)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val ps = Seq(("p25", 25L, 100L), ("p50", 50L, 100L),
      ("p75", 75L, 100L), ("p100", 100L, 100L))
    (0 until 10).foreach { _ =>
      val rows = (0 until (1 + rnd.nextInt(4))).flatMap { k =>
        (0 until (1 + rnd.nextInt(8))).map(_ =>
          (s"k$k", rnd.nextInt(20).toLong, 1L + rnd.nextInt(5)))
      }
      val hist = rows.toDF("key", "qc", "cnt")
        .groupBy("key", "qc").agg(sum("cnt").as("cnt"))
      val got = Relational.quantileServe(hist, ps).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      rows.groupBy(_._1).foreach { case (k, rs) =>
        val expanded = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
          .toSeq.flatMap { case (qc, c) => Seq.fill(c.toInt)(qc) }.sorted
        val n = expanded.size.toLong
        def q(num: Long, den: Long): Long =
          expanded(((n * num + den - 1) / den - 1).toInt)
        val (gn, p25, p50, p75, p100) = got(k)
        assert(gn == n && p25 == q(25, 100) && p50 == q(50, 100) &&
          p75 == q(75, 100) && p100 == expanded.last,
          s"key $k: got ${got(k)} vs naive ranks over $expanded")
      }
    }
  }

  test("quantile sketch stored lifecycle: daily histograms committed + " +
    "appended re-aggregate to the whole build; spans answer from stored " +
    "rows; time travel") {
    val s = spark
    import s.implicits._
    import graft.sources.PartitionedStore
    val ev = Seq(
      (ts("2024-01-01 01:00:00"), "a", 1.00), (ts("2024-01-01 02:00:00"), "a", 2.00),
      (ts("2024-01-01 03:00:00"), "b", 9.00), (ts("2024-01-02 01:00:00"), "a", 3.00),
      (ts("2024-01-02 02:00:00"), "a", 2.00), (ts("2024-01-03 01:00:00"), "a", 50.0),
      (ts("2024-01-03 02:00:00"), "b", 9.00), (ts("2024-01-03 03:00:00"), "b", 1.00)
    ).toDF("ts", "key", "value")
    val daily = Relational.quantileDailySketches(ev, "ts", "key", "value")
    val path = java.nio.file.Files.createTempDirectory("qh_store").toString
    val day3 = java.sql.Date.valueOf("2024-01-03")
    val v1 = PartitionedStore.commitVersion(
      daily.filter(col("day") < lit(day3)), path)
    PartitionedStore.commitVersion(daily.filter(col("day") === lit(day3)),
      path, append = true, parent = Some(v1))
    val ps = Seq(("p50_c", 50L, 100L), ("p95_c", 95L, 100L))
    val rows = (x: org.apache.spark.sql.DataFrame) =>
      x.orderBy("key").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    // stored + re-aggregated ≡ one build over the whole corpus
    val whole = Relational.quantileServe(Relational.quantileSpan(
      PartitionedStore.readVersion(s, path)), ps)
    val direct = Relational.quantileServe(Relational.quantileSpan(
      Relational.quantileDailySketches(ev, "ts", "key", "value")), ps)
    assert(rows(whole) == rows(direct))
    // hand-check the merged answer: a = [100,200,200,300,5000],
    // p50 rank 3 → 200, p95 rank 5 → 5000; b = [100,900,900] → 900, 900
    assert(rows(whole) == Seq(("a", 5L, 200L, 5000L), ("b", 3L, 900L, 900L)))
    // a day-span query re-aggregates ONLY stored rows ≡ a build over
    // just those days' facts
    val span12 = Relational.quantileServe(Relational.quantileSpan(
      PartitionedStore.readVersion(s, path).filter(col("day") < lit(day3))), ps)
    val facts12 = Relational.quantileServe(Relational.quantileSpan(
      Relational.quantileDailySketches(
        ev.filter(to_date(col("ts")) < lit(day3)), "ts", "key", "value")), ps)
    assert(rows(span12) == rows(facts12))
    // time travel: version 1 serves the pre-append standing histogram
    assert(rows(Relational.quantileServe(Relational.quantileSpan(
      PartitionedStore.readVersion(s, path, Some(v1))), ps)) == rows(span12))
  }
}
