package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational
import org.apache.spark.sql.functions.col

/** intervalJoin semantics: exact half-open containment, bin-boundary
  * coverage (an interval spanning bins matches points in every spanned
  * bin), no duplicate pairs, and the no-cartesian plan contract. */
class RelationalOpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  private def pts(ts: Long*) = {
    val s = spark
    import s.implicits._
    ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("pid", "t")
  }

  private def ivs(rows: (Long, Long, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("iid", "lo", "hi")
  }

  test("half-open [lo, hi): lo in, hi out; bin-spanning intervals covered") {
    // binWidth 10; interval 5..25 spans bins 0,1,2
    val out = Relational.intervalJoin(
      pts(4L, 5L, 9L, 10L, 19L, 24L, 25L, 30L), "t",
      ivs((100L, 5L, 25L)), "lo", "hi", binWidth = 10L)
      .select(col("pid"), col("t")).collect().map(_.getLong(1)).toSet
    assert(out == Set(5L, 9L, 10L, 19L, 24L)) // 4 before, 25=hi out, 30 out
  }

  /** j19_pit_features leakage semantics on a constructed events fixture:
    * same-day batch features are INVISIBLE (the nightly-job contract),
    * prior-day features visible, the midnight boundary inclusive (a day
    * that ended exactly AT the label instant is fully computed), and
    * missing history stays NULL — never zero-filled. */
  test("j19_pit_features: same-day clicks invisible, prior-day visible, " +
    "midnight boundary inclusive, missing history null") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("j19fix").toString
    def ts(str: String) = java.sql.Timestamp.valueOf(str)
    // (event_id, user_id, event_type, value, ts)
    Seq(
      // u1: label day2 noon; views 11:00 (before) and 13:00 (after);
      // clicks day1 (3 of them) + day2 10:00 (same day — must not count)
      (1L, 1L, "purchase", 1.0, ts("2024-01-02 12:00:00")),
      (2L, 1L, "view", 5.0, ts("2024-01-02 11:00:00")),
      (3L, 1L, "view", 8.0, ts("2024-01-02 13:00:00")),
      (4L, 1L, "click", 1.1, ts("2024-01-01 01:00:00")),
      (5L, 1L, "click", 2.2, ts("2024-01-01 02:00:00")),
      (6L, 1L, "click", 3.3, ts("2024-01-01 03:00:00")),
      (7L, 1L, "click", 9.9, ts("2024-01-02 10:00:00")),
      // u2: label with NO prior views or clicks anywhere
      (8L, 2L, "purchase", 1.0, ts("2024-01-01 08:00:00")),
      (9L, 2L, "view", 7.0, ts("2024-01-01 09:00:00")),
      // u3: label exactly AT midnight; clicks the previous day — the
      // day ends exactly at the label instant and must be visible
      (10L, 3L, "purchase", 1.0, ts("2024-01-03 00:00:00")),
      (11L, 3L, "click", 4.0, ts("2024-01-02 23:59:59")))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = queries.InventoryQueries2.j19PitFeatures(s, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val u1 = out(1L)
    assert(u1.getDouble(3) == 5.0, "latest at-or-before view wins")
    assert(u1.getLong(4) == 3600L * 1000000L, "staleness in exact us")
    assert(u1.getDate(5).toString == "2024-01-01" &&
      u1.getLong(6) == 3L && u1.getLong(7) == 110L + 220L + 330L,
      s"day-1 clicks only (same-day day-2 click must be invisible): $u1")
    val u2 = out(8L)
    assert(u2.isNullAt(3) && u2.isNullAt(4) && u2.isNullAt(5) &&
      u2.isNullAt(6) && u2.isNullAt(7),
      s"missing history must stay NULL, never zero-filled: $u2")
    val u3 = out(10L)
    assert(u3.getDate(5).toString == "2024-01-02" && u3.getLong(6) == 1L,
      s"a day ending exactly at the label instant is visible: $u3")
  }

  test("each matching (point, interval) pair appears exactly once") {
    val out = Relational.intervalJoin(
      pts(0L, 7L, 13L), "t",
      ivs((1L, 0L, 20L), (2L, 5L, 15L), (3L, 30L, 30L)), "lo", "hi", 7L)
      .select(col("pid"), col("iid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == out.distinct.length)
    // interval 3 is empty (hi <= lo): never matches
    assert(!out.map(_._2).contains(3L))
    assert(out.toSet == Set((0L, 1L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)))
  }

  test("plan is a hash join on the bin — no cartesian, no nested loop") {
    val plan = Relational.intervalJoin(pts(1L, 2L), "t",
      ivs((1L, 0L, 10L)), "lo", "hi", 10L)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("madOutliers: hand-computed medians, MAD, and k-rule flags") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.lit
    // A: values 1,2,3,4,100 -> med 3 (rank 3), devs {2,1,0,1,97} -> mad 1
    //    outliers: dev > 5 -> only 100 (dev 97)
    val a = Seq((1L, "A", 1L), (2L, "A", 2L), (3L, "A", 3L),
      (4L, "A", 4L), (5L, "A", 100L))
    // B: 10,10,10,50 even n -> lower median rank (4+1) DIV 2 = 2 -> med 10
    //    devs {0,0,0,40} -> mad 0 -> ANY deviation flags -> only 50
    val b = Seq((6L, "B", 10L), (7L, "B", 10L), (8L, "B", 10L),
      (9L, "B", 50L))
    val df = (a ++ b).toDF("id", "g", "v")
    val out = Relational.madOutliers(df, "g", "id", col("v") * lit(1L))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (5L, "A", 100L, 3L, 1L, 97L),
      (9L, "B", 50L, 10L, 0L, 40L)))
  }

  test("winsorize: exact rank cutoffs clip both tails, interior untouched") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.lit
    // 10 values 1..10, p = 1/5: lo_rank = ⌈10/5⌉ = 2 → lo_c = 2,
    // hi_rank = 10 − 2 + 1 = 9 → hi_c = 9; clipped: 1→2 and 10→9
    val df = (1L to 10L).map(i => (i, "A", i)).toDF("id", "g", "v")
    val out = Relational.winsorize(df, "g", "id", col("v") * lit(1L), 1L, 5L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6))).sortBy(_._1)
    assert(out.forall { case (_, _, lo, hi, _, _) => lo == 2L && hi == 9L })
    assert(out.head == (1L, 1L, 2L, 9L, 2L, true))
    assert(out.last == (10L, 10L, 2L, 9L, 9L, true))
    assert(out(4) == (5L, 5L, 2L, 9L, 5L, false))
    assert(out.count(_._6) == 2)
  }

  test("winsorize: prefix-sum window runs over the histogram, not data rows") {
    val s = spark
    import s.implicits._
    val df = (1L to 1000L).map(i => (i, "g", i % 5)).toDF("id", "g", "v")
    val plan = Relational.winsorize(df, "g", "id", col("v"), 1L, 20L)
      .queryExecution.optimizedPlan.toString()
    assert(plan.contains("Window"), plan)
    plan.linesIterator.zipWithIndex.filter(_._1.contains("Window")).foreach {
      case (_, i) =>
        val below = plan.linesIterator.drop(i + 1).mkString("\n")
        assert(below.contains("Aggregate"), s"window without histogram:\n$plan")
    }
  }

  test("madOutliers: prefix-sum window runs over the histogram, not data rows") {
    val s = spark
    import s.implicits._
    // 1000 rows but only 3 distinct values: the Window input is the
    // 3-bucket histogram — pin that by checking the plan windows AFTER
    // an aggregate (the histogram groupBy), never directly over the scan
    val df = (1L to 1000L).map(i => (i, "g", i % 3)).toDF("id", "g", "v")
    val plan = Relational.madOutliers(df, "g", "id", col("v"))
      .queryExecution.optimizedPlan.toString()
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, plan)
    // every Window node's subtree must contain an Aggregate (histogram)
    plan.linesIterator.zipWithIndex.filter(_._1.contains("Window")).foreach {
      case (_, i) =>
        val below = plan.linesIterator.drop(i + 1).mkString("\n")
        assert(below.contains("Aggregate"), s"window without histogram:\n$plan")
    }
  }

  test("sessionOverlapPairs failOnCap: a constructed viral bin (4 " +
    "concurrent sessions, C(4,2)=6 > maxPairsPerBin=5) raises loudly " +
    "in-plan; the same data under the default budget returns exact " +
    "overlaps, cross-user only, deduped across shared bins") {
    val s = spark
    import s.implicits._
    val binUs = 3600L * 1000000L
    // users 1-4 all online in bin 0; user 1 has a second session in a
    // quiet bin far away (also spans TWO bins → dedup exercised)
    val sess = Seq(
      (1L, 0L, 0L, 1000L),
      (2L, 0L, 500L, 2000L),
      (3L, 0L, 100L, 400L),
      (4L, 0L, 5000L, 6000L), // same bin, overlaps nobody
      (1L, 1L, 100L * binUs + 10L, 101L * binUs + 10L)
    ).toDF("user_id", "session_no", "s_us", "e_us")
    val hot = Relational.sessionOverlapPairs(sess, binUs,
      maxPairsPerBin = 5L, failOnCap = true)
    val e = intercept[Exception] { hot.collect() }
    assert(e.getMessage.contains("maxPairsPerBin"), e.getMessage)
    val ok = Relational.sessionOverlapPairs(sess, binUs, failOnCap = true)
      .select("user_a", "session_a", "user_b", "session_b", "overlap_us")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // (1,2) overlap [500,1000]=500; (1,3) [100,400]=300; (2,3) touch at
    // nothing... 3 ends 400 < 2 starts 500 → excluded; 4 overlaps none;
    // the two-bin session pairs with nobody (quiet bins) and appears once
    assert(ok == Set((1L, 0L, 2L, 0L, 500L), (1L, 0L, 3L, 0L, 300L)))
    val plan = Relational.sessionOverlapPairs(sess, binUs)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("negative timestamps: truncating DIV is monotone, coverage holds") {
    val out = Relational.intervalJoin(
      pts(-15L, -10L, -6L, -5L, 0L), "t",
      ivs((1L, -12L, -5L)), "lo", "hi", 10L)
      .collect().map(_.getLong(1)).toSet
    assert(out == Set(-10L, -6L))
  }

  test("kmvJaccard: exact under k; banded estimate over k") {
    val s = spark
    import s.implicits._
    // exact regime: |A∪B| = 15 < k → every column exact
    val a1 = (1 to 10).map(i => s"m$i").toDF("k")
    val b1 = (6 to 15).map(i => s"m$i").toDF("k")
    val e1 = Relational.kmvJaccard(
      Relational.kmvBuild(a1, "k", 64),
      Relational.kmvBuild(b1, "k", 64), 64).collect()(0)
    assert(e1.getLong(0) == 15L)       // k_used = exact union size
    assert(e1.getLong(2) == 5L)        // n_common = exact intersection
    assert(e1.getLong(3) == 15L && e1.getLong(4) == 5L)
    // estimate regime: |A∪B| = 150, |A∩B| = 50 (jaccard 1/3), k = 64
    val a2 = (1 to 100).map(i => s"m$i").toDF("k")
    val b2 = (51 to 150).map(i => s"m$i").toDF("k")
    val e2 = Relational.kmvJaccard(
      Relational.kmvBuild(a2, "k", 64),
      Relational.kmvBuild(b2, "k", 64), 64).collect()(0)
    assert(e2.getLong(0) == 64L)
    assert(e2.getLong(3) > 75L && e2.getLong(3) < 300L,
      s"union est ${e2.getLong(3)} for truth 150")
    assert(e2.getLong(4) > 12L && e2.getLong(4) < 150L,
      s"inter est ${e2.getLong(4)} for truth 50")
  }

  test("abLift: hash-parity arms, exact conditional sums, " +
    "cross-multiplied verdict — driver replay") {
    val s = spark
    import s.implicits._
    val P = 1000000007L; val M = 999983L
    def variant(u: Long): Long = {
      val h = u.toString.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
      (h * M % P) * M % P % 2
    }
    val rows = (1L to 12L).flatMap(u =>
      Seq((u, "purchase", 5.0 + u), (u, "view", 1.0)))
    val df = rows.toDF("user_id", "event_type", "value")
    val out = Relational.abLift(df, "user_id",
      col("event_type") === "purchase", "value").collect()(0)
    val byArm = (1L to 12L).groupBy(variant)
    val nA = byArm.getOrElse(0L, Nil).size.toLong
    val nB = byArm.getOrElse(1L, Nil).size.toLong
    assert(nA > 0 && nB > 0, s"fixture must populate both arms: $byArm")
    val qA = byArm.getOrElse(0L, Nil)
      .map(u => math.floor((5.0 + u) * 1e6).toLong).sum
    val qB = byArm.getOrElse(1L, Nil)
      .map(u => math.floor((5.0 + u) * 1e6).toLong).sum
    assert(out.getLong(0) == nA && out.getLong(1) == nB)
    assert(out.getLong(2) == nA && out.getLong(3) == nB) // 1 purchase/user
    assert(out.getLong(4) == qA && out.getLong(5) == qB)
    assert(out.getLong(6) == qA * nB && out.getLong(7) == qB * nA)
    assert(out.getBoolean(8) == (qB * nA > qA * nB))
  }

  test("paretoFrontier2D: dominance edges — same-x lower-y dominated, " +
    "equal-y larger-x dominates, exact (x,y) ties all survive") {
    val s = spark
    import s.implicits._
    // frontier: (5,1), (3,4)×2 [exact tie], (1,6)
    // dominated: (3,2) by (3,4); (2,4) by (3,4) [same y, larger x];
    //            (1,1) by everything; (5,1) survives (max x)
    val df = Seq(
      (1L, 5L, 1L), (2L, 3L, 4L), (3L, 3L, 4L), (4L, 3L, 2L),
      (5L, 2L, 4L), (6L, 1L, 6L), (7L, 1L, 1L)
    ).toDF("id", "x", "y")
    val out = Relational.paretoFrontier2D(df, "x", "y")
      .orderBy(col("id")).collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 2L, 3L, 6L))
  }

  test("kmv: exact under k; merge-of-dailies ≡ whole build; estimate " +
    "lands near truth over k") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.to_date
    // exact regime: 10 distinct < k=64 → the sketch IS the distinct set
    val few = (1 to 10).map(i => s"key$i").toDF("k")
    val est = Relational.kmvEstimate(Relational.kmvBuild(few, "k", 64), 64)
      .collect()(0)
    assert(est.getLong(0) == 10L && est.getLong(2) == 10L)
    // two days with overlapping key sets: span-of-dailies ≡ whole build
    val ev = (1 to 500)
      .map(i => (if (i % 2 == 0) "2024-01-01" else "2024-01-02",
        s"u${i % 300}"))
      .toDF("ds", "k")
      .select(to_date(col("ds")).as("ts"), col("k"))
    val daily = Relational.kmvDailySketches(ev, "ts", "k", 64)
    val merged = Relational.kmvSpan(daily, 64)
      .orderBy("hv").collect().map(_.getLong(0)).toSeq
    val whole = Relational.kmvBuild(ev, "k", 64)
      .orderBy("hv").collect().map(_.getLong(0)).toSeq
    assert(merged == whole)
    assert(merged.length == 64 && merged == merged.sorted &&
      merged.distinct == merged)
    // estimate regime: 300 distinct keys, k=64 → (k−1)·P DIV kth-min
    // should land within a loose 2× band of truth (deterministic hash)
    val e2 = Relational.kmvEstimate(Relational.kmvSpan(daily, 64), 64)
      .collect()(0)
    assert(e2.getLong(0) == 64L)
    assert(e2.getLong(2) > 150L && e2.getLong(2) < 600L,
      s"est ${e2.getLong(2)} for truth 300")
  }

  test("joinViewIncrement: the 3-term increment plus the standing view " +
    "equals a full rejoin — cross terms covered, dangling rows dropped, " +
    "delta sides broadcast") {
    val s = spark
    import s.implicits._
    // facts (fid, k, v): standing 1-3, delta 10-12 (12 references a
    // delta dim, 11 references a MISSING dim — must drop)
    val aOld = Seq((1L, 100L, "a1"), (2L, 100L, "a2"), (3L, 200L, "a3"))
      .toDF("fid", "k", "av")
    val dA = Seq((10L, 200L, "a10"), (11L, 999L, "a11"),
      (12L, 300L, "a12")).toDF("fid", "k", "av")
    // dims (k, bv): standing 100/200, delta 300 plus 400 (no facts —
    // contributes nothing) — and standing fact 3 must NOT re-match
    // anything in the increment (no duplicates)
    val bOld = Seq((100L, "b100"), (200L, "b200")).toDF("k", "bv")
    val dB = Seq((300L, "b300"), (400L, "b400")).toDF("k", "bv")
    val standing = aOld.join(bOld, Seq("k"))
    val maintained = standing.unionByName(
      Relational.joinViewIncrement(aOld, dA, bOld, dB, Seq("k")))
    val full = aOld.union(dA).join(bOld.union(dB), Seq("k"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("fid", "k", "av", "bv").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3))).sortBy(_._1).toSeq
    assert(rows(maintained) == rows(full))
    // the dA⋈dB cross term (fact 12 → dim 300) is present — the row a
    // naive two-term maintenance drops
    assert(rows(maintained).exists(r => r._1 == 12L && r._4 == "b300"))
    assert(!rows(maintained).exists(_._1 == 11L)) // dangling fact dropped
    // scale contract: every increment term broadcasts its delta side
    val p = Relational.joinViewIncrement(aOld, dA, bOld, dB, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"increment must broadcast the deltas:\n$p")
  }
}
