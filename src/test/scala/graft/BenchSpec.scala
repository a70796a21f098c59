package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench.shouldRetime]] — the contention self-defense decision —
  * against the exact blind spot the r10 driver artifact exposed: a query
  * uniformly slow in BOTH passes passes the steady-vs-cold and
  * 1.5×-median triggers and lands in the artifact unchallenged. The
  * cross-round prior ([[Bench.Prior]], decoded from the committed
  * bench_full.json) is the anchor that catches it. */
class BenchSpec extends AnyFunSuite {

  test("r10 blind spot: j12-shaped slowdown (slow in BOTH passes) is " +
    "caught ONLY by the 3x-prior trigger") {
    // the literal r10 driver numbers: cold 25.6, steady 16.7, in-run
    // median ~0.6, committed prior 1.19 — old rule never re-timed it
    val cold = 25.6; val steady = 16.7; val med = 0.6
    assert(!Bench.shouldRetime(cold, steady, med, None),
      "without a prior the old heuristics accept it (the blind spot)")
    assert(Bench.shouldRetime(cold, steady, med, Some(1.19)),
      "3x committed prior must catch it")
  }

  test("in-run trigger fires on steady above BOTH cold and 1.5x the " +
    "median base (max semantics — OR would negate the blind spot above)") {
    assert(Bench.shouldRetime(cold = 1.0, steady = 1.2, medBase = 0.5,
      prior = None), "steady above cold and above 1.5x base")
    assert(Bench.shouldRetime(cold = 2.0, steady = 3.5, medBase = 2.0,
      prior = None), "steady 3.5 > max(2.0, 3.0)")
    // steady below cold is NOT an in-run trigger by itself: that is the
    // j12 shape, which only the prior catches (main loop still grants
    // one extra retry when steady > cold, outside shouldRetime)
    assert(!Bench.shouldRetime(cold = 10.0, steady = 9.0, medBase = 2.0,
      prior = None), "slow in both passes: accepted without a prior")
    assert(!Bench.shouldRetime(cold = 10.0, steady = 2.9, medBase = 2.0,
      prior = None), "within both envelopes: accepted")
  }

  test("prior trigger is an absolute floor, not a substitute: a query " +
    "within 3x its prior but over the in-run envelope still re-times; " +
    "one within every envelope does not") {
    assert(Bench.shouldRetime(cold = 0.4, steady = 0.9, medBase = 0.5,
      prior = Some(0.8)), "in-run trigger independent of prior")
    assert(!Bench.shouldRetime(cold = 1.0, steady = 0.9, medBase = 0.7,
      prior = Some(0.5)), "0.9 < 3x0.5 and below cold: accepted")
  }

  test("stage order: the compact tail line prints BEFORE any incremental/" +
    "scaling leg (a timeout kill mid-scaling still tails into per-query " +
    "data) AND re-emits as the true last line (r11: rc=124 zeroed the " +
    "whole artifact)") {
    val so = Bench.stageOrder
    assert(so.head == "compact_early", so.toString)
    assert(so.indexOf("compact_early") < so.indexOf("incremental"))
    assert(so.indexOf("compact_early") < so.indexOf("scaling"))
    assert(so.last == "compact_final", so.toString)
    // main (the full JSON line / bench_full.json write) stays before the
    // final compact line — the last-line contract of the driver capture
    assert(so.indexOf("main") == so.size - 2)
  }

  test("budget guard: legs run while seconds remain at leg START; the " +
    "rest are dropped BY NAME (loud, never silent), and a zero budget " +
    "drops everything") {
    var clock = 0.0
    val ran = scala.collection.mutable.ListBuffer[String]()
    def leg(name: String, cost: Double) =
      name -> (() => { ran += name; clock += cost; name })
    val legs = Seq(leg("a", 10), leg("b", 10), leg("c", 10))
    val (done, dropped) = Bench.runWithBudget(legs, () => 15.0 - clock)
    assert(done.map(_._1) == Seq("a", "b"), done.toString) // b STARTS at 10<15
    assert(dropped == Seq("c"), dropped.toString)
    assert(ran.toList == List("a", "b"))
    val (d2, drop2) = Bench.runWithBudget(legs, () => 0.0)
    assert(d2.isEmpty && drop2 == Seq("a", "b", "c"))
  }

  test("compact line schema: byte-compatible with the r10 contract on a " +
    "healthy run; dropped_legs appears ONLY when legs were dropped") {
    val slow = Seq("q1" -> 1.5, "q2" -> 0.25)
    val healthy = Bench.compactLine(263, 204.428, slow, Seq.empty)
    assert(healthy ==
      """{"n_queries":263,"steady_total":204.428,"slowest":{"q1":1.500,"q2":0.250}}""",
      healthy)
    val degraded = Bench.compactLine(2, 3.0, slow, Seq("lsh_curve", "trgm_curve"))
    assert(degraded.contains(""""dropped_legs":["lsh_curve","trgm_curve"]"""),
      degraded)
    assert(degraded.endsWith("""}}"""), "slowest stays the closing field")
  }

  test("scaling leg order: newest-evidence-first (r12: the budget drop " +
    "consumed the two newest index families' only independent scaling " +
    "evidence) — corpus writes lead, mining precedes its edge-set " +
    "consumers, legacy absorbers (graph, j12, bm25) close the list") {
    val lo = Bench.scalingLegOrder
    assert(lo.take(2) == Seq("corpus", "corpus_link"), lo.toString)
    // r15: the feature-store curve is the newest evidence — it rides
    // right behind the corpus writes (its own events-only dirs are
    // written inside the leg, each write budget-checked)
    assert(lo.indexOf("pit_curve") == 2, lo.toString)
    // r16: the interval-join family rides the pit dirs, so it must run
    // AFTER pit_curve (which writes them) and stays near the front as
    // the round's newest evidence
    assert(lo.indexOf("intervals_curve") == 3, lo.toString)
    // the two legs the r12 driver run dropped run right after the corpus
    assert(lo.indexOf("trgm_curve") < lo.indexOf("mining"), lo.toString)
    assert(lo.indexOf("lsh_curve") < lo.indexOf("mining"), lo.toString)
    // mining prices the memoized edge set BEFORE perquery
    // (dedup_clusters_incremental) and the graph rows consume it
    assert(lo.indexOf("mining") < lo.indexOf("perquery"), lo.toString)
    assert(lo.indexOf("mining") < lo.indexOf("graph"), lo.toString)
    // dedup_minhash_pairs (perquery) — the r12 contention-cliff question
    // — runs before the expensive linkage legs so a drop never eats it
    assert(lo.indexOf("perquery") < lo.indexOf("linkage_j17"), lo.toString)
    // long-stable legacy rows absorb any drop; the spill probe closes
    // the list (r16): it deliberately saturates execution memory, so
    // running it LAST means it cannot contaminate any law leg, and a
    // budget drop costs a diagnostic, never a law
    assert(lo.takeRight(4) == Seq("graph", "linkage_j12", "bm25_curve",
      "spill_probe"), lo.toString)
  }

  test("bench_exempt contrast arms: every exempt query stays GRADED " +
    "(still in SparkEntry.queries with an oracleSql twin), its timed " +
    "replacement evidence exists (sampled twin / scaling leg), and the " +
    "sampled arms themselves are never exempt") {
    val ex = Bench.benchExempt
    assert(ex == Set("eval_neardup_pr", "eval_snm_recall",
      "j14_entity_dual"), ex.toString)
    ex.foreach { q =>
      assert(SparkEntry.queries.contains(q), s"$q dropped from grading")
      assert(SparkEntry.oracleSql.contains(q), s"$q lost its oracle twin")
    }
    // the timed replacements: sampled twins stay in the timed pass...
    Seq("eval_neardup_pr_sampled", "eval_snm_recall_sampled").foreach { q =>
      assert(SparkEntry.queries.contains(q) && !ex(q), q)
    }
    // ...and the j14-vs-j17 law comparison stays in the scaling block
    assert(Bench.scalingLegOrder.contains("linkage_j14"),
      "exempting j14 steady must not retire its scaling leg")
    assert(Bench.scalingLegOrder.contains("linkage_j17"))
  }

  test("ShuffleTally: a shuffling job accrues write bytes; a narrow job " +
    "accrues none (the load-immune volume twin the scaling rows emit " +
    "as <row>_shuf_mb)") {
    val spark = LocalSession(2)
    import spark.implicits._
    val tally = new Bench.ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    (1 to 10000).toDF("x")
      .groupBy((org.apache.spark.sql.functions.col("x") % 7).as("k"))
      .count().collect()
    val afterShuffle = tally.drain()
    assert(afterShuffle > 0L, "a groupBy must write shuffle bytes")
    (1 to 1000).toDF("y")
      .select(org.apache.spark.sql.functions.col("y") * 2).collect()
    assert(tally.drain() == afterShuffle,
      "a narrow map job must not move the shuffle tally")
    assert(tally.spilled.get() == 0L,
      "tiny in-memory jobs must not spill (the artifact's spill_mb field)")
    // r16 (steady_shuf_mb map): volume is the load-immune per-query
    // signal precisely because the SAME plan over the SAME data writes
    // the SAME bytes — pin that determinism at the tally level: two
    // runs of one shuffling query produce byte-identical drained
    // deltas. The frame is REBUILT per run (a def, exactly like the
    // bench re-invoking the registered query fn): re-collecting one
    // DataFrame instance would skip the map stage off its still-live
    // shuffle files and measure 0.
    def q = (1 to 20000).toDF("x")
      .groupBy((org.apache.spark.sql.functions.col("x") % 97).as("k"))
      .agg(org.apache.spark.sql.functions.sum("x"))
    val base = tally.drain()
    q.collect()
    val d1 = tally.drain() - base
    q.collect()
    val d2 = tally.drain() - base - d1
    assert(d1 > 0L, "the volume query must shuffle")
    assert(d1 == d2,
      s"same plan + same data must shuffle identical bytes: $d1 vs $d2")
  }

  /** The committed run of record, decoded exactly as Bench.main reads it. */
  private lazy val prior: Bench.Prior = Bench.Prior.read("bench_full.json").get

  test("Prior.scaling is the committed scaling block (artifact of " +
    "record, full curve incl. the corpus-write rows): every timing row " +
    "keeps its x-keys; the minhash-cliff anchor present") {
    val sc = prior.scaling
    val x4 = Seq("x1", "x4"); val x10 = x4 :+ "x10"; val x20 = x4 :+ "x20"
    // every row a scaling retry looks up by the name of a point it times.
    // Anchored curves: the interval family (w19; j18 through x4), the
    // feature-store curve with its corpus-write row (r15), the corpus
    // writes (r13), and the two legs missing from the r12 DRIVER artifact
    // (search_substring_indexed_serve, lsh_rebuild). Linkage: j17 (the
    // linear-law production arm) carries the x10 top scale; j14 and j12
    // (the quadratic and single-pass contrast arms) top out at x4.
    val timing = Map(
      "scale_corpus_write" -> x20, "scale_corpus_write_link" -> Seq("x10"),
      "scale_corpus_write_pit" -> x10, "j19_pit_features" -> x10,
      "w19_peak_concurrency" -> x10, "j18_session_overlap" -> x4,
      "search_substring_indexed_build" -> x20,
      "search_substring_indexed_serve" -> x20,
      "lsh_rebuild" -> x20, "lsh_append_1pct" -> x20,
      "dup_edge_mining" -> x20, "dedup_minhash_pairs" -> x20,
      "dedup_clusters_incremental" -> x20, "sim_ivf_topk" -> x20,
      "corpus_build" -> x20, "j17_entity_symdel" -> x10,
      "j14_entity_dual" -> x4, "dedup_clusters" -> x20,
      "graph_pagerank" -> x20, "graph_lpa" -> x20,
      "graph_bfs_hops" -> x20, "graph_kcore" -> x20,
      "j12_entity_resolve" -> x4, "search_bm25_indexed_build" -> x20,
      "search_bm25_indexed_serve" -> x20)
    assert(timing.size == 25)
    timing.foreach { case (row, xs) =>
      assert(sc.contains(row) && xs.forall(sc(row).contains),
        s"$row: ${sc.get(row)} lacks some of $xs")
    }
    // j18 reaches x10 in code that also emits its `_true_pairs` twin
    // (r18): a run of record from such code must carry the x10 anchor,
    // and one from older code carries neither
    assert(sc.contains("j18_session_overlap_true_pairs") ==
      sc("j18_session_overlap").contains("x10"),
      "j18 x10 anchor and its _true_pairs twin come from the same leg")
    // the r12-cliff property: the contended driver number (50.268 s)
    // must trip the 3x trigger against any clean-box committed anchor
    val mh = sc("dedup_minhash_pairs")("x20")
    assert(mh > 1.0 && mh < 12.0 && 50.268 > 3.0 * mh, mh.toString)
    // j14's x10 point (60.4 s committed / 88.8 s driver, the single
    // priciest bench row) and j12's x20 point (the block's second
    // priciest) stay retired: both laws are visible at x4
    assert(!sc("j14_entity_dual").contains("x10"),
      "the j14 x10 point must stay retired (budget insurance)")
    assert(!sc("j12_entity_resolve").contains("x20"),
      "the j12 x20 point must stay retired (budget insurance)")
  }

  test("Prior.steady is the committed run of record's steady map: " +
    "exactly the graded queries minus the bench-exempt contrast arms, " +
    "median in the committed envelope, j12 prior present") {
    assert(prior.sfDir == "/root/testdata/sf0.1",
      "measured on Bench's default SF dir, else the prior never applies")
    // exempt arms must not anchor a retime trigger they never run
    val timed = SparkEntry.queries.keySet -- Bench.benchExempt
    assert(prior.steady.keySet == timed,
      s"missing ${timed -- prior.steady.keySet}, extra ${prior.steady.keySet -- timed}")
    assert(prior.median > 0.1 && prior.median < 2.0, prior.median.toString)
    assert(prior.steady.contains("j12_entity_resolve"))
    // the anchor property: median base can only tighten, never loosen,
    // the trigger vs a load-inflated in-run median
    val inflatedMed = prior.median * 1.23 // r10's observed multiplier
    assert(math.max(inflatedMed, prior.median) == inflatedMed &&
      math.max(0.1, prior.median) == prior.median)
  }

  test("Prior.read: a missing file is None (no prior, in-run triggers " +
    "only); a file that exists but lacks a field fails instead of " +
    "silently disarming the prior; integer seconds decode as doubles") {
    assert(Bench.Prior.read("no_such_dir/bench_full.json").isEmpty)
    val f = java.nio.file.Files.createTempFile("prior", ".json")
    try {
      def write(s: String) = java.nio.file.Files.writeString(f, s)
      write("""{"sf":"d","scaling":{}}""")
      intercept[IllegalArgumentException](Bench.Prior.read(f.toString))
      write("""{"sf":"d","steady":{"a":1,"b":2.5,"c":0.5},""" +
        """"scaling":{"r":{"x1":3}}}""")
      val p = Bench.Prior.read(f.toString).get
      assert(p == Bench.Prior("d", Map("a" -> 1.0, "b" -> 2.5, "c" -> 0.5),
        Map("r" -> Map("x1" -> 3.0))), p.toString)
      assert(p.median == 1.0)
    } finally java.nio.file.Files.delete(f)
  }

  test("timeAll: a query that throws is returned as failed (the main " +
    "line's bench_failed list), gets no timing row and adds nothing to " +
    "steady_total; the queries around it are timed in order") {
    val spark = LocalSession(2)
    val queries: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ok_a" -> (() => spark.range(10).toDF()),
      "boom" -> (() => spark.range(1).selectExpr("raise_error('injected') AS x")),
      "ok_b" -> (() => spark.range(5).toDF()))
    val timedNames = scala.collection.mutable.ListBuffer[String]()
    val (timed, failed) = Bench.timeAll(queries) { (name, q) =>
      q().write.format("noop").mode("overwrite").save()
      timedNames += name
      1.0
    }
    assert(failed == Seq("boom"))
    assert(timed == Seq("ok_a" -> 1.0, "ok_b" -> 1.0))
    assert(timedNames.toList == List("ok_a", "ok_b"), "the failure was timed")
    assert(timed.map(_._2).sum == 2.0)
  }

  test("writeMainLine: a write that fails is named on stderr and does not " +
    "throw; a write that succeeds lands the line") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_out")
    val blocker = java.nio.file.Files.createFile(dir.resolve("not_a_dir"))
    val bad = blocker.resolve("bench_full.json").toString
    val captured = new java.io.ByteArrayOutputStream()
    val err0 = System.err
    System.setErr(new java.io.PrintStream(captured, true, "UTF-8"))
    try Bench.writeMainLine(bad, "{}")
    finally System.setErr(err0)
    val msg = captured.toString("UTF-8")
    assert(msg.contains(s"[bench] could not write $bad: "), msg)
    val good = dir.resolve("bench_full.json")
    Bench.writeMainLine(good.toString, """{"metric":"total"}""")
    assert(new String(java.nio.file.Files.readAllBytes(good), "UTF-8") ==
      """{"metric":"total"}""")
  }

  test("retime: at most two retries, the trigger sees the best so far, " +
    "it stops once the trigger is false, and every observation returns") {
    // fake clock: each re-run returns the next scripted time
    def run(times: Double*)(trigger: Double => Boolean) = {
      val clock = times.iterator
      val seen = scala.collection.mutable.ListBuffer[Double]()
      val obs = Bench.retime(10.0, () => clock.next()) { t => seen += t; trigger(t) }
      (obs, seen.toList)
    }
    val (capped, seen) = run(12.0, 11.0, 1.0)(_ => true)
    assert(capped == Seq(10.0, 12.0, 11.0) && capped.min == 10.0, capped)
    assert(seen == List(10.0, 10.0), "trigger reads the minimum, not the last")
    val (stopped, _) = run(4.0, 1.0)(_ > 5.0)
    assert(stopped == Seq(10.0, 4.0) && stopped.min == 4.0, stopped)
    val (quiet, _) = run(1.0)(_ => false)
    assert(quiet == Seq(10.0), quiet)
  }
}
