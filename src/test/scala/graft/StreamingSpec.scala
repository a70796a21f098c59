package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.operators.Dedup

/** Structured Streaming semantics with MemoryStream fixtures: T1 dedup
  * within watermark, T3 foreachBatch latest-1 push, A5 sliding counts,
  * T7 backoff state machine. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  case class Point(name: String, time: Timestamp, price: Double)

  test("T1 deltaAppendDedup: duplicate (key, ts) dropped across batches within watermark") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Point]
    val q = Streams.deltaAppendDedup(in.toDF(), "name", "time", "10 minutes")
      .writeStream.format("memory").queryName("t1_out").outputMode("append").start()
    in.addData(Point("a", ts("2024-01-01 00:00:00"), 1.0),
               Point("a", ts("2024-01-01 00:01:00"), 2.0))
    q.processAllAvailable()
    in.addData(Point("a", ts("2024-01-01 00:01:00"), 2.0), // dup within watermark
               Point("a", ts("2024-01-01 00:02:00"), 3.0))
    q.processAllAvailable()
    val out = s.table("t1_out").collect()
    q.stop()
    assert(out.length == 3) // the re-sent 00:01 point was suppressed
  }

  test("observeQuality: per-micro-batch ingest metrics ride the existing pass") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Point]
    val observed = Streams.observeQuality(
      in.toDF().select(
        when(col("name") === "nullkey", lit(null).cast("string"))
          .otherwise(col("name")).as("name"),
        col("time"), col("price")),
      "name", "time", "price", ts("2024-01-01 00:00:00"))
    val q = observed.writeStream.format("memory")
      .queryName("obs_out").outputMode("append").start()
    in.addData(
      Point("a", ts("2024-01-01 00:05:00"), 3.5),
      Point("nullkey", ts("2024-01-01 00:06:00"), 9.0),
      Point("b", ts("2023-12-31 23:00:00"), 1.25))   // late vs the cutoff
    q.processAllAvailable()
    val m = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("ingest_quality"))).last
    q.stop()
    assert(m.getAs[Long]("n_rows") == 3)
    assert(m.getAs[Long]("n_null_key") == 1)
    assert(m.getAs[Long]("n_late") == 1)
    assert(m.getAs[Double]("val_min") == 1.25 && m.getAs[Double]("val_max") == 9.0)
    // the observed frame itself is untouched — all rows flow through
    assert(s.table("obs_out").count() == 3)
  }

  test("stateful dedup runs on the RocksDB state store (the production backend)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Point]
    // the stream captures the provider conf at start
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = Streams.deltaAppendDedup(in.toDF(), "name", "time", "10 minutes")
      .writeStream.format("memory").queryName("rocks_out").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("rocks_ckpt").toString)
      .start()
    try {
      in.addData(Point("a", ts("2024-01-01 00:00:00"), 1.0),
                 Point("a", ts("2024-01-01 00:00:00"), 1.0)) // in-batch dup
      q.processAllAvailable()
      in.addData(Point("a", ts("2024-01-01 00:00:00"), 1.0)) // cross-batch dup
      q.processAllAvailable()
      assert(s.table("rocks_out").count() == 1,
        "dedup state must persist across micro-batches on RocksDB")
    } finally {
      q.stop()
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("idempotentSink: a replayed batch id writes once; distinct ids write each") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ledger = java.nio.file.Files.createTempDirectory("ledger").toString
    var writes = 0
    // the commitOnce seam is what makes the replay safe — exercise it directly
    assert(Streams.commitOnce(ledger, 7L) { writes += 1 })
    assert(!Streams.commitOnce(ledger, 7L) { writes += 1 }, "replay of batch 7 must skip")
    assert(Streams.commitOnce(ledger, 8L) { writes += 1 })
    assert(writes == 2)
    // a failed action leaves no marker — the retry runs it
    intercept[RuntimeException] {
      Streams.commitOnce(ledger, 9L) { throw new RuntimeException("boom") }
    }
    assert(Streams.commitOnce(ledger, 9L) { writes += 1 }, "retry after failure must run")
    assert(writes == 3)
    // and the streaming path drives it per micro-batch
    val in = MemoryStream[Point]
    val sunk = scala.collection.mutable.ArrayBuffer[Long]()
    in.addData(Point("a", ts("2024-01-01 00:00:00"), 1.0))
    val q = Streams.idempotentSink(in.toDF(), ledger,
        Trigger.AvailableNow()) { (batch, id) => sunk.synchronized { sunk += id } }
    q.processAllAvailable(); q.stop()
    assert(sunk.nonEmpty && sunk.distinct.length == sunk.length)
  }

  case class Quote(name: String, qtime: Timestamp, quote: Double)

  case class Arriving(doc_id: Long, text: String)

  test("semanticIngestHits: arriving near-dup flags against static corpus, fresh doc passes silent") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((100L, base)).toDF("doc_id", "text")
      .select(col("doc_id").as("corpus_id"),
        graft.operators.TextAnalysis.hashEmbed(col("text"), 32).as("corpus_emb"))
    val in = MemoryStream[Arriving]
    val q = Streams.semanticIngestHits(in.toDF(), corpus,
        "doc_id", "text", d = 32, tau = 0.9)
      .writeStream.format("memory").queryName("sem_hits").outputMode("append").start()
    in.addData(
      Arriving(1L, base + " tail"),  // near-dup of corpus 100
      Arriving(2L, "fresh unrelated prose about columnar formats and shuffles"))
    q.processAllAvailable()
    val hits = s.table("sem_hits")
      .select("doc_id", "corpus_id").as[(Long, Long)].collect().toSet
    q.stop()
    assert(hits == Set((1L, 100L)))
  }

  test("enrichJoin: event pairs with in-interval quotes of its key only") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ev = MemoryStream[Point]
    val qu = MemoryStream[Quote]
    val q = Streams.enrichJoin(ev.toDF(), qu.toDF(), "name",
        "time", "qtime", lateness = "10 minutes", maxAge = "10 minutes")
      .writeStream.format("memory").queryName("enrich_out").outputMode("append").start()
    qu.addData(
      Quote("a", ts("2024-01-01 00:00:00"), 10.0),  // in-window for the event
      Quote("a", ts("2024-01-01 00:04:00"), 11.0),  // in-window
      Quote("a", ts("2023-12-31 23:50:00"), 9.0),   // too old (> maxAge before)
      Quote("b", ts("2024-01-01 00:04:00"), 99.0))  // wrong key
    ev.addData(
      Point("a", ts("2024-01-01 00:05:00"), 1.0),
      Point("c", ts("2024-01-01 00:05:00"), 2.0))   // no quotes → inner-dropped
    q.processAllAvailable()
    val out = s.table("enrich_out")
      .select("name", "quote").as[(String, Double)].collect().toSet
    q.stop()
    assert(out == Set(("a", 10.0), ("a", 11.0)))
  }

  test("trendingTopK: per-window item ranks by count, k bounds the push, ties by item") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Point]
    val pushed = scala.collection.mutable.ArrayBuffer[(String, Long, Int)]()
    val q = Streams.trendingTopK(in.toDF(), "time", "name",
        windowLen = "10 minutes", slide = "10 minutes", lateness = "10 minutes",
        k = 2, push = df => pushed.synchronized {
          pushed ++= df.collect().map(r => (r.getString(1), r.getLong(2), r.getInt(3)))
        })
    in.addData(
      Point("hot", ts("2024-01-01 00:01:00"), 1.0),
      Point("hot", ts("2024-01-01 00:02:00"), 1.0),
      Point("hot", ts("2024-01-01 00:03:00"), 1.0),
      Point("warm", ts("2024-01-01 00:04:00"), 1.0),
      Point("warm", ts("2024-01-01 00:05:00"), 1.0),
      Point("cold", ts("2024-01-01 00:06:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val last = pushed.toList
    assert(last.contains(("hot", 3L, 1)))
    assert(last.contains(("warm", 2L, 2)))
    assert(!last.exists(_._1 == "cold")) // k = 2 cuts the tail
  }

  test("trendingTopK: a later batch ranks against FULL window state, not just its own updates") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Point]
    val pushed = scala.collection.mutable.ArrayBuffer[(String, Long, Int)]()
    val q = Streams.trendingTopK(in.toDF(), "time", "name",
        windowLen = "10 minutes", slide = "10 minutes", lateness = "10 minutes",
        k = 2, push = df => pushed.synchronized {
          pushed ++= df.collect().map(r => (r.getString(1), r.getLong(2), r.getInt(3)))
        })
    in.addData(
      Point("hot", ts("2024-01-01 00:01:00"), 1.0),
      Point("hot", ts("2024-01-01 00:02:00"), 1.0),
      Point("hot", ts("2024-01-01 00:03:00"), 1.0),
      Point("warm", ts("2024-01-01 00:04:00"), 1.0),
      Point("warm", ts("2024-01-01 00:05:00"), 1.0))
    q.processAllAvailable()
    pushed.synchronized(pushed.clear())
    // an update-mode batch carries ONLY this changed group; the push must
    // still be the window's true standings, where cold is rank 3 → cut
    in.addData(Point("cold", ts("2024-01-01 00:06:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val second = pushed.toList
    assert(second.contains(("hot", 3L, 1)), second)
    assert(second.contains(("warm", 2L, 2)), second)
    assert(!second.exists(_._1 == "cold"), second)
  }

  test("trendingTopKState: state-store panels identical to the driver-panel variant, batch for batch") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // two batches over SLIDING windows (events belong to two windows
      // each); batch 2 re-ranks window state merged across batches
      val batch1 = Seq(
        Point("hot", ts("2024-01-01 00:02:00"), 1.0),
        Point("hot", ts("2024-01-01 00:03:00"), 1.0),
        Point("warm", ts("2024-01-01 00:04:00"), 1.0))
      val batch2 = Seq(
        Point("warm", ts("2024-01-01 00:06:00"), 1.0),
        Point("warm", ts("2024-01-01 00:07:00"), 1.0),
        Point("cold", ts("2024-01-01 00:08:00"), 1.0))
      type Panel = Map[Long, Seq[(String, Long, Int)]]
      def toPanel(rows: Seq[(Long, String, Long, Int)]): Panel =
        rows.groupBy(_._1).map { case (w, rs) =>
          w -> rs.map(r => (r._2, r._3, r._4)).sorted }
      // driver-panel variant: capture each batch's push
      val inA = MemoryStream[Point]
      val pushes = scala.collection.mutable.ArrayBuffer[Panel]()
      val qA = Streams.trendingTopK(inA.toDF(), "time", "name",
        windowLen = "10 minutes", slide = "5 minutes", lateness = "10 minutes",
        k = 2, push = df => pushes.synchronized {
          pushes += toPanel(df.collect().map(r =>
            (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getInt(3))).toSeq)
        })
      // state-store variant: diff the appended memory sink per batch
      val inB = MemoryStream[Point]
      val qB = Streams.trendingTopKState(inB.toDF(), "time", "name",
          windowLen = "10 minutes", slide = "5 minutes", lateness = "10 minutes", k = 2)
        .writeStream.format("memory").queryName("trend_state_out")
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_trend").toString)
        .start()
      def stateRows() = s.table("trend_state_out").collect().map(r =>
        (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getInt(3))).toSeq
      var seen = 0
      val statePanels = scala.collection.mutable.ArrayBuffer[Panel]()
      for (batch <- Seq(batch1, batch2)) {
        inA.addData(batch: _*); qA.processAllAvailable()
        inB.addData(batch: _*); qB.processAllAvailable()
        val all = stateRows()
        statePanels += toPanel(all.drop(seen))
        seen = all.size
      }
      qA.stop(); qB.stop()
      assert(pushes.size == 2 && statePanels.size == 2)
      // batch 1: same windows, same ranked panels
      assert(statePanels(0) == pushes(0), s"batch 1 diverged:\n${statePanels(0)}\nvs\n${pushes(0)}")
      // batch 2: panels rank MERGED state (hot from batch 1 must still
      // lead the 00:00 window) — and the variants agree exactly
      assert(statePanels(1) == pushes(1), s"batch 2 diverged:\n${statePanels(1)}\nvs\n${pushes(1)}")
      val w0 = ts("2024-01-01 00:00:00").getTime
      // w00:00 after both batches: warm 3 (1 from batch 1 + 2), hot 2
      assert(statePanels(1)(w0) == Seq(("hot", 2L, 2), ("warm", 3L, 1)).sorted,
        s"merged-state ranking lost batch-1 counts: ${statePanels(1)(w0)}")
      // batch 3: an event beyond the watermark (wm = 00:08 − 10 min =
      // 23:58; its windows end 23:45/23:50) — BOTH variants must drop it
      val late = Seq(Point("stale", ts("2023-12-31 23:40:00"), 1.0))
      inA.addData(late: _*); qA.processAllAvailable()
      inB.addData(late: _*); qB.processAllAvailable()
      assert(pushes.size == 2, s"driver variant must not push for dropped late data: $pushes")
      assert(stateRows().size == seen,
        "state variant must not emit for dropped late data")
    } finally {
      if (prevProvider.isEmpty)
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
    }
  }

  test("trendingTopKState: late-row admission matches the aggregation variant at EVERY watermark boundary") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // Measured contract (replacing the previously HYPOTHESIZED one-batch
    // band — this spec exists to keep it enforced, not assumed): batch 1
    // (event 00:30, lateness 10m) sets the batch-2 watermark to 00:20,
    // and three batch-2 probes bracket it with tumbling windows ending
    // 00:10 (< wm), 00:20 (== wm) and 00:30 (> wm). BOTH variants use
    // the same boundary with the same strictness — drop end <= wm,
    // admit end > wm — so TrendKeeper's `wEnd <= watermark` guard (which
    // its timer discipline requires: the timer clears a window's counts
    // the moment the watermark passes its end) introduces NO band where
    // it drops a row the aggregation still admits. If a Spark upgrade
    // ever changes either side's filter watermark or strictness, this
    // is the spec that catches it.
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch1 = Seq(Point("seed", ts("2024-01-01 00:30:00"), 1.0))
      val batch2 = Seq(
        Point("end10", ts("2024-01-01 00:02:00"), 1.0), // end 00:10 < wm
        Point("end20", ts("2024-01-01 00:12:00"), 1.0), // end 00:20 == wm
        Point("end30", ts("2024-01-01 00:22:00"), 1.0)) // end 00:30 > wm
      val inA = MemoryStream[Point]
      val pushed = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      val qA = Streams.trendingTopK(inA.toDF(), "time", "name",
        windowLen = "10 minutes", slide = "10 minutes", lateness = "10 minutes",
        k = 5, push = df => pushed.synchronized {
          pushed ++= df.collect().map(r => (r.getTimestamp(0).getTime, r.getString(1)))
        })
      val inB = MemoryStream[Point]
      val qB = Streams.trendingTopKState(inB.toDF(), "time", "name",
          windowLen = "10 minutes", slide = "10 minutes", lateness = "10 minutes", k = 5)
        .writeStream.format("memory").queryName("trend_band_out")
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_band").toString)
        .start()
      for (batch <- Seq(batch1, batch2)) {
        inA.addData(batch: _*); qA.processAllAvailable()
        inB.addData(batch: _*); qB.processAllAvailable()
      }
      qA.stop(); qB.stop()
      val stateRows = s.table("trend_band_out").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1))).toSeq
      def admitted(rows: Seq[(Long, String)]) =
        rows.map(_._2).toSet.intersect(Set("end10", "end20", "end30"))
      assert(admitted(pushed.toSeq) == Set("end30"),
        s"aggregation variant: expected only end-after-watermark admitted, got $pushed")
      assert(admitted(stateRows) == Set("end30"),
        s"state variant: expected only end-after-watermark admitted, got $stateRows")
      // and both saw the watermark-advancing seed normally
      assert(pushed.exists(_._2 == "seed") && stateRows.exists(_._2 == "seed"))
    } finally {
      if (prevProvider.isEmpty)
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
    }
  }

  test("T5 livePollReplan: control edits between batches replan the live set; infeasible change rejected whole") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ctlDir = java.nio.file.Files.createTempDirectory("graft_t5_ctl").toString
    def writeControl(items: (String, Long)*): Unit =
      items.toSeq.toDF("name", "interval_sec").withColumn("enabled", lit(true))
        .coalesce(1).write.mode("overwrite").parquet(ctlDir)
    // budget 20 req / 60 s; interval 10 s → 6 req per item per window
    writeControl("a" -> 10L, "b" -> 10L) // required 12 ≤ 20: feasible
    val in = MemoryStream[Point]
    val pushed = scala.collection.mutable.ArrayBuffer[String]()
    val replans = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val q = Streams.livePollReplan(in.toDF(), "name", ctlDir,
      rateLimit = 20L, windowSeconds = 60L,
      push = df => pushed.synchronized {
        pushed ++= df.select("name").collect().map(_.getString(0)) },
      replanLog = df => replans.synchronized {
        replans ++= df.collect().map(r => (r.getString(0), r.getString(1))) })
    def tick(names: String*): Unit = {
      in.addData(names.map(n => Point(n, ts("2024-01-01 00:00:00"), 1.0)))
      q.processAllAvailable()
    }
    try {
      tick("a", "b", "c")
      assert(pushed.synchronized(pushed.sorted.toList) == List("a", "b")) // c not tracked
      assert(replans.synchronized(replans.toSet) == Set("a" -> "added", "b" -> "added"))
      // enable c between batches — required 18 ≤ 20, feasible: the NEXT
      // batch must poll it with no stream restart
      pushed.synchronized(pushed.clear()); replans.synchronized(replans.clear())
      writeControl("a" -> 10L, "b" -> 10L, "c" -> 10L)
      tick("a", "b", "c")
      assert(pushed.synchronized(pushed.sorted.toList) == List("a", "b", "c"))
      assert(replans.synchronized(replans.toSet) ==
        Set("a" -> "survivor", "b" -> "survivor", "c" -> "added"))
      // an INFEASIBLE control edit (required 36 > 20) is rejected WHOLE:
      // current pollers keep running, the new item never polls
      pushed.synchronized(pushed.clear()); replans.synchronized(replans.clear())
      writeControl("a" -> 10L, "b" -> 10L, "c" -> 10L, "d" -> 2L) // d alone needs 30
      tick("a", "b", "c", "d")
      assert(pushed.synchronized(pushed.sorted.toList) == List("a", "b", "c"))
      assert(replans.synchronized(replans.isEmpty)) // reject logs no churn
    } finally q.stop()
  }

  case class Doc(doc_id: Long, text: String, arrived: Timestamp)

  test("T6 rateLimit: token bucket admits the burst, rejects inside the refill window, recovers") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // transformWithState requires the RocksDB state store provider
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Streams.Request]
      // rate 1 token/s, burst 2
      val q = Streams.rateLimit(in.toDS(), rate = 1.0, burst = 2.0)
        .writeStream.format("memory").queryName("rl_out").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_rl").toString)
        .start()
      in.addData(
        Streams.Request("it", ts("2024-01-01 00:00:00")),  // burst token 1 → allow
        Streams.Request("it", ts("2024-01-01 00:00:00")),  // burst token 2 → allow
        Streams.Request("it", ts("2024-01-01 00:00:00")))  // empty bucket → reject
      q.processAllAvailable()
      in.addData(
        Streams.Request("it", ts("2024-01-01 00:00:00")),  // still empty (same instant) → reject
        Streams.Request("it", ts("2024-01-01 00:00:03")))  // 3 s refill (cap 2) → allow
      q.processAllAvailable()
      val out = s.table("rl_out").collect()
      q.stop()
      val atZero = out.filter(_.getAs[Timestamp]("ts") == ts("2024-01-01 00:00:00"))
      val atThree = out.filter(_.getAs[Timestamp]("ts") == ts("2024-01-01 00:00:03"))
      assert(atZero.count(_.getAs[Boolean]("allowed")) == 2 && atZero.length == 4)
      assert(atThree.length == 1 && atThree(0).getAs[Boolean]("allowed"))
      // refill capped at burst: 3 s elapsed but only 2 tokens, one consumed
      assert(atThree(0).getAs[Double]("tokensAfter") == 1.0)
    } finally {
      if (prevProvider.isEmpty)
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
    }
  }

  test("corpusIngestDedup: same content suppressed across batches, distinct content passes") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Doc]
    val q = Streams.corpusIngestDedup(in.toDF(), "text", "arrived", "10 minutes")
      .writeStream.format("memory").queryName("ingest_out").outputMode("append").start()
    in.addData(Doc(0L, "alpha doc body", ts("2024-01-01 00:00:00")),
               Doc(1L, "beta doc body", ts("2024-01-01 00:00:30")),
               Doc(2L, "alpha doc body", ts("2024-01-01 00:00:40"))) // in-batch dup of 0
    q.processAllAvailable()
    in.addData(Doc(3L, "alpha doc body", ts("2024-01-01 00:01:00")), // cross-batch dup of 0
               Doc(4L, "gamma doc body", ts("2024-01-01 00:01:30")))
    q.processAllAvailable()
    val out = s.table("ingest_out").collect()
    q.stop()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(0L, 1L, 4L))
  }

  test("activityTail: ListState tail grows to k then slides, across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Streams.Activity]
      val q = Streams.activityTail(in.toDS(), k = 3)
        .writeStream.format("memory").queryName("tail_out").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_tail").toString)
        .start()
      in.addData(
        Streams.Activity("it", ts("2024-01-01 00:00:01"), 1.0),
        Streams.Activity("it", ts("2024-01-01 00:00:02"), 2.0))
      q.processAllAvailable()
      in.addData(
        Streams.Activity("it", ts("2024-01-01 00:00:03"), 3.0),
        Streams.Activity("it", ts("2024-01-01 00:00:04"), 4.0)) // tail slides: (2,3,4)
      q.processAllAvailable()
      val out = s.table("tail_out").orderBy("ts").collect()
        .map(r => (r.getAs[Int]("tailLen"), r.getAs[Double]("oldestPayload"),
          r.getAs[Double]("newestPayload")))
      q.stop()
      assert(out.toSeq == Seq((1, 1.0, 1.0), (2, 1.0, 2.0), (3, 1.0, 3.0), (3, 2.0, 4.0)))
    } finally {
      if (prevProvider.isEmpty)
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
    }
  }

  test("corpusIngestDedup: dedup state survives a query restart from checkpoint") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_restart_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ckpt").toString
    val schema = "doc_id LONG, text STRING, arrived TIMESTAMP"
    def writeDoc(name: String, id: Long, text: String, at: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name.json"),
        s"""{"doc_id": $id, "text": "$text", "arrived": "$at"}""".getBytes("UTF-8"))
    def startQuery(buffer: scala.collection.mutable.ArrayBuffer[Long]) =
      Streams.corpusIngestDedup(
          s.readStream.schema(schema).json(dir), "text", "arrived", "60 minutes")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          buffer ++= batch.select("doc_id").collect().map(_.getLong(0))
          () // Unit-returning closure selects the right foreachBatch overload
        }
        .start()

    val run1 = scala.collection.mutable.ArrayBuffer[Long]()
    writeDoc("a", 0L, "alpha body", "2024-01-01 00:00:00")
    writeDoc("b", 1L, "beta body", "2024-01-01 00:00:10")
    val q1 = startQuery(run1)
    q1.processAllAvailable(); q1.stop()
    assert(run1.sorted.toSeq == Seq(0L, 1L))

    // restart from the same checkpoint: a re-sent duplicate must STILL be
    // suppressed (the content-hash state store recovered), new content passes
    val run2 = scala.collection.mutable.ArrayBuffer[Long]()
    writeDoc("c", 2L, "alpha body", "2024-01-01 00:00:20") // dup from before restart
    writeDoc("d", 3L, "gamma body", "2024-01-01 00:00:30")
    val q2 = startQuery(run2)
    q2.processAllAvailable(); q2.stop()
    assert(run2.sorted.toSeq == Seq(3L), s"state lost across restart: got $run2")
  }

  test("streaming curation: ingest → dedup → quality projection compose on one stream") {
    // the streaming twin of corpus_build's front half: arriving docs are
    // content-dedup'd within the watermark and quality-scored in the same
    // micro-batch — projections (textStats) compose on a streaming DF
    // because they are stateless codegen, only the dedup holds state
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Doc]
    val curated = graft.operators.TextAnalysis.textStats(
      Streams.corpusIngestDedup(in.toDF(), "text", "arrived", "10 minutes"),
      "doc_id", "text")
    val q = curated.writeStream.format("memory").queryName("cur_out")
      .outputMode("append").start()
    in.addData(
      Doc(0L, "a good document with plenty of distinct words in it today", ts("2024-01-01 00:00:00")),
      Doc(1L, "a good document with plenty of distinct words in it today", ts("2024-01-01 00:00:05")), // dup
      Doc(2L, "bad bad bad bad bad bad bad bad bad bad", ts("2024-01-01 00:00:10")))
    q.processAllAvailable()
    val out = s.table("cur_out").collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_quality")).toMap
    q.stop()
    assert(out.keySet == Set(0L, 2L))      // dup suppressed in-stream
    assert(out(0L) && !out(2L))            // quality gate scored in the same pass
  }

  test("priceBook: MapState upserts per currency, full book emitted sorted, across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Streams.Quote]
      val q = Streams.priceBook(in.toDS())
        .writeStream.format("memory").queryName("book_out").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_book").toString)
        .start()
      in.addData(
        Streams.Quote("it", ts("2024-01-01 00:00:01"), "USD", 1.50),
        Streams.Quote("it", ts("2024-01-01 00:00:02"), "EUR", 1.40))
      q.processAllAvailable()
      in.addData(
        Streams.Quote("it", ts("2024-01-01 00:00:03"), "USD", 1.60)) // upsert USD
      q.processAllAvailable()
      val out = s.table("book_out").orderBy("ts").collect()
        .map(r => (r.getAs[Int]("n_currencies"), r.getAs[String]("book")))
      q.stop()
      assert(out.toSeq == Seq(
        (1, "USD:1.5"),
        (2, "EUR:1.4,USD:1.5"),
        (2, "EUR:1.4,USD:1.6"))) // USD replaced, EUR retained across batches
    } finally {
      if (prevProvider.isEmpty)
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
    }
  }

  test("streaming decontamination: arriving docs flagged against the static eval shingle set") {
    // stream-static: the benchmark corpus is a broadcast-size static side,
    // so contamination is checked ON ARRIVAL — no quarantine-then-rescan
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val evalDf = Seq((100L, "the secret eval phrase appears here now ok")).toDF("doc_id", "text")
    val evalSh = broadcast(evalDf.select(
      explode(graft.operators.Dedup.shingleHashes(col("text"), 5)).as("h")).distinct())
    val in = MemoryStream[Doc]
    val flagged = in.toDF()
      .select(col("doc_id"), explode(graft.operators.Dedup.shingleHashes(col("text"), 5)).as("h"))
      .join(evalSh, "h")
      // production: dropDuplicatesWithinWatermark — docs arrive once, so
      // the dedup horizon is the ingest lateness bound, not the corpus
      .select(col("doc_id")).dropDuplicates("doc_id")
    val q = flagged.writeStream.format("memory").queryName("contam_out")
      .outputMode("append").start()
    in.addData(
      Doc(0L, "clean text with no overlap whatsoever at all", ts("2024-01-01 00:00:00")),
      Doc(1L, "leak: the secret eval phrase appears here now ok thanks", ts("2024-01-01 00:00:01")))
    q.processAllAvailable()
    val out = s.table("contam_out").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(out == Set(1L))
  }

  test("T6 source-side rate limit: maxFilesPerTrigger throttles ingestion to N files per batch") {
    // the reference's RateLimiter (src/RateLimiter.py:5-49) gates HTTP
    // calls; on the engine side the same role is the source admission
    // throttle — each micro-batch ingests at most maxFilesPerTrigger
    // files, so a backlog drains at a bounded rate instead of one giant
    // batch
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_throttle").toString
    (1 to 4).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/f$i.json"),
        s"""{"id": $i, "payload": "payload_$i"}""".getBytes("UTF-8"))
    }
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = s.readStream
      .schema("id INT, payload STRING")
      .option("maxFilesPerTrigger", 1)
      .json(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += batch.count() }; ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    // 4 files, 1 per trigger -> 4 batches of exactly 1 row each
    assert(batchSizes.count(_ > 0) == 4)
    assert(batchSizes.filter(_ > 0).forall(_ == 1L))
  }

  test("T3 cdcLatestPush: foreachBatch pushes latest-1 per key per batch") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Point]
    val pushed = scala.collection.mutable.ArrayBuffer[(String, Timestamp, Double)]()
    val q = Streams.cdcLatestPush(in.toDF(), "name", "time",
      Trigger.ProcessingTime(0), { latest =>
        latest.collect().foreach(r =>
          pushed.synchronized { pushed += ((r.getString(0), r.getTimestamp(1), r.getDouble(2))) })
      })
    in.addData(Point("a", ts("2024-01-01 00:00:00"), 1.0),
               Point("a", ts("2024-01-01 00:05:00"), 5.0),
               Point("b", ts("2024-01-01 00:01:00"), 2.0))
    q.processAllAvailable()
    q.stop()
    val byKey = pushed.groupBy(_._1)
    assert(byKey("a").map(_._3).toSet == Set(5.0)) // only the latest 'a' frame
    assert(byKey("b").map(_._3).toSet == Set(2.0))
  }

  test("A5 slidingRequestCount: sliding windows count overlapping rows") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Point]
    val q = Streams.slidingRequestCount(in.toDF(), "time", "60 seconds", "30 seconds", "0 seconds")
      .writeStream.format("memory").queryName("a5_out").outputMode("append").start()
    in.addData(Point("a", ts("2024-01-01 00:00:10"), 1.0),
               Point("b", ts("2024-01-01 00:00:40"), 1.0),
               Point("c", ts("2024-01-01 00:01:10"), 1.0))
    q.processAllAvailable()
    in.addData(Point("z", ts("2024-01-01 00:10:00"), 1.0)) // advance watermark, close windows
    q.processAllAvailable()
    val counts = s.table("a5_out")
      .select(date_format(col("window_start"), "HH:mm:ss").as("w"), col("n_requests"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    assert(counts("00:00:00") == 2)  // 00:10 + 00:40
    assert(counts("00:00:30") == 2)  // 00:40 + 01:10
    assert(counts("00:01:00") == 1)  // 01:10
  }

  test("T11 subscriptionFanout: data pushes only to current subscribers; no-sub data suppressed") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(item: String, t: String, kind: String, sub: String = "", p: Double = 0.0) =
      Streams.FanoutEvent(item, ts(t), kind, sub, p)
    val in = MemoryStream[Streams.FanoutEvent]
    val q = Streams.subscriptionFanout(in.toDS())
      .writeStream.format("memory").queryName("t11_out").outputMode("append").start()
    in.addData(
      ev("itemA", "2024-01-01 00:00:00", "data", p = 1.0),   // nobody listening: dropped
      ev("itemA", "2024-01-01 00:00:10", "sub", "ws1"),
      ev("itemA", "2024-01-01 00:00:20", "sub", "ws2"),
      ev("itemA", "2024-01-01 00:00:30", "data", p = 2.0),   // -> ws1, ws2
      ev("itemA", "2024-01-01 00:00:40", "unsub", "ws1"),
      ev("itemA", "2024-01-01 00:00:50", "data", p = 3.0),   // -> ws2
      ev("itemB", "2024-01-01 00:00:30", "data", p = 9.0))   // other key, no subs
    q.processAllAvailable()
    in.addData(
      ev("itemA", "2024-01-01 00:01:00", "unsub", "ws2"),
      ev("itemA", "2024-01-01 00:01:10", "data", p = 4.0))   // set empty again: dropped
    q.processAllAvailable()
    val out = s.table("t11_out").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getSeq[String](2).toList))
    q.stop()
    assert(out.toSet == Set(
      ("itemA", 2.0, List("ws1", "ws2")),
      ("itemA", 3.0, List("ws2"))))
  }

  test("T7 backoffState: failures double cooldown (cap 8), success resets") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Streams.PollEvent]
    val q = Streams.backoffState(in.toDS())
      .writeStream.format("memory").queryName("t7_out").outputMode("update").start()
    in.addData(
      Streams.PollEvent("x", ts("2024-01-01 00:00:00"), false),
      Streams.PollEvent("x", ts("2024-01-01 00:01:00"), false),
      Streams.PollEvent("x", ts("2024-01-01 00:02:00"), false),
      Streams.PollEvent("x", ts("2024-01-01 00:03:00"), false),
      Streams.PollEvent("x", ts("2024-01-01 00:04:00"), false),
      Streams.PollEvent("y", ts("2024-01-01 00:00:00"), false))
    q.processAllAvailable()
    in.addData(Streams.PollEvent("y", ts("2024-01-01 00:01:00"), true))
    q.processAllAvailable()
    val out = s.table("t7_out").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    q.stop()
    // x: 5 consecutive failures → multiplier min(2^4, 8) = 8
    assert(out.contains(("x", 5, 8)))
    // y: failure then success → reset
    assert(out.contains(("y", 1, 1)) && out.contains(("y", 0, 1)))
  }

  test("T10 urgencyDecisions: never-polled runs now; due only at urgency >= 1") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Streams.HeartbeatTick]
    val q = Streams.urgencyDecisions(in.toDS())
      .writeStream.format("memory").queryName("t10_out").outputMode("append").start()
    in.addData(Streams.HeartbeatTick("x", ts("2024-01-01 00:00:00"), 60))
    q.processAllAvailable()
    in.addData(Streams.HeartbeatTick("x", ts("2024-01-01 00:00:30"), 60)) // 0.5 — not due
    q.processAllAvailable()
    in.addData(Streams.HeartbeatTick("x", ts("2024-01-01 00:01:30"), 60)) // 1.5 — due, state advances
    q.processAllAvailable()
    in.addData(Streams.HeartbeatTick("x", ts("2024-01-01 00:02:00"), 60)) // 0.5 after advance
    q.processAllAvailable()
    val out = s.table("t10_out").collect()
      .map(r => (r.getDouble(1), r.getBoolean(2))).toList
    q.stop()
    assert(out == List((-1.0, true), (0.5, false), (1.5, true), (0.5, false)))
  }

  test("event-time session windows: 10-min gap splits sessions per key") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Point]
    val sessions = in.toDF()
      .withWatermark("time", "0 seconds")
      .groupBy(col("name"), session_window(col("time"), "10 minutes"))
      .agg(count(lit(1)).as("n"), sum("price").as("total"))
    val q = sessions.writeStream.format("memory").queryName("sw_out")
      .outputMode("append").start()
    in.addData(
      Point("a", ts("2024-01-01 00:00:00"), 1.0),
      Point("a", ts("2024-01-01 00:05:00"), 2.0),  // same session (< 10 min gap)
      Point("a", ts("2024-01-01 01:00:00"), 4.0))  // new session
    q.processAllAvailable()
    in.addData(Point("z", ts("2024-01-01 09:00:00"), 0.0)) // advance watermark
    q.processAllAvailable()
    val out = s.table("sw_out").filter(col("name") === "a")
      .select("n", "total").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    q.stop()
    assert(out == Set((2L, 3.0), (1L, 4.0)))
  }

  test("ohlcBarsStream ≡ batch ohlcBars on real fixture events") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ev = graft.Tables.events(s, "/root/testdata/sf0.001")
      .filter(col("user_id") < 3)
      .select(col("user_id"), col("ts").as("time"), col("event_id"), col("value"))
    val rows = ev.collect().toSeq.map(r =>
      Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val in = MemoryStream[Ev]
    val q = Streams.ohlcBarsStream(in.toDF(), "user_id", "time",
        "event_id", "value", "1 day", "0 seconds")
      .writeStream.format("memory").queryName("ohlc_par")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(Ev(999L, ts("2030-01-01 00:00:00"), 0L, 0.0)) // flush watermark
    q.processAllAvailable()
    val streamed = s.table("ohlc_par").filter(col("key") < 3)
      .collect().map(_.toSeq).toSet
    q.stop()
    val batch = graft.operators.TimeSeries.ohlcBars(ev, "user_id", "time",
        "event_id", "value", date_trunc("day", col("time")))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.size >= 3) // multi-day, multi-key fixture really exercised
  }

  test("quantileAppendStream: micro-batch partials append exactly once — " +
    "serve ≡ whole-corpus build; the ledger blocks a replayed batch id") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.sources.PartitionedStore
    import graft.operators.Relational
    val store = java.nio.file.Files.createTempDirectory("qh_stream").toString
    val ledger = java.nio.file.Files.createTempDirectory("qh_ledger").toString
    val ckpt = java.nio.file.Files.createTempDirectory("qh_ckpt").toString
    val b1 = Seq(
      Ev(1L, ts("2024-01-01 01:00:00"), 1L, 1.00),
      Ev(1L, ts("2024-01-01 02:00:00"), 2L, 2.00),
      Ev(2L, ts("2024-01-01 03:00:00"), 3L, 9.00))
    val b2 = Seq(
      Ev(1L, ts("2024-01-01 04:00:00"), 4L, 2.00), // same day, later batch
      Ev(1L, ts("2024-01-02 01:00:00"), 5L, 50.0),
      Ev(2L, ts("2024-01-02 02:00:00"), 6L, 9.00))
    val in = MemoryStream[Ev]
    val q = Streams.quantileAppendStream(in.toDF(), "time", "user_id",
      "value", store, ledger, ckpt)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val ps = Seq(("p50_c", 50L, 100L), ("p95_c", 95L, 100L))
    val rows = (x: org.apache.spark.sql.DataFrame) =>
      x.orderBy("key").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val served = Relational.quantileServe(Relational.quantileSpan(
      PartitionedStore.readVersion(s, store)), ps)
    val direct = Relational.quantileServe(Relational.quantileSpan(
      Relational.quantileDailySketches(
        (b1 ++ b2).toDF(), "time", "user_id", "value")), ps)
    assert(rows(served) == rows(direct),
      "merged streamed partials must equal the whole-corpus build")
    // restart replay: the same batch id publishes NOTHING the second time
    val maxId = java.nio.file.Files.list(java.nio.file.Paths.get(ledger))
      .iterator().asScala.map(_.getFileName.toString.stripPrefix("batch-").toLong)
      .max
    val vBefore = PartitionedStore.versions(store)
    var executed = false
    val ran = Streams.commitOnce(ledger, maxId) { executed = true }
    assert(!ran && !executed &&
      PartitionedStore.versions(store) == vBefore,
      "a replayed batch id must not re-append sketch rows")
  }

  test("rollingWauStream ≡ batch W11 DAU/WAU on real fixture events") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ev = graft.Tables.events(s, "/root/testdata/sf0.001")
      .filter(col("user_id") < 6)
      .select(col("user_id"), col("ts").as("time"), col("event_id"), col("value"))
    val rows = ev.collect().toSeq.map(r =>
      Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val streamed = try {
      val in = MemoryStream[Ev]
      val q = Streams.rollingWauStream(in.toDF(), "time", "user_id",
          "0 seconds")
        .writeStream.format("memory").queryName("wau_par")
        .outputMode("append").start()
      in.addData(rows: _*)
      q.processAllAvailable()
      in.addData(Ev(999L, ts("2030-01-01 00:00:00"), 0L, 0.0)) // flush watermark
      q.processAllAvailable()
      // the flush row's own 2030 target days never emit (their timers sit
      // beyond the final watermark), but filter defensively anyway
      val out = s.table("wau_par")
        .filter(col("day_start") < ts("2029-01-01 00:00:00"))
        .select(to_date(col("day_start")).as("day"), col("dau"), col("wau"))
        .collect().map(_.toSeq).toSet
      q.stop()
      out
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    // batch reference: the W11 rule on the same rows
    val du = ev.select(to_date(col("time")).as("day"), col("user_id")).distinct()
    val days = du.select(col("day")).distinct()
    val dau = du.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = broadcast(days.select(col("day").as("d0")))
      .join(du, col("day").between(date_sub(col("d0"), 6), col("d0")))
      .groupBy(col("d0")).agg(countDistinct(col("user_id")).as("wau"))
      .select(col("d0").as("day"), col("wau"))
    val batch = dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.size >= 5, "multi-day fixture really exercised")
    assert(batch.exists(r => r(2).asInstanceOf[Long] >
      r(1).asInstanceOf[Long]), "some trailing window exceeds its DAU")
  }

  /** Writes each of `stages` as one JSON-lines file into the source dir of
    * a file-source query built by `start`, one `processAllAvailable` per
    * stage. `stopAfter` stops the
    * query after that stage and restarts it on the same checkpoint
    * before the next one. Returns every row the sink saw, sorted. */
  private def fileStagedRun(schema: String, stages: Seq[Seq[String]],
                            stopAfter: Option[Int])(
      start: (org.apache.spark.sql.DataFrame, String,
        scala.collection.mutable.ArrayBuffer[String]) =>
        org.apache.spark.sql.streaming.StreamingQuery): Seq[String] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_staged_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_staged_ckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    def run() = start(spark.readStream.schema(schema).json(dir), ckpt, seen)
    withRocksDb {
      var q = run()
      try stages.zipWithIndex.foreach { case (lines, i) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/stage$i.json"),
          lines.mkString("\n").getBytes("UTF-8"))
        q.processAllAvailable()
        if (stopAfter.contains(i)) { q.stop(); q = run() }
      } finally q.stop()
    }
    seen.synchronized(seen.toSeq.sorted)
  }

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key, "")
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally if (prev.isEmpty) spark.conf.unset(key) else spark.conf.set(key, prev)
  }

  test("rollingWauStream: a mid-day stop and checkpoint restart emits exactly " +
    "the rows of an uninterrupted run") {
    def ev(u: Long, t: String) = s"""{"user_id": $u, "time": "$t"}"""
    // stage 0 ends mid-way through 2024-01-01; stage 1 adds more of the
    // same day (u1 again, u3 new) after the restart; stage 2 drives the
    // watermark past every day the fixture touches
    val stages = Seq(
      Seq(ev(4, "2023-12-31 12:00:00"), ev(1, "2024-01-01 09:00:00"),
        ev(2, "2024-01-01 10:00:00")),
      Seq(ev(3, "2024-01-01 15:00:00"), ev(1, "2024-01-01 16:00:00"),
        ev(5, "2024-01-02 08:00:00")),
      Seq(ev(9, "2024-01-20 00:00:00")))
    def runWau(stopAfter: Option[Int]) =
      fileStagedRun("user_id LONG, time TIMESTAMP", stages, stopAfter) {
        (src, ckpt, seen) =>
          Streams.rollingWauStream(src, "time", "user_id", "1 hour")
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.WauRow], _: Long) =>
              val rows = b.collect().map(r => s"${r.day_start.toInstant} ${r.dau} ${r.wau}")
              seen.synchronized(seen ++= rows); ()
            }
            .start()
      }
    val restarted = runWau(stopAfter = Some(0))
    val uninterrupted = runWau(stopAfter = None)
    assert(restarted == uninterrupted,
      s"restart changed the output: $restarted vs $uninterrupted")
    // the day split by the restart counts users from both sides of it
    assert(uninterrupted == Seq(
      "2023-12-31T00:00:00Z 1 1",
      "2024-01-01T00:00:00Z 3 4",
      "2024-01-02T00:00:00Z 1 5"), s"got $uninterrupted")
  }

  test("rateLimit: the token bucket survives a checkpoint restart — output " +
    "equals an uninterrupted run") {
    def req(t: String) = s"""{"item": "it", "ts": "$t"}"""
    val stages = Seq(
      Seq.fill(3)(req("2024-01-01 00:00:00")),
      Seq(req("2024-01-01 00:00:00"), req("2024-01-01 00:00:03")))
    def runLimit(stopAfter: Option[Int]) =
      fileStagedRun("item STRING, ts TIMESTAMP", stages, stopAfter) {
        (src, ckpt, seen) =>
          val s = spark
          import s.implicits._
          Streams.rateLimit(src.as[Streams.Request], rate = 1.0, burst = 2.0)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.RateDecision], _: Long) =>
              val rows = b.collect().map(r => s"${r.ts.toInstant} ${r.allowed} ${r.tokensAfter}")
              seen.synchronized(seen ++= rows); ()
            }
            .start()
      }
    val restarted = runLimit(stopAfter = Some(0))
    val uninterrupted = runLimit(stopAfter = None)
    assert(restarted == uninterrupted,
      s"restart changed the output: $restarted vs $uninterrupted")
    // a fresh bucket after the restart would admit the fourth 00:00 request
    assert(uninterrupted == Seq(
      "2024-01-01T00:00:00Z false 0.0",
      "2024-01-01T00:00:00Z false 0.0",
      "2024-01-01T00:00:00Z true 0.0",
      "2024-01-01T00:00:00Z true 1.0",
      "2024-01-01T00:00:03Z true 1.0"), s"got $uninterrupted")
  }

  test("quantileDailyStream ≡ batch daily quantile-histogram sketches on " +
    "real fixture events (final row per (day,key,qc), emitted once)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ev = graft.Tables.events(s, "/root/testdata/sf0.001")
      .filter(col("user_id") < 6)
      .select(col("user_id"), col("ts").as("time"), col("event_id"), col("value"))
    val rows = ev.collect().toSeq.map(r =>
      Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val streamed = try {
      val in = MemoryStream[Ev]
      val q = Streams.quantileDailyStream(in.toDF(), "time", "user_id",
          "value", "0 seconds")
        .writeStream.format("memory").queryName("qh_par")
        .outputMode("append").start()
      // two batches so at least one day's buckets accumulate ACROSS
      // batches — the shape the per-batch appender cannot produce as a
      // single row
      val (b1, b2) = rows.splitAt(rows.size / 2)
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      in.addData(Ev(999L, ts("2030-01-01 00:00:00"), 0L, 0.0)) // flush watermark
      q.processAllAvailable()
      val out = s.table("qh_par")
        .filter(col("day_start") < ts("2029-01-01 00:00:00"))
        .select(to_date(col("day_start")).as("day"), col("qkey"),
          col("qc"), col("cnt"))
        .collect().map(_.toSeq).toSet
      q.stop()
      out
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    // batch reference: the store's nightly build rule on the same rows,
    // key cast to the stream's string key type
    val batch = graft.operators.Relational.quantileDailySketches(
        ev, "time", "user_id", "value")
      .select(col("day"), col("key").cast("string").as("qkey"),
        col("qc"), col("cnt"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream must equal batch: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
    assert(batch.map(_(0)).size >= 5, "multi-day fixture really exercised")
    assert(batch.size > batch.map(_(0)).size,
      "multiple buckets per day really exercised")
  }

  test("quantileDailyStream: a day whose end is at or below the watermark " +
    "drops its rows; a day ending above it admits them") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // batch 1 (event 2024-01-03 12:00, lateness 12h) sets the batch-2
    // watermark to 2024-01-03 00:00; the three batch-2 probes fall in days
    // ending 01-02 (< wm), 01-03 (== wm) and 01-04 (> wm)
    val out = withRocksDb {
      val in = MemoryStream[Point]
      val q = Streams.quantileDailyStream(in.toDF(), "time", "name", "price",
          "12 hours")
        .writeStream.format("memory").queryName("qh_band_out")
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_qh_band").toString)
        .start()
      try {
        in.addData(Point("seed", ts("2024-01-03 12:00:00"), 1.0))
        q.processAllAvailable()
        in.addData(
          Point("end_lt", ts("2024-01-01 10:00:00"), 1.0),
          Point("end_eq", ts("2024-01-02 10:00:00"), 1.0),
          Point("end_gt", ts("2024-01-03 01:00:00"), 1.0))
        q.processAllAvailable()
        in.addData(Point("flush", ts("2030-01-01 00:00:00"), 1.0))
        q.processAllAvailable()
        s.table("qh_band_out").select("qkey").collect().map(_.getString(0)).toSet
      } finally q.stop()
    }
    assert(out == Set("seed", "end_gt"),
      s"expected only the day ending after the watermark admitted, got $out")
  }

  test("sessionizeStream ≡ batch W8 sessionizer on real fixture events") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ev = graft.Tables.events(s, "/root/testdata/sf0.001")
      .filter(col("user_id") < 3)
      .select(col("user_id"), col("ts").as("time"), col("event_id"), col("value"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("time"), col("event_id"))
    val rows = ev.collect().toSeq.map(r =>
      Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val in = MemoryStream[Ev]
    val q = Streams.sessionizeStream(in.toDF(), "user_id", "time", "value",
        "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("sess_par").outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(Ev(999L, ts("2030-01-01 00:00:00"), 0L, 0.0)) // flush watermark
    q.processAllAvailable()
    val streamed = s.table("sess_par").filter(col("user_id") < 3)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    q.stop()
    // batch reference: the W8 lag-gap rule on the same rows
    val gapped = ev
      .withColumn("prev_us", lag(unix_micros(col("time")), 1).over(wOrd))
      .withColumn("new_session", when(col("prev_us").isNull ||
        unix_micros(col("time")) - col("prev_us") > 30L * 60 * 1000000, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(
        wOrd.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val batch = gapped.groupBy(col("user_id"), col("session_no"))
      .agg(min(col("time")).as("session_start"), max(col("time")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.size > rows.map(_.user_id).distinct.size) // real multi-session data
  }

  test("sessionizeStream boundary pin: gap-exact events MERGE (touching spans), gap+1 splits — the batch rule") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Point]
    val q = Streams.sessionizeStream(in.toDF(), "name", "time", "price",
        "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("sess_bnd").outputMode("append").start()
    in.addData(
      Point("a", ts("2024-01-01 00:00:00"), 1.0),
      Point("a", ts("2024-01-01 00:29:59"), 2.0), // < gap: merges
      Point("a", ts("2024-01-01 00:59:59"), 4.0), // EXACTLY gap later: merges
      Point("a", ts("2024-01-01 01:30:00"), 8.0)) // gap + 1 s later: splits
    q.processAllAvailable()
    in.addData(Point("z", ts("2030-01-01 00:00:00"), 0.0))
    q.processAllAvailable()
    val streamed = s.table("sess_bnd").filter(col("name") === "a")
      .select("n_events", "sum_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    q.stop()
    // session_window merges a TOUCHING span (next start == open session
    // end), so the exactly-gap-later event stays — identical admission to
    // the batch rule `ts − prev > gap` at every boundary (<, ==, >)
    assert(streamed == Set((3L, 7.0), (1L, 8.0)))
  }

  test("peakConcurrencyStream ≡ batch W19 sweep line on real fixture " +
    "sessions (exactly-once day emission)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val sess = graft.queries.InventoryQueries2.w8Sessionize(s, "/root/testdata/sf0.001")
      .filter(col("user_id") < 6)
      .select(col("session_start"), col("session_end"))
    // feed in start order — the upstream sessionizer emits sessions when
    // the watermark passes, so a session stream ARRIVES roughly
    // start-ordered; the raw (user, session_no) collect order would ship
    // old-day sessions behind the advanced watermark, which the stated
    // late-row contract drops (and the batch reference counts)
    val rows = sess.orderBy(col("session_start")).collect().toSeq.map(r =>
      Sess(r.getTimestamp(0), r.getTimestamp(1)))
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val streamed = try {
      val in = MemoryStream[Sess]
      val q = Streams.peakConcurrencyStream(in.toDF(), "session_start",
          "session_end", "0 seconds")
        .writeStream.format("memory").queryName("peak_par")
        .outputMode("append").start()
      // two batches so some day's sweep points accumulate ACROSS batches
      val (b1, b2) = rows.splitAt(rows.size / 2)
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(Sess(ts("2030-01-01 00:00:00"), ts("2030-01-01 00:00:01")))
      q.processAllAvailable()
      val out = s.table("peak_par")
        .filter(col("day_start") < ts("2029-01-01 00:00:00"))
        .select(to_date(col("day_start")).as("day"), col("peak_concurrency"))
        .collect().map(_.toSeq).toSet
      q.stop()
      out
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val batch = graft.queries.InventoryQueries2.peakConcurrencyFrom(sess)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream must equal batch: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
    assert(batch.size >= 5, "multi-day fixture really exercised")
    assert(batch.exists(_(1).asInstanceOf[Long] > 1L),
      "some real concurrency exercised")
  }

  test("peakConcurrencyStream boundary pin: midnight crosser counts toward " +
    "BOTH days; end-inclusive touch overlaps; watermark on session_start " +
    "finalizes a day even while a crosser's end is still open") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Sess]
      val q = Streams.peakConcurrencyStream(in.toDF(), "session_start",
          "session_end", "0 seconds")
        .writeStream.format("memory").queryName("peak_bnd")
        .outputMode("append").start()
      in.addData(
        // midnight crosser: 23:00 Jan1 → 01:00 Jan2 (covers both days)
        Sess(ts("2024-01-01 23:00:00"), ts("2024-01-02 01:00:00")),
        // overlaps the crosser inside Jan1 → Jan1 peak 2
        Sess(ts("2024-01-01 23:30:00"), ts("2024-01-01 23:45:00")),
        // end-inclusive touch: starts the INSTANT the crosser ends → peak 2
        Sess(ts("2024-01-02 01:00:00"), ts("2024-01-02 02:00:00")),
        // disjoint tail on Jan2 (after the touch pair closed)
        Sess(ts("2024-01-02 03:00:00"), ts("2024-01-02 03:10:00")))
      q.processAllAvailable()
      in.addData(Sess(ts("2030-01-01 00:00:00"), ts("2030-01-01 00:00:01")))
      q.processAllAvailable()
      val streamed = s.table("peak_bnd")
        .filter(col("day_start") < ts("2029-01-01 00:00:00"))
        .select(to_date(col("day_start")).as("day"), col("peak_concurrency"))
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet
      q.stop()
      assert(streamed == Set(("2024-01-01", 2L), ("2024-01-02", 2L)), streamed)
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("pitFeaturesStream ≡ batch j19_pit_features on real fixture events " +
    "(online/offline feature parity: every label emitted exactly once " +
    "with the identical assembled row)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evRows = graft.Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .orderBy(col("ts"), col("event_id")).collect().toSeq
      .map(r => RawEv(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val streamed = try {
      val in = MemoryStream[RawEv]
      val q = Streams.pitFeaturesStream(in.toDF(), "ts", "0 seconds")
        .writeStream.format("memory").queryName("pit_par")
        .outputMode("append").start()
      val third = evRows.size / 3
      val (b1, rest) = evRows.splitAt(third)
      val (b2, b3) = rest.splitAt(third)
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(b3: _*); q.processAllAvailable()
      // watermark flush: a far-future non-label event fires every timer.
      // The sentinel user is derived from the fixture (max+1), so a
      // regenerated testdata with larger user_ids can never collide with
      // it — nor be silently filtered out below.
      val sentinelUser = evRows.map(_.user_id).max + 1L
      in.addData(RawEv(sentinelUser, ts("2030-01-01 00:00:00"), 999999L, "signup", 0.0))
      q.processAllAvailable()
      val out = s.table("pit_par").filter(col("user_id") < sentinelUser)
        .collect().map(_.toSeq).toSet
      q.stop()
      out
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val batch = graft.queries.InventoryQueries2.j19PitFeatures(s, dir)
      .drop("ts") // the stream emits the label id, not its display ts
      .collect().map(_.toSeq).toSet
    assert(streamed.size == batch.size,
      s"every label exactly once: stream=${streamed.size} batch=${batch.size}")
    assert(streamed == batch,
      s"online must equal offline: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
    assert(batch.size >= 50, "real label volume exercised")
  }

  test("PitKeeper adversarial property (r13 verdict task #4): random event " +
    "sets, random batch splits, random watermark jumps — stream ≡ the j19 " +
    "batch rule row-for-row, seeded and deterministic") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dayUs = 86400L * 1000000L
    // independent re-implementation of the j19 availability rules (NOT a
    // call into the engine): latest (ts, view_id) view at-or-before the
    // label; latest click day whose END ≤ the label instant; NULLs for
    // missing history — so a shared bug cannot self-confirm
    def model(events: Seq[RawEv]): Set[Seq[Any]] = {
      val byUser = events.groupBy(_.user_id)
      events.filter(_.event_type == "purchase").map { p =>
        val us = p.ts.getTime * 1000L
        val mine = byUser(p.user_id)
        val vs = mine.filter(e =>
          e.event_type == "view" && e.ts.getTime * 1000L <= us)
        val v = if (vs.isEmpty) None
                else Some(vs.maxBy(e => (e.ts.getTime * 1000L, e.event_id)))
        val days = mine.filter(_.event_type == "click")
          .groupBy(e => Math.floorDiv(e.ts.getTime * 1000L, dayUs) * dayUs)
          .filter { case (d, _) => d + dayUs <= us }
        val d = if (days.isEmpty) None else Some(days.maxBy(_._1))
        Seq[Any](p.event_id, p.user_id,
          v.map(e => Double.box(e.value)).orNull,
          v.map(e => Long.box(us - e.ts.getTime * 1000L)).orNull,
          d.map(x => java.time.LocalDate.ofEpochDay(x._1 / dayUs).toString).orNull,
          d.map(x => Long.box(x._2.size.toLong)).orNull,
          d.map(x => Long.box(
            x._2.map(e => math.floor(e.value * 100.0).toLong).sum)).orNull)
      }.toSet
    }
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      for (seed <- Seq(11L, 47L, 101L, 193L, 977L)) {
        val rnd = new scala.util.Random(seed)
        val base = ts("2024-03-01 00:00:00").getTime
        val events = (1 to 50 + rnd.nextInt(40)).map { i =>
          val etype = rnd.nextDouble() match {
            case x if x < 0.45 => "view"
            case x if x < 0.75 => "click"
            case x if x < 0.92 => "purchase"
            case _ => "signup"
          }
          RawEv(1L + rnd.nextInt(4), // 4 users → dense per-user interleaving
            new Timestamp(base + rnd.nextInt(3 * 86400 * 1000).toLong),
            i.toLong, etype, rnd.nextInt(500000) / 100.0)
        }
        // random batch splits over the ts-sorted stream (so nothing falls
        // behind the watermark and silently drops — arrival ORDER inside
        // each batch is shuffled, which is the adversarial part: state
        // folds must not depend on intra-batch order), watermark jumping
        // by whatever span each random batch happens to cover
        val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
        val nCuts = 1 + rnd.nextInt(4)
        val cuts = (Seq(0, sorted.size) ++
          Seq.fill(nCuts)(rnd.nextInt(sorted.size + 1))).distinct.sorted
        val batches = cuts.sliding(2).collect {
          case Seq(a, b) if b > a => rnd.shuffle(sorted.slice(a, b))
        }.toSeq
        val in = MemoryStream[RawEv]
        val qn = s"pit_prop_$seed"
        val q = Streams.pitFeaturesStream(in.toDF(), "ts", "0 seconds")
          .writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val sentinelUser = events.map(_.user_id).max + 1L
        in.addData(RawEv(sentinelUser, ts("2030-01-01 00:00:00"),
          999999L, "signup", 0.0))
        q.processAllAvailable()
        val got = s.table(qn).filter(col("user_id") < sentinelUser)
          .withColumn("feature_day", col("feature_day").cast("string"))
          .collect().map(_.toSeq).toSet
        q.stop()
        val want = model(events)
        assert(got.size == want.size,
          s"seed=$seed: every label exactly once (stream ${got.size} vs " +
            s"model ${want.size})")
        assert(got == want, s"seed=$seed: only-stream=" +
          s"${(got -- want).take(3)} only-model=${(want -- got).take(3)}")
      }
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("PeakKeeper adversarial property: random session sets (midnight " +
    "crossers, touches, dups), random batch splits and intra-batch " +
    "shuffles — stream ≡ the graded W19 batch sweep line, seeded and " +
    "deterministic") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      for (seed <- Seq(7L, 83L, 419L)) {
        val rnd = new scala.util.Random(seed)
        val base = ts("2024-03-01 00:00:00").getTime
        val sessions = (1 to 30 + rnd.nextInt(30)).map { _ =>
          val start = base + rnd.nextInt(3 * 86400 * 1000).toLong
          // durations up to ~30 h so midnight crossers are guaranteed
          Sess(new Timestamp(start),
            new Timestamp(start + 1000L + rnd.nextInt(30 * 3600 * 1000)))
        }
        val sorted = sessions.sortBy(_.session_start.getTime)
        val nCuts = 1 + rnd.nextInt(3)
        val cuts = (Seq(0, sorted.size) ++
          Seq.fill(nCuts)(rnd.nextInt(sorted.size + 1))).distinct.sorted
        val batches = cuts.sliding(2).collect {
          case Seq(a, b) if b > a => rnd.shuffle(sorted.slice(a, b))
        }.toSeq
        val in = MemoryStream[Sess]
        val qn = s"peak_prop_$seed"
        val q = Streams.peakConcurrencyStream(in.toDF(), "session_start",
            "session_end", "0 seconds")
          .writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        in.addData(Sess(ts("2030-01-01 00:00:00"), ts("2030-01-01 00:00:01")))
        q.processAllAvailable()
        val got = s.table(qn)
          .filter(col("day_start") < ts("2029-01-01 00:00:00"))
          .select(to_date(col("day_start")).as("day"), col("peak_concurrency"))
          .collect().map(_.toSeq).toSet
        q.stop()
        val want = graft.queries.InventoryQueries2
          .peakConcurrencyFrom(sessions.toDF())
          .collect().map(_.toSeq).toSet
        assert(got == want, s"seed=$seed: only-stream=${(got -- want).take(3)} " +
          s"only-batch=${(want -- got).take(3)}")
        assert(want.exists(_(1).asInstanceOf[Long] > 1L),
          s"seed=$seed: fixture must exercise real concurrency")
      }
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("pitFeaturesStream view-tail budget: a bot-grade view burst past " +
    "maxViewTail fails the query loudly, never silent state growth") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[RawEv]
      val q = Streams.pitFeaturesStream(in.toDF(), "ts", "0 seconds",
          maxViewTail = 8L)
        .writeStream.format("memory").queryName("pit_hot")
        .outputMode("append").start()
      in.addData((1L to 9L).map(i =>
        RawEv(1L, ts("2024-01-01 10:00:00"), i, "view", 1.0)): _*)
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(err.getMessage.contains("view tail exceeded") ||
        Option(err.getCause).exists(_.getMessage.contains("view tail exceeded")),
        err.getMessage.take(300))
      q.stop()
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("PitKeeper state-size observation (r14 verdict task #4): after a " +
    "full fixture replay plus a label-less flush batch, every key's " +
    "retained state is the pruned constant — pending empty, ≤1 view, " +
    "≤1 complete click day — read back from the checkpoint via the " +
    "statestore source; hundreds of ingested rows fold to O(keys)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evRows = graft.Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .orderBy(col("ts"), col("event_id")).collect().toSeq
      .map(r => RawEv(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val nViewsIngested = evRows.count(_.event_type == "view")
    assert(nViewsIngested >= 100, "fixture must carry real view volume")
    val users = evRows.map(_.user_id).distinct.sorted
    val ck = java.nio.file.Files.createTempDirectory("pit_state_ck").toString
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[RawEv]
      val q = Streams.pitFeaturesStream(in.toDF(), "ts", "0 seconds")
        .writeStream.format("memory").queryName("pit_state")
        .option("checkpointLocation", ck)
        .outputMode("append").start()
      in.addData(evRows: _*); q.processAllAvailable()
      // watermark flush fires every remaining label timer...
      val sentinelUser = users.max + 1L
      in.addData(RawEv(sentinelUser, ts("2030-01-01 00:00:00"), 999999L,
        "signup", 0.0))
      q.processAllAvailable()
      // ...then one label-LESS event per key under the flushed watermark
      // drives the input-path prune for EVERY key — including keys whose
      // last activity predates their final watermark (exactly the
      // label-less-user shape that leaked state before r15)
      in.addData(users.zipWithIndex.map { case (u, i) =>
        RawEv(u, ts("2030-01-02 00:00:00"), 1000000L + i, "signup", 0.0)
      }: _*)
      q.processAllAvailable()
      q.stop()
      def state(v: String) = s.read.format("statestore")
        .option("path", ck).option("stateVarName", v).load()
      assert(state("pending_labels").count() == 0L,
        "every label emitted exactly once and cleared")
      val viewCounts = state("views").groupBy(col("key"))
        .agg(count(lit(1)).as("n")).collect()
      assert(viewCounts.forall(_.getAs[Long]("n") <= 1L),
        s"≤1 retained view per key after the flush: " +
          viewCounts.map(_.toSeq).mkString(", "))
      val retainedViews = viewCounts.map(_.getAs[Long]("n")).sum
      assert(retainedViews <= users.size.toLong,
        s"retained=$retainedViews keys=${users.size}")
      assert(retainedViews * 10 <= nViewsIngested.toLong,
        s"state must FOLD, not mirror: retained=$retainedViews of " +
          s"$nViewsIngested ingested views")
      val dayCounts = state("day_clicks").groupBy(col("key"))
        .agg(count(lit(1)).as("n")).collect()
      assert(dayCounts.forall(_.getAs[Long]("n") <= 1L),
        s"≤1 retained click day per key after the flush: " +
          dayCounts.map(_.toSeq).mkString(", "))
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("sessionOverlapStream ≡ batch sessionOverlapPairs on real fixture " +
    "sessions (exactly-once per pair via the overlap-start-bin rule, " +
    "no dedup exchange)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val hourUs = 3600L * 1000000L
    val sessFull = graft.queries.InventoryQueries2.w8Sessionize(s, "/root/testdata/sf0.001")
      .select(col("user_id"), col("session_no"),
        col("session_start"), col("session_end"))
    val rows = sessFull.orderBy(col("session_start")).collect().toSeq.map(r =>
      FullSess(r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3)))
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val streamed = try {
      val in = MemoryStream[FullSess]
      val q = Streams.sessionOverlapStream(in.toDF(), "user_id", "session_no",
          "session_start", "session_end", hourUs, "0 seconds")
        .writeStream.format("memory").queryName("ovl_par")
        .outputMode("append").start()
      val (b1, b2) = rows.splitAt(rows.size / 2)
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(FullSess(999L, 0L, ts("2030-01-01 00:00:00"),
        ts("2030-01-01 00:00:01")))
      q.processAllAvailable()
      val out = s.table("ovl_par").filter(col("user_a") < 999L)
        .collect().map(_.toSeq).toSet
      q.stop()
      out
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val batch = graft.operators.Relational.sessionOverlapPairs(
        sessFull.select(col("user_id"), col("session_no"),
          unix_micros(col("session_start")).as("s_us"),
          unix_micros(col("session_end")).as("e_us")),
        binUs = hourUs)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream must equal batch: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
    assert(batch.size >= 10, "real overlap structure exercised")
  }

  test("OverlapKeeper adversarial property: random session sets (bin " +
    "spanners, touches, same-user pairs), random batch splits and " +
    "intra-batch shuffles — stream ≡ the graded batch overlap pairs, " +
    "seeded and deterministic") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val hourUs = 3600L * 1000000L
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      for (seed <- Seq(13L, 59L, 271L)) {
        val rnd = new scala.util.Random(seed)
        val base = ts("2024-03-01 00:00:00").getTime
        val perUserNo = scala.collection.mutable.Map.empty[Long, Long]
        val sessions = (1 to 25 + rnd.nextInt(20)).map { _ =>
          val u = 1L + rnd.nextInt(5)
          val no = perUserNo.updateWith(u)(c => Some(c.getOrElse(0L) + 1L)).get
          val start = base + rnd.nextInt(2 * 86400 * 1000).toLong
          // durations up to ~6 h so pairs span several hour bins
          FullSess(u, no, new Timestamp(start),
            new Timestamp(start + 1000L + rnd.nextInt(6 * 3600 * 1000)))
        }
        val sorted = sessions.sortBy(x => (x.session_start.getTime, x.user_id,
          x.session_no))
        val nCuts = 1 + rnd.nextInt(3)
        val cuts = (Seq(0, sorted.size) ++
          Seq.fill(nCuts)(rnd.nextInt(sorted.size + 1))).distinct.sorted
        val batches = cuts.sliding(2).collect {
          case Seq(a, b) if b > a => rnd.shuffle(sorted.slice(a, b))
        }.toSeq
        val in = MemoryStream[FullSess]
        val qn = s"ovl_prop_$seed"
        val q = Streams.sessionOverlapStream(in.toDF(), "user_id", "session_no",
            "session_start", "session_end", hourUs, "0 seconds")
          .writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val sentinelUser = sessions.map(_.user_id).max + 1L
        in.addData(FullSess(sentinelUser, 0L, ts("2030-01-01 00:00:00"),
          ts("2030-01-01 00:00:01")))
        q.processAllAvailable()
        val got = s.table(qn).filter(col("user_a") < sentinelUser)
          .collect().map(_.toSeq).toSet
        q.stop()
        val want = graft.operators.Relational.sessionOverlapPairs(
            sessions.toDF().select(col("user_id"), col("session_no"),
              unix_micros(col("session_start")).as("s_us"),
              unix_micros(col("session_end")).as("e_us")),
            binUs = hourUs)
          .collect().map(_.toSeq).toSet
        assert(got == want, s"seed=$seed: only-stream=${(got -- want).take(3)} " +
          s"only-batch=${(want -- got).take(3)}")
        assert(want.nonEmpty, s"seed=$seed: fixture must produce real overlaps")
      }
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("sessionOverlapStream boundary pin: a pair sharing several bins " +
    "emits ONCE from the overlap-start bin; an end-inclusive touch " +
    "emits overlap 0; same-user session pairs never emit; a hot bin " +
    "over the pair budget fails the query loudly") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val hourUs = 3600L * 1000000L
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[FullSess]
      val q = Streams.sessionOverlapStream(in.toDF(), "user_id", "session_no",
          "session_start", "session_end", hourUs, "0 seconds")
        .writeStream.format("memory").queryName("ovl_bnd")
        .outputMode("append").start()
      in.addData(
        // users 1 and 2 overlap for THREE shared hour bins (10:30-13:00)
        FullSess(1L, 0L, ts("2024-01-01 10:00:00"), ts("2024-01-01 13:00:00")),
        FullSess(2L, 0L, ts("2024-01-01 10:30:00"), ts("2024-01-01 14:00:00")),
        // end-inclusive touch: user 3 starts the instant user 1 ends
        FullSess(3L, 0L, ts("2024-01-01 13:00:00"), ts("2024-01-01 13:10:00")),
        // same user, second session, overlapping user 2's: emits vs 2,
        // never vs user 1's session 0 owner (distinct users required)
        FullSess(1L, 1L, ts("2024-01-01 13:30:00"), ts("2024-01-01 13:40:00")))
      q.processAllAvailable()
      in.addData(FullSess(999L, 0L, ts("2030-01-01 00:00:00"),
        ts("2030-01-01 00:00:01")))
      q.processAllAvailable()
      val out = s.table("ovl_bnd").filter(col("user_a") < 999L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      q.stop()
      assert(out == Set(
        (1L, 0L, 2L, 0L, 9000L * 1000000L),        // once, not 3x
        (1L, 0L, 3L, 0L, 0L),                       // the touch instant
        (2L, 0L, 3L, 0L, 600L * 1000000L),
        (1L, 1L, 2L, 0L, 600L * 1000000L)), out)
      // hot bin: 4 concurrent sessions -> C(4,2)=6 pairs > budget 5
      val in2 = MemoryStream[FullSess]
      val q2 = Streams.sessionOverlapStream(in2.toDF(), "user_id", "session_no",
          "session_start", "session_end", hourUs, "0 seconds",
          maxPairsPerBin = 5L)
        .writeStream.format("memory").queryName("ovl_hot")
        .outputMode("append").start()
      in2.addData((1L to 4L).map(u =>
        FullSess(u, 0L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00"))): _*)
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(err.getMessage.contains("pair bound exceeded") ||
        Option(err.getCause).exists(_.getMessage.contains("pair bound exceeded")),
        err.getMessage.take(300))
      q2.stop()
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("cumulativeActivesStream ≡ batch W18 first-seen decomposition on " +
    "real fixture events (exactly-once ordered day emission, " +
    "zero-new-user days included)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ev = graft.Tables.events(s, "/root/testdata/sf0.001")
      .filter(col("user_id") < 6)
      .select(col("user_id"), col("ts").as("time"), col("event_id"), col("value"))
    val rows = ev.collect().toSeq.map(r =>
      Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val streamed = try {
      val in = MemoryStream[Ev]
      val q = Streams.cumulativeActivesStream(in.toDF(), "time", "user_id",
          "0 seconds")
        .writeStream.format("memory").queryName("cum_par")
        .outputMode("append").start()
      val (b1, b2) = rows.splitAt(rows.size / 2)
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(Ev(999L, ts("2030-01-01 00:00:00"), 0L, 0.0)) // flush watermark
      q.processAllAvailable()
      val out = s.table("cum_par")
        .filter(col("day_start") < ts("2029-01-01 00:00:00"))
        .select(to_date(col("day_start")).as("day"), col("new_users"),
          col("cum_actives"))
        .collect().map(_.toSeq).toSet
      q.stop()
      out
    } finally {
      if (prevProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    // batch reference: the W18 first-seen rule on the same rows
    val firstSeen = ev.select(col("user_id"), to_date(col("time")).as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    val perDay = firstSeen.groupBy(col("first_day"))
      .agg(count(lit(1)).as("new_users"))
    val days = ev.select(to_date(col("time")).as("day")).distinct()
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val batch = days.join(perDay, col("day") === col("first_day"), "left")
      .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_actives", sum(col("new_users")).over(w))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream must equal batch: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
    assert(batch.size >= 5, "multi-day fixture really exercised")
    assert(batch.exists(_(1).asInstanceOf[Long] == 0L),
      "a zero-new-user day (all actives returning) really exercised")
  }

  test("sampleAppendStream: per-batch bottom-k candidates re-rank to the " +
    "whole-corpus sample; a verbatim re-delivered batch is absorbed") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.operators.Mix
    val store = java.nio.file.Files.createTempDirectory("smp_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("smp_ckpt").toString
    def doc(i: Long) = SampleDoc(i, if (i % 2 == 0) "a" else "b", s"text body $i")
    val b1 = (1L to 10L).map(doc)
    val b2 = (11L to 20L).map(doc)
    val in = MemoryStream[SampleDoc]
    val q = Streams.sampleAppendStream(in.toDF(), "source", "doc_id",
      "text", 3, store, ckpt)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(b1: _*); q.processAllAvailable() // verbatim re-delivery
    q.stop()
    val rows = (x: org.apache.spark.sql.DataFrame) =>
      x.orderBy("source", "rank").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSeq
    val served = Streams.sampleServe(s, store, "source", "doc_id", 3)
    val batch = Mix.sampleFixedK((b1 ++ b2).toDF(), "source", "doc_id",
      "text", 3)
    assert(rows(served) == rows(batch),
      "served sample must equal the whole-corpus bottom-k despite replay")
    // the store demonstrably HOLDS the duplicate candidate rows — it is
    // the serving algebra, not dedup-on-write, that absorbs them
    val stored = graft.sources.PartitionedStore.readVersion(s, store)
    assert(stored.count() > stored.distinct().count(),
      "replayed candidates should be physically present pre-distinct")
  }

  test("indexAppendStream + KMV set algebra: replayed sketch batches " +
    "converge by algebra alone (no ledger); serve ≡ whole-corpus build") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.operators.Relational
    import graft.sources.PartitionedStore
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val k = 8
    // 12 distinct keys on day 1 (standing), 15 new ones on day 2 (stream)
    val day1 = (1 to 20).map(i => KmvEvt(ts("2024-01-01 05:00:00"), s"u${i % 12}"))
    val day2 = (1 to 20).map(i => KmvEvt(ts("2024-01-02 05:00:00"), s"v${i % 15}"))
    val path = tmp("kmv_stream_store")
    PartitionedStore.commitVersion(
      Relational.kmvDailySketches(day1.toDF(), "ts", "uk", k), path)
    // nightly-delta loop: each micro-batch's daily partials append as a
    // new version — NO ledger, no anti-join: k-min-of-union is
    // idempotent, so a verbatim re-delivered batch is absorbed by the
    // serving distinct+TakeOrdered itself
    val in = MemoryStream[KmvEvt]
    val q = Streams.indexAppendStream(in.toDF(), tmp("kmv_stream_ckpt")) {
      (_, b) =>
        PartitionedStore.commitVersion(
          Relational.kmvDailySketches(b, "ts", "uk", k), path, append = true)
        ()
    }
    in.addData(day2: _*)
    q.processAllAvailable()
    in.addData(day2: _*) // verbatim re-delivery of the whole batch
    q.processAllAvailable()
    q.stop()
    val served = Relational.kmvEstimate(
      Relational.kmvSpan(PartitionedStore.readVersion(s, path), k), k)
      .collect()(0)
    val whole = Relational.kmvEstimate(
      Relational.kmvBuild((day1 ++ day2).toDF(), "uk", k), k)
      .collect()(0)
    assert(served.toSeq == whole.toSeq,
      "served estimate must equal the whole-corpus build bit for bit")
    val stored = PartitionedStore.readVersion(s, path)
    assert(stored.count() > stored.distinct().count(),
      "fixture must actually contain replayed duplicate rows")
  }

  test("indexAppendStream: BM25 and IVF legs stay query-fresh across micro-batches; results equal a batch rebuild") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    import graft.operators.{Search, Similarity}
    // BM25 leg: standing index, then two streamed batches of new docs
    val standing = Seq(
      (0L, "spark shuffles data between stages always"),
      (1L, "weather report says rain and wind tomorrow")).toDF("doc_id", "text")
    val bmPath = tmp("bm25_stream_idx")
    Search.writeBm25Index(standing, "doc_id", "text", bmPath)
    val inB = MemoryStream[LshDoc]
    val qb = Streams.indexAppendStream(inB.toDF(), tmp("bm25_stream_ckpt")) {
      (sp, b) => Search.appendBm25Index(sp, b, "doc_id", "text", bmPath)
    }
    inB.addData(LshDoc(10L, "cricket scores improve with practice daily"))
    qb.processAllAvailable()
    inB.addData(LshDoc(11L, "fresh cricket coverage arrives this evening"),
      LshDoc(10L, "cricket scores improve with practice daily")) // re-delivery no-ops
    qb.processAllAvailable()
    qb.stop()
    val qs = Seq((100L, "cricket coverage")).toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val streamed = rows(Search.bm25IndexTopK(s, bmPath, qs,
      "doc_id", "query_id", "qtext", 5))
    val rebuilt = tmp("bm25_rebuild_idx")
    Search.writeBm25Index(standing.union(Seq(
      (10L, "cricket scores improve with practice daily"),
      (11L, "fresh cricket coverage arrives this evening")).toDF("doc_id", "text")),
      "doc_id", "text", rebuilt)
    assert(streamed == rows(Search.bm25IndexTopK(s, rebuilt, qs,
      "doc_id", "query_id", "qtext", 5)))
    assert(streamed.map(_._2).contains(11L))
    // IVF leg: appended vectors are probe-reachable through the SAME loop
    def vec(id: Long) = Array.tabulate(4)(d => if (d == (id % 4).toInt) 1.0f else 0.0f)
    val emb = (0L until 40L).map(id => (id, vec(id))).toDF("vec_id", "embedding")
    val ivfPath = tmp("ivf_stream_idx")
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", 4, ivfPath)
    val inV = MemoryStream[IvfVec]
    val qv = Streams.indexAppendStream(inV.toDF(), tmp("ivf_stream_ckpt")) {
      (sp, b) => Similarity.appendIvfIndex(sp, b, "vec_id", "embedding", ivfPath)
    }
    // a direction no corpus vector has (dim-0 cell, but tilted into dim 1)
    // so the appended vector is the unique cosine-1 answer for its probe
    val novel = Array(0.9f, 0.4f, 0.0f, 0.0f)
    inV.addData(IvfVec(100L, novel))
    qv.processAllAvailable()
    qv.stop()
    val probe = Seq((200L, novel)).toDF("vec_id", "embedding")
    val hits = Similarity.ivfIndexTopK(s, ivfPath, probe, "vec_id", "embedding",
        k = 3, nProbe = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(hits.contains(100L), s"streamed vector must be probe-reachable, got $hits")
  }

  test("indexAppendStream: trigram substring leg stays query-fresh; " +
    "serve ≡ batch rebuild over the union corpus") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    import graft.operators.Search
    val standing = Seq((0L, "data stream processing"),
      (1L, "weather report tonight")).toDF("doc_id", "text")
    val path = tmp("tri_stream_idx")
    Search.writeTrigramIndex(standing, "doc_id", "text", Nil, path)
    val in = MemoryStream[LshDoc]
    val q = Streams.indexAppendStream(in.toDF(), tmp("tri_stream_ckpt")) {
      (sp, b) => Search.appendTrigramIndex(sp, b, "doc_id", "text", Nil, path)
    }
    in.addData(LshDoc(10L, "the data streamer arrives"))
    q.processAllAvailable()
    in.addData(LshDoc(11L, "more weather data streaming in"),
      LshDoc(10L, "the data streamer arrives")) // verbatim re-delivery no-ops
    q.processAllAvailable()
    q.stop()
    // the needle crosses a token boundary — the case no tokenized index
    // can answer, and exactly what the trigram leg must keep fresh
    val served = Search.substringIndexLookup(s, path, "ta str", "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rebuiltPath = tmp("tri_rebuild_idx")
    Search.writeTrigramIndex(standing.union(Seq(
        (10L, "the data streamer arrives"),
        (11L, "more weather data streaming in")).toDF("doc_id", "text")),
      "doc_id", "text", Nil, rebuiltPath)
    val rebuilt = Search.substringIndexLookup(s, rebuiltPath, "ta str",
        "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(served == rebuilt, s"streamed index diverged: $served vs $rebuilt")
    assert(served == Set(0L, 10L, 11L), s"expected both streamed docs: $served")
  }

  test("indexAppendStream: phrase leg — a streamed doc becomes phrase-" +
    "searchable, replays no-op, streamed equals a batch rebuild") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    import graft.operators.Search
    val standing = Seq(
      (0L, "spark shuffles data between stages always"),
      (1L, "weather report says rain and wind tomorrow")).toDF("doc_id", "text")
    val path = tmp("phrase_stream_idx")
    Search.writePhraseIndex(standing, "doc_id", "text", Seq.empty, path)
    val in = MemoryStream[LshDoc]
    val q = Streams.indexAppendStream(in.toDF(), tmp("phrase_stream_ckpt")) {
      (sp, b) => Search.appendPhraseIndex(sp, b, "doc_id", "text",
        Seq.empty, path)
    }
    in.addData(LshDoc(10L, "cricket scores improve with practice daily"))
    q.processAllAvailable()
    in.addData(LshDoc(11L, "fresh cricket scores arrive this evening"),
      LshDoc(10L, "cricket scores improve with practice daily")) // replay no-ops
    q.processAllAvailable()
    q.stop()
    def ids(p: String) = Search.phraseIndexMatch(s, p, "cricket scores",
      "doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(path) == Set(10L, 11L))
    val rebuilt = tmp("phrase_rebuild_idx")
    Search.writePhraseIndex(standing.union(Seq(
      (10L, "cricket scores improve with practice daily"),
      (11L, "fresh cricket scores arrive this evening")).toDF("doc_id", "text")),
      "doc_id", "text", Seq.empty, rebuilt)
    assert(ids(path) == ids(rebuilt))
  }

  test("lshIngestGate: standing-index flag, intra-batch flag, append-back gates the next batch, index survives restart") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (idx, hits, acc, ledger, ckpt) =
      (tmp("lsh_idx"), tmp("lsh_hits"), tmp("lsh_acc"), tmp("lsh_ledger"), tmp("lsh_ckpt"))
    val tA = "the standing corpus holds this exact sentence about markets today"
    val tB = "a completely different standing document about weather patterns"
    val tC = "fresh arrival number one talks about sports and racing cars"
    val tD = "fresh arrival number two discusses cooking pasta with tomatoes"
    val tE = "an in batch duplicate pair shares this very sentence entirely"
    val tF = "another fresh text that survives the restart boundary check fine"
    Dedup.writeLshIndex(Seq((0L, tA), (1L, tB)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val in = MemoryStream[LshDoc]
    def start() = Streams.lshIngestGate(in.toDF(), idx, "doc_id", "text",
      threshold = 0.9, hits, acc, ledger, ckpt)
    val q1 = start()
    in.addData(LshDoc(10L, tC)) // fresh: passes and is appended
    q1.processAllAvailable()
    // batch 2: 20 dups batch-1's ACCEPTED doc (append-back gating), 21 is
    // fresh, 22/23 are an intra-batch pair, 24 dups the STANDING corpus
    in.addData(LshDoc(20L, tC), LshDoc(21L, tD),
      LshDoc(22L, tE), LshDoc(23L, tE), LshDoc(24L, tA))
    q1.processAllAvailable()
    q1.stop()
    val flagged = s.read.parquet(hits)
      .select("new_id", "old_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged == Set((20L, 10L), (23L, 22L), (24L, 0L)))
    // restart from the same checkpoint: the gate's state IS the index +
    // ledger — batch 3 must be flagged against batch 2's accepted docs
    val q2 = start()
    in.addData(LshDoc(30L, tD), LshDoc(31L, tF)) // 30 dups pre-restart 21
    q2.processAllAvailable()
    q2.stop()
    val flagged2 = s.read.parquet(hits)
      .select("new_id", "old_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged2 == flagged + ((30L, 21L)))
    val accepted = s.read.parquet(acc).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(accepted == Set(10L, 21L, 22L, 31L))
    // the index itself holds exactly the standing + accepted docs: a
    // probe with copies of every accepted text hits all of them
    val probe = Dedup.probeLshIndex(s, idx,
      Seq((90L, tC), (91L, tD), (92L, tE), (93L, tF)).toDF("doc_id", "text"),
      "doc_id", "text", 0.9)
    assert(probe.select("old_id").collect().map(_.getLong(0)).toSet ==
      Set(10L, 21L, 22L, 31L))
  }

  test("dqGateStream: clean batch accepted, dirty batch quarantined whole, per-batch reports append") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.operators.DataQuality.{Completeness, MinBound}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (rep, acc, quar, ledger, ckpt) =
      (tmp("dq_rep"), tmp("dq_acc"), tmp("dq_quar"), tmp("dq_ledger"), tmp("dq_ckpt"))
    val in = MemoryStream[LshDoc]
    // null-able projection: doc_id <= 0 maps text to NULL (the poison)
    val shaped = in.toDF().select(col("doc_id"),
      when(col("doc_id") <= 0L, lit(null).cast("string"))
        .otherwise(col("text")).as("text"))
    val q = Streams.dqGateStream(shaped, "docs",
      Seq(Completeness("text"), MinBound("doc_id", 1L)),
      rep, acc, quar, ledger, ckpt)
    in.addData(LshDoc(1L, "clean one"), LshDoc(2L, "clean two"))
    q.processAllAvailable()
    in.addData(LshDoc(3L, "fine"), LshDoc(0L, "becomes null"))
    q.processAllAvailable()
    q.stop()
    val accepted = s.read.parquet(acc).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val quarantined = s.read.parquet(quar).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(accepted == Set(1L, 2L))
    assert(quarantined == Set(3L, 0L)) // WHOLE batch held together
    val report = s.read.parquet(rep)
      .select("batch_id", "check_name", "passed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    // 2 checks per batch; batch 2 fails completeness AND min_bound
    assert(report.length == 4)
    assert(report.filter(_._1 == 0L).forall(_._3))
    assert(report.filter(_._1 == 1L).forall(!_._3))
  }
}

/** Top-level (not inner) so Spark can construct instances without an
  * outer-class scope when the MemoryStream round-trips it. */
case class Ev(user_id: Long, time: Timestamp, event_id: Long, value: Double)
case class Sess(session_start: Timestamp, session_end: Timestamp)
case class FullSess(user_id: Long, session_no: Long,
                    session_start: Timestamp, session_end: Timestamp)
case class SampleDoc(doc_id: Long, source: String, text: String)
case class LshDoc(doc_id: Long, text: String)
case class IvfVec(vec_id: Long, embedding: Array[Float])
case class KmvEvt(ts: Timestamp, uk: String)
case class RawEv(user_id: Long, ts: Timestamp, event_id: Long,
                 event_type: String, value: Double)
