package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftClocks, SlidingWindowLog}

/** The S1/T6 rate-limited MicroBatchStream: sliding-window-log semantics
  * (RateLimiter.py:5-49 parity) and budget-bounded offset advancement
  * under a manual clock — no sleeps, fully deterministic. */
class RateLimitedSourceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  test("SlidingWindowLog: burst grants, denies inside window, frees as grants expire") {
    val log = new SlidingWindowLog(maxGrants = 3, windowMillis = 60000L)
    assert(log.free(1000L) == 3)
    log.grant(1000L, 2)
    assert(log.free(1000L) == 1)
    log.grant(5000L, 1)
    assert(log.free(5000L) == 0)
    // no capacity → next availability is when the OLDEST grant exits
    assert(log.availableAt(5000L) == 1000L + 60000L)
    // at 61s the two t=1000 grants have left the window
    assert(log.free(61000L) == 2)
    assert(log.availableAt(61000L) == 61000L)
  }

  test("S1 end-to-end: rate-limited source → wire parse → silver (the §3.1 ingest shape)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rl_wire").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_rl_wire_ck").toString
    val payloads = Seq(
      (0L, """{"success":true,"lowest_price":"0,03€","median_price":"0,05€","volume":"1,234"}"""),
      (1L, """{"success":true,"lowest_price":"$1.50","median_price":"$1.75","volume":"56"}"""),
      (2L, """{"success":true,"lowest_price":"2,10€","median_price":"2,20€","volume":"7"}"""))
    payloads.toDF("id", "payload").coalesce(1).write.mode("overwrite").parquet(dir)
    val clock = graft.sources.GraftClocks.manual("rl-wire")
    clock.set(0L)
    val stream = s.readStream.format("graft.sources.RateLimitedPayloadProvider")
      .option("path", dir)
      .option("rowsPerWindow", "2").option("windowSeconds", "60")
      .option("clockKey", "rl-wire")
      .load()
    val silver = graft.sources.Wire.silverPriceOverview(
      graft.sources.Wire.bronze(stream, graft.sources.Wire.priceOverviewWire))
    val q = silver.writeStream.format("memory").queryName("rl_silver")
      .option("checkpointLocation", ck).outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = s.table("rl_silver").orderBy("id").collect()
      assert(first.length == 2) // the API budget gates the parse, not vice versa
      assert(first(0).getDouble(first(0).fieldIndex("lowest_price")) == 0.03)
      assert(first(0).getString(first(0).fieldIndex("currency")) == "EUR")
      assert(first(1).getString(first(1).fieldIndex("currency")) == "USD")
      clock.set(61000L)
      q.processAllAvailable()
      val all = s.table("rl_silver").orderBy("id").collect()
      assert(all.length == 3)
      assert(all(2).getInt(all(2).fieldIndex("volume")) == 7)
    } finally q.stop()
  }

  test("rate-limited source: admits at most rowsPerWindow per window, resumes on clock advance") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rl_payload").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_rl_ck").toString
    (0L until 12L).map(i => (i, s"payload_$i")).toDF("poll_id", "body")
      .coalesce(1).write.mode("overwrite").parquet(dir)

    val clock = GraftClocks.manual("rl-spec")
    clock.set(0L)
    val q = s.readStream.format("graft.sources.RateLimitedPayloadProvider")
      .option("path", dir).option("idCol", "poll_id")
      .option("rowsPerWindow", "5").option("windowSeconds", "60")
      .option("clockKey", "rl-spec")
      .load()
      .writeStream.format("memory").queryName("rl_src_out")
      .option("checkpointLocation", ck)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(s.table("rl_src_out").count() == 5) // budget spent, stream idles
      q.processAllAvailable()
      assert(s.table("rl_src_out").count() == 5) // still capped — clock frozen
      clock.set(61000L) // window passed: 5 more tokens
      q.processAllAvailable()
      assert(s.table("rl_src_out").count() == 10)
      clock.set(122000L) // remaining 2 rows drain; no over-admission past EOF
      q.processAllAvailable()
      val out = s.table("rl_src_out").orderBy("poll_id").collect()
      assert(out.length == 12)
      assert(out.map(_.getLong(0)).toSeq == (0L until 12L)) // in id order, no dup/loss
      assert(out.last.getString(1) == "payload_11")
    } finally q.stop()
  }

  test("restart safety: a clean restart resumes at the checkpointed offset — no re-emit, no budget burned on old ids") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rl_restart").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_rl_restart_ck").toString
    (0L until 10L).map(i => (i, s"p_$i")).toDF("poll_id", "body")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val clock = GraftClocks.manual("rl-restart")
    clock.set(0L)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start() = s.readStream.format("graft.sources.RateLimitedPayloadProvider")
      .option("path", dir).option("idCol", "poll_id")
      .option("rowsPerWindow", "6").option("windowSeconds", "60")
      .option("clockKey", "rl-restart")
      .load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= batch.select("poll_id").collect().map(_.getLong(0)) }
        ()
      }
      .start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(got.synchronized(got.sorted.toSeq) == (0L until 6L)) // first window's budget
    } finally q1.stop() // all batches committed — the clean-restart case
    clock.set(61000L)   // fresh window for the restarted stream
    val q2 = start()    // new MicroBatchStream instance, planned must re-seed
    try {
      q2.processAllAvailable()
      // a restart that forgot the checkpoint would spend this window's 6
      // tokens re-planning ids 0..5 and emit nothing (or re-emit dups);
      // the restored offset must make the very first post-restart window
      // deliver exactly the unprocessed tail, once
      assert(got.synchronized(got.sorted.toSeq) == (0L until 10L))
      assert(got.synchronized(got.size) == 10) // no duplicates across restart
    } finally q2.stop()
  }
}
