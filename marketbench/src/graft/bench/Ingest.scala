package graft.bench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.{PartitionedStore, Wire}
import graft.streaming.Streams

/** One raw poll response as the connector hands it to the engine. */
final case class WireRecord(cycle: Int, endpoint: String, item: String,
                            poll_ts: java.sql.Timestamp, payload: String)

/** ingest: closed-loop replay of seeded poll cycles through a MemoryStream
  * of raw price_history payloads (each carries the item's full history, as
  * Steam returns it):
  *
  *   bronze → silverPriceHistory → deltaAppendDedup
  *     ├─ idempotentSink → PartitionedStore.append   (store query)
  *     └─ cdcLatestPush → counting subscriber        (push query)
  *
  * Each cycle is added only after the previous one is landed and pushed, so
  * every cycle is exactly one micro-batch of each query (no-data batches are
  * off) and batch id = cycle. A cycle's latency runs from addData until the
  * later of its push callback and its history append returns. The other
  * three endpoints' payloads are parsed only in the traced run's wire stage:
  * landing them per cycle (three more partitioned appends) made a cycle
  * ~40% slower than the run budget holds. */
final class Ingest(spark: SparkSession, a: Main.Args, res: Result) {
  import spark.implicits._
  private val sc = spark.sparkContext
  private val trigger = Trigger.ProcessingTime(0)
  private val cfg = Io.readJson(s"${a.in}/ingest.json")
  private val lateness = cfg("lateness")

  // per-cycle bookkeeping written from the stream threads
  private val doneNs = new ConcurrentHashMap[Long, java.lang.Long]()
  private val pushed = new ConcurrentHashMap[Long, String]()
  private val cycleSpan = new ConcurrentHashMap[Long, java.lang.Long]()
  @volatile private var pushCycle = -1L

  private final class Pipeline(val mem: MemoryStream[WireRecord], val store: String,
                               val queries: Map[String, StreamingQuery]) {
    def stop(): Unit = queries.values.foreach(_.stop())
  }

  private def finish(cycle: Long): Unit =
    doneNs.merge(cycle, System.nanoTime(), (x, y) => math.max(x, y))

  /** Runs `body` as a span under the cycle's root span, charging the jobs it
    * launches to that cycle. */
  private def inCycle[T](cycle: Long, name: String)(body: => T): T = {
    val parent = cycleSpan.get(cycle)
    if (!Trace.enabled || parent == null) body
    else Trace.child(sc, parent, cycle, name)(body)
  }

  private def start(run: String): Pipeline = {
    implicit val ctx = spark.sqlContext
    val store = s"${a.work}/$run/store"
    val mem = MemoryStream[WireRecord]
    val raw = mem.toDF().select(struct(col("item"), col("poll_ts")).as("id"),
      col("endpoint"), col("payload"))
    val history = Wire.silverPriceHistory(
        Wire.bronze(raw.filter(col("endpoint") === "price_history"), Wire.priceHistoryWire))
      .select(col("id.item").as("market_hash_name"), col("time"), col("price"), col("volume"))
    val deduped = Streams.deltaAppendDedup(history, "market_hash_name", "time", lateness)
    val storeQ = Streams.idempotentSink(deduped, s"${a.work}/$run/ledger-history", trigger) {
      (batch, id) =>
        inCycle(id, "store.append")(
          PartitionedStore.append(batch, s"$store/price_history", "time", "market_hash_name"))
        finish(id)
    }
    val pushQ = Streams.cdcLatestPush(deduped, "market_hash_name", "time", trigger, latest => {
      val c = pushCycle
      inCycle(c, "streams.push") {
        val rows = latest.collect().map(r =>
          s"${r.getString(0)}|${Io.secs(r.getTimestamp(1))}|${math.round(r.getDouble(2) * 1000)}|${r.getInt(3)}")
        pushed.put(c, rows.sorted.mkString(";"))
      }
      finish(c)
    })
    new Pipeline(mem, store, Map("store" -> storeQ, "push" -> pushQ))
  }

  private val snapshotSilvers: Seq[(String, org.apache.spark.sql.types.StructType, DataFrame => DataFrame)] =
    Seq(("price_overview", Wire.priceOverviewWire, Wire.silverPriceOverview),
      ("orders_histogram", Wire.ordersHistogramWire, Wire.silverOrdersHistogram),
      ("orders_activity", Wire.ordersActivityWire, Wire.silverOrdersActivity))

  private def silver(batch: DataFrame, ep: String): DataFrame = {
    val (_, schema, f) = snapshotSilvers.find(_._1 == ep).get
    f(Wire.bronze(batch.filter(col("endpoint") === ep), schema))
      .select(col("id.item").as("market_hash_name"), col("id.poll_ts").as("timestamp"), col("*"))
      .drop("id")
  }

  def run(): Unit = {
    val nCycles = a.warm + a.measure * (if (a.trace) 3 else 1)
    var cycles: Map[Int, Seq[WireRecord]] = Map.empty
    var p: Pipeline = null
    val reps = (1 to 3).map { r =>
      if (p != null) { p.stop(); Io.deleteTree(s"${a.work}/rep${r - 1}") }
      val t0 = System.nanoTime()
      cycles = Io.readLines(s"${a.in}/cycles.jsonl").map(Io.parseFlat).map(m =>
        WireRecord(m("cycle").toInt, m("endpoint"), m("item"),
          java.sql.Timestamp.valueOf(m("poll_ts")), m("payload"))).groupBy(_.cycle)
      p = start(s"rep$r")
      (System.nanoTime() - t0) / 1e9
    }
    res.put("setup_reps_s", reps)
    require(cycles.size == nCycles, s"cycles.jsonl holds ${cycles.size} cycles, need $nCycles")

    try {
      phase(p, cycles, "warm", 0, a.warm)
      phase(p, cycles, "plain", a.warm, a.measure)
      if (a.trace) traced(p, cycles)
    } finally p.stop()

    val hist = spark.read.parquet(s"${p.store}/price_history")
    val h = hist.agg(count(lit(1)), sum(round(col("price") * 1000).cast("long"))).head()
    res.put("store_check", Map("history_rows" -> h.getLong(0), "history_price_milli" -> h.getLong(1)))
    res.put("store_bytes", Io.treeBytes(p.store))
    res.put("store_rows", h.getLong(0))
  }

  private def phase(p: Pipeline, cycles: Map[Int, Seq[WireRecord]], name: String,
                    from: Int, n: Int): Unit = {
    var payloads = 0L
    val t0 = System.nanoTime()
    for (c <- from until from + n) {
      val recs = cycles(c).filter(_.endpoint == "price_history")
      payloads += recs.size
      val rootId = if (Trace.enabled) Trace.nextId() else 0L
      if (Trace.enabled) cycleSpan.put(c.toLong, rootId)
      pushCycle = c
      val s0 = System.nanoTime()
      p.mem.addData(recs)
      p.queries.values.foreach(_.processAllAvailable())
      val end = Option(doneNs.get(c.toLong)).map(_.longValue).getOrElse(System.nanoTime())
      if (Trace.enabled) Trace.record(Span(rootId, 0L, c.toLong, "ingest.cycle", s0, end))
      res.op(name, c, "cycle", end - s0, Option(pushed.get(c.toLong)).getOrElse(""))
    }
    res.put(s"${name}_wall_s", (System.nanoTime() - t0) / 1e9)
    res.put(s"${name}_units", payloads)
  }

  private def traced(p: Pipeline, cycles: Map[Int, Seq[WireRecord]]): Unit = {
    val from = a.warm + a.measure
    val l = new Listeners(spark, b => Option(cycleSpan.get(b)).map(id => (b, id.longValue)))
    val files0 = Io.dataFiles(p.store)
    val bytes0 = Io.treeBytes(p.store)
    Trace.enabled = true
    phase(p, cycles, "traced", from, a.measure)
    Trace.enabled = false
    Layers.write(a, res, l)
    res.put("store_delta", Map("files" -> (Io.dataFiles(p.store) - files0),
      "bytes" -> (Io.treeBytes(p.store) - bytes0)))
    l.drain()
    val role = p.queries.map { case (k, q) => q.id.toString -> k }
    val sb = new StringBuilder("query\tbatch\ttrigger_ms\tadd_batch_ms\tquery_planning_ms\twal_commit_ms\t" +
      "commit_offsets_ms\tjobs\tinput_rows\tstate_rows\tstate_updated\tlate_dropped\n")
    l.streams.progress.forEach { pr =>
      if (pr.batchId >= from && pr.batchId < from + a.measure) {
        def d(k: String) = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val st = pr.stateOperators.headOption
        val jobs = l.engine.synchronized(l.engine.jobsPerBatch.getOrElse((pr.id.toString, pr.batchId), 0L))
        sb.append(s"${role.getOrElse(pr.id.toString, "?")}\t${pr.batchId}\t${d("triggerExecution")}\t" +
          s"${d("addBatch")}\t${d("queryPlanning")}\t${d("walCommit")}\t${d("commitOffsets")}\t$jobs\t" +
          s"${pr.numInputRows}\t${st.map(_.numRowsTotal).getOrElse(0L)}\t" +
          s"${st.map(_.numRowsUpdated).getOrElse(0L)}\t${st.map(_.numRowsDroppedByWatermark).getOrElse(0L)}\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.out}/streams.tsv"), sb.toString)
    l.remove()
    phase(p, cycles, "plain2", from + a.measure, a.measure)
    wireStage(cycles, from)
  }

  /** Traced run only: the four silvers over the traced cycles' payloads as a
    * static frame, written to the `noop` sink, so parse cost is timed apart
    * from the stream machinery. */
  private def wireStage(cycles: Map[Int, Seq[WireRecord]], from: Int): Unit = {
    val recs = (from until from + a.measure).flatMap(cycles)
    val raw = spark.createDataset(recs).toDF()
      .select(struct(col("item"), col("poll_ts")).as("id"), col("endpoint"), col("payload"))
      .cache()
    raw.count()
    val hist = Wire.silverPriceHistory(
      Wire.bronze(raw.filter(col("endpoint") === "price_history"), Wire.priceHistoryWire))
    val silvers = ("price_history", hist) +: snapshotSilvers.map(s => (s._1, silver(raw, s._1)))
    val t0 = System.nanoTime()
    silvers.foreach { case (_, df) => df.write.format("noop").mode("overwrite").save() }
    val ms = (System.nanoTime() - t0) / 1e6
    val rowsOut = silvers.map(_._2.count()).sum
    val histIn = Wire.bronze(raw.filter(col("endpoint") === "price_history"), Wire.priceHistoryWire)
      .agg(sum(size(col("w.prices")))).head().getLong(0)
    val unparsed = (histIn - hist.count()) +
      silver(raw, "price_overview").filter(col("lowest_price").isNull || col("median_price").isNull ||
        col("volume").isNull).count() +
      silver(raw, "orders_histogram").filter(col("highest_buy_order").isNull ||
        col("buy_order_count").isNull || col("sell_order_count").isNull).count() +
      silver(raw, "orders_activity").select(explode(col("parsed_activities")).as("e"))
        .filter(col("e.price").isNull || col("e.action").isNull).count()
    res.put("wire", Map("payloads" -> recs.size, "silver_ms" -> ms, "rows_out" -> rowsOut,
      "history_points_in" -> histIn, "unparsed" -> unparsed))
    raw.unpersist()
  }
}
