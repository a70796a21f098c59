package graft.bench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.lit
import graft.api.ReadApi
import graft.sources.PartitionedStore

/** serve: one closed-loop client replays a seeded request list against a
  * store built through PartitionedStore.append. Every request resolves its
  * tables with PartitionedStore.read, as a live reader would, then collects
  * the endpoint's result and reports an answer summary for run.py to check. */
final class Serve(spark: SparkSession, a: Main.Args, res: Result) {
  private val sc = spark.sparkContext
  private val tables = Seq("price_history" -> "time", "price_overview" -> "timestamp",
    "orders_histogram" -> "timestamp", "orders_activity" -> "timestamp")
  private var store = ""
  private val asOf = {
    val cfg = Io.readJson(s"${a.in}/serve.json")
    (cfg("as_of"), cfg("meta_window_s").toInt)
  }

  private def build(dir: String): Unit = {
    tables.foreach { case (t, ts) =>
      PartitionedStore.append(spark.read.parquet(s"${a.in}/$t.parquet"), s"$dir/$t", ts,
        "market_hash_name")
    }
    spark.read.parquet(s"${a.in}/tracked.parquet").write.parquet(s"$dir/tracked")
  }

  def run(): Unit = {
    val reps = (1 to 3).map { r =>
      val t0 = System.nanoTime()
      build(s"${a.work}/store$r")
      (System.nanoTime() - t0) / 1e9
    }
    store = s"${a.work}/store3"
    Io.deleteTree(s"${a.work}/store1")
    Io.deleteTree(s"${a.work}/store2")
    res.put("setup_reps_s", reps)
    res.put("store_bytes", Io.treeBytes(store))
    res.put("store_rows", (tables.map(_._1) :+ "tracked")
      .map(t => spark.read.parquet(s"${a.in}/$t.parquet").count()).sum)

    val ops = Io.readLines(s"${a.in}/ops.jsonl").map(Io.parseFlat).map(m => (m("ep"), m("item")))
    require(ops.length == a.warm + a.measure * (if (a.trace) 3 else 1),
      s"ops.jsonl holds ${ops.length} ops")
    phase("warm", 0, a.warm, ops)
    phase("plain", a.warm, a.measure, ops)
    if (a.trace) {
      val l = new Listeners(spark, _ => None)
      Trace.enabled = true
      phase("traced", a.warm + a.measure, a.measure, ops)
      Trace.enabled = false
      Layers.write(a, res, l)
      l.remove()
      phase("plain2", a.warm + 2 * a.measure, a.measure, ops)
    }
  }

  /** Runs ops [from, from+n) as one closed-loop client. A second client
    * made each cheap request's latency depend on whether it overlapped a
    * history read's listing job, which moved the median by ~20% per seed. */
  private def phase(name: String, from: Int, n: Int, ops: IndexedSeq[(String, String)]): Unit = {
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    var firstError: Throwable = null
    val t0 = System.nanoTime()
    for (i <- from until from + n) {
      val (ep, item) = ops(i)
      val s0 = System.nanoTime()
      val answer =
        try Trace.op(sc, i.toLong, "serve.request")(request(ep, item, rows))
        catch { case e: Throwable =>
          if (firstError == null) firstError = e
          s"ERROR ${e.getClass.getSimpleName}"
        }
      res.op(name, i, ep, System.nanoTime() - s0, answer)
    }
    res.put(s"${name}_wall_s", (System.nanoTime() - t0) / 1e9)
    res.put(s"${name}_units", n)
    res.put(s"${name}_result_rows", rows.get)
    if (firstError != null) firstError.printStackTrace()
  }

  private def read(t: String) =
    Trace.span(sc, "store.read")(PartitionedStore.read(spark, s"$store/$t"))

  private def request(ep: String, item: String,
                      rows: java.util.concurrent.atomic.AtomicLong): String = {
    val asOfCol = lit(asOf._1).cast("timestamp")
    def collect(df: org.apache.spark.sql.DataFrame): Array[Row] = {
      val r = df.collect(); rows.addAndGet(r.length); r
    }
    ep match {
      case "overview" =>
        val t = read("price_overview")
        val r = Trace.span(sc, "api.overview")(collect(ReadApi.overview(t, item)))
        s"${r.length}|${Io.secs(r.head.getTimestamp(0))}|${Io.cents(r.head.getDouble(2))}|" +
          s"${Io.cents(r.last.getDouble(2))}"
      case "orderbook" =>
        val t = read("orders_histogram")
        val r = Trace.span(sc, "api.orderbook")(collect(ReadApi.orderbook(t, item))).head
        s"${Io.secs(r.getAs[java.sql.Timestamp]("timestamp"))}|" +
          s"${Io.cents(r.getAs[Double]("highest_buy_order"))}|" +
          s"${Io.cents(r.getAs[Double]("lowest_sell_order"))}|${r.getAs[Int]("buy_order_count")}"
      case "activity" =>
        val t = read("orders_activity")
        val r = Trace.span(sc, "api.activity")(collect(ReadApi.activity(t, item))).head
        val ev = r.getAs[scala.collection.Seq[Row]]("parsed_activities")
        s"${Io.secs(r.getAs[java.sql.Timestamp]("timestamp"))}|${ev.length}|" +
          s"${Io.cents(ev.head.getAs[Double]("price"))}|${Io.cents(ev.last.getAs[Double]("price"))}"
      case h if h.startsWith("history_") =>
        val range = h.stripPrefix("history_")
        val t = read("price_history")
        val r = Trace.span(sc, s"api.$h")(collect(ReadApi.history(t, item, range, asOfCol)))
        s"${r.length}|${Io.secs(r.head.getTimestamp(0))}|${Io.secs(r.last.getTimestamp(0))}|" +
          s"${r.map(_.getInt(2).toLong).sum}"
      case "meta" =>
        val tracked = read("tracked")
        val live = Seq("price_overview", "orders_histogram", "orders_activity").map(read)
        val r = Trace.span(sc, "api.meta")(collect(ReadApi.meta(tracked, live, asOfCol, asOf._2))).head
        s"${r.getAs[Long]("tracked_count")}|${Io.secs(r.getAs[java.sql.Timestamp]("last_ingest"))}|" +
          s"${r.getAs[Long]("requests_in_window")}"
      case "exists" =>
        val tracked = read("tracked")
        if (Trace.span(sc, "api.exists")(ReadApi.itemExists(tracked, item))) "1" else "0"
    }
  }
}
