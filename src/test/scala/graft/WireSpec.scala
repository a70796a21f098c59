package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{PartitionedStore, Wire}

/** Wire bronze→silver golden semantics (FIXTURES.md §1) + partitioned
  * store with retention (S12/T12). */
class WireSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  test("silverPriceOverview: golden EUR row parses (0.03, 0.01, 435, EUR)") {
    val s = spark
    import s.implicits._
    val raw = Seq((1, """{"success":true,"lowest_price":"0,03€","median_price":"0,01€","volume":"435"}"""))
      .toDF("id", "payload")
    val r = Wire.silverPriceOverview(Wire.bronze(raw, Wire.priceOverviewWire)).collect()(0)
    assert(r.getBoolean(1))
    assert(r.getDouble(2) == 0.03 && r.getDouble(3) == 0.01)
    assert(r.getInt(4) == 435 && r.getString(5) == "EUR")
  }

  test("silverOrdersHistogram: minor-units trap — scalar bid '3' is 0.03, not 3.0") {
    val s = spark
    import s.implicits._
    val raw = Seq((1,
      """{"success":1,"buy_order_count":"1","buy_order_table":[{"price":"0,03€","quantity":"2"}],""" +
      """"highest_buy_order":"3","price_suffix":"€"}""")).toDF("id", "payload")
    val r = Wire.silverOrdersHistogram(Wire.bronze(raw, Wire.ordersHistogramWire)).collect()(0)
    assert(r.getDouble(r.fieldIndex("highest_buy_order")) == 0.03)
    // the order-TABLE price stays a raw locale string (F1 territory, not F2)
    assert(r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("buy_order_table"))
      .head.getString(0) == "0,03€")
    assert(r.getString(r.fieldIndex("currency")) == "EUR")
  }

  test("activityEvents: count invariant + response-level timestamp stamping") {
    val s = spark
    import s.implicits._
    val html = "<span class=\"market_activity_cell market_activity_price \">0,85€</span>" +
      "<span class=\"market_activity_action\">Purchased</span>"
    val raw = Seq((1, s"""{"success":1,"activity":[${"\"" + html.replace("\"", "\\\"") + "\""},"<div>junk</div>"],"timestamp":1765687694}"""))
      .toDF("id", "payload")
    val silver = Wire.silverOrdersActivity(Wire.bronze(raw, Wire.ordersActivityWire))
    val sr = silver.collect()(0)
    assert(sr.getInt(sr.fieldIndex("activity_count")) == 2)
    val evs = Wire.activityEvents(silver).orderBy("ord").collect()
    assert(evs.length == 2)
    assert(evs(0).getDouble(2) == 0.85 && evs(0).getString(3) == "EUR")
    assert(evs(0).getString(4) == "Purchased")
    assert(evs(0).getTimestamp(5).getTime == 1765687694000L)
    assert(evs(1).isNullAt(2)) // junk line: kept, price null
  }

  test("partitioned store: append clustered, prune on read, retention drops old partitions") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    val rows = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      ("b", java.sql.Timestamp.valueOf("2024-01-15 10:00:00"), 2.0),
      ("a", java.sql.Timestamp.valueOf("2024-02-01 10:00:00"), 3.0)
    ).toDF("name", "time", "price")
    PartitionedStore.append(rows, dir, "time", "name")
    // partition pruning: physical plan carries a PartitionFilters entry
    val pruned = PartitionedStore.read(s, dir).filter(col(PartitionedStore.DateCol) === "2024-01-01")
    assert(pruned.count() == 1)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    // retention: keep 30 days from 2024-02-10 → drops 2024-01-01 only
    val dropped = PartitionedStore.dropExpired(dir, 30, java.time.LocalDate.parse("2024-02-10"))
    assert(dropped == Seq("p_date=2024-01-01"))
    assert(PartitionedStore.read(s, dir).count() == 2)
  }


  test("clustering pays: a per-key scan row-group-skips most of a sorted file") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rg").toString + "/t"
    // one 100k-row file, sorted by key, tiny row groups → many groups,
    // each covering a narrow key range (the segmentby-compression analog)
    val n = 100000
    (0 until n).map(i => (f"k${i / 1000}%03d", i.toLong))
      .toDF("name", "v")
      .coalesce(1).sortWithinPartitions("name")
      .write.option("parquet.block.size", 64 * 1024).parquet(dir)
    val q = s.read.parquet(dir).filter(col("name") === "k042")
    assert(q.count() == 1000)
    val scan = q.queryExecution.executedPlan.collectLeaves().head
    val emitted = scan.metrics("numOutputRows").value
    assert(emitted < n / 5,
      s"min/max row-group stats must skip most groups: scan emitted $emitted of $n")
  }

  test("overwritePartitions: reprocessing a day replaces it without touching others") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dyn").toString
    val day1 = Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
      .toDF("name", "time", "price")
    val day2 = Seq(("a", java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 2.0))
      .toDF("name", "time", "price")
    PartitionedStore.append(day1, dir, "time", "name")
    PartitionedStore.append(day2, dir, "time", "name")
    // reprocess day 2 with corrected data — day 1 must survive, day 2 replaced
    val day2fix = Seq(("a", java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 2.5))
      .toDF("name", "time", "price")
    PartitionedStore.overwritePartitions(day2fix, dir, "time", "name")
    val out = PartitionedStore.read(s, dir).orderBy("time").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("price") == 1.0)
    assert(out(1).getAs[Double]("price") == 2.5)
  }

  test("compact: many-file partition rewritten to few files, quiet partition untouched, rows identical") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // 12 tiny appends land 12 files in day 1; day 2 gets one quiet append
    (1 to 12).foreach { i =>
      PartitionedStore.append(
        Seq((s"k${i % 3}", java.sql.Timestamp.valueOf(f"2024-01-01 10:$i%02d:00"), i.toDouble))
          .toDF("name", "time", "price"), dir, "time", "name")
    }
    PartitionedStore.append(
      Seq(("a", java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 99.0))
        .toDF("name", "time", "price"), dir, "time", "name")
    def files(day: String) = new java.io.File(s"$dir/p_date=$day")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val day2Before = new java.io.File(s"$dir/p_date=2024-01-02")
      .listFiles().map(_.getName).toSet
    assert(files("2024-01-01") == 12)
    val before = PartitionedStore.read(s, dir).collect().toSet
    val done = PartitionedStore.compact(s, dir, "name", "time",
      maxFiles = 8, targetRowsPerFile = 1000000L)
    assert(done == Seq("p_date=2024-01-01"))
    assert(files("2024-01-01") == 1) // 12 rows « target → one file
    // quiet partition byte-untouched (same file names)
    assert(new java.io.File(s"$dir/p_date=2024-01-02")
      .listFiles().map(_.getName).toSet == day2Before)
    assert(PartitionedStore.read(s, dir).collect().toSet == before)
    // idempotent: a second pass finds nothing over the threshold
    assert(PartitionedStore.compact(s, dir, "name", "time", 8).isEmpty)
  }

  test("compact: crash-recovery — stale .compact ignored, orphaned .trash restored") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_crash").toString
    (1 to 10).foreach { i =>
      PartitionedStore.append(
        Seq((s"k${i % 3}", java.sql.Timestamp.valueOf(f"2024-03-01 10:$i%02d:00"), i.toDouble))
          .toDF("name", "time", "price"), dir, "time", "name")
    }
    val before = PartitionedStore.read(s, dir).collect().toSet
    val root = java.nio.file.Paths.get(dir)
    val part = root.resolve("p_date=2024-03-01")
    // crash A: rewrite finished but swap never started → stale .compact
    val staleCompact = root.resolve(".p_date=2024-03-01.compact")
    java.nio.file.Files.createDirectory(staleCompact)
    java.nio.file.Files.writeString(staleCompact.resolve("junk.txt"), "stale")
    // crash B: original moved to .trash, rewrite never moved in → dir gone
    val trash = root.resolve(".p_date=2024-03-01.trash")
    java.nio.file.Files.move(part, trash)
    assert(!java.nio.file.Files.exists(part)) // the reader-visible gap
    val done = PartitionedStore.compact(s, dir, "name", "time",
      maxFiles = 8, targetRowsPerFile = 1000000L)
    assert(done == Seq("p_date=2024-03-01")) // restored, then compacted
    assert(PartitionedStore.read(s, dir).collect().toSet == before) // no rows lost
    // hidden siblings all reclaimed
    assert(!java.nio.file.Files.exists(staleCompact))
    assert(!java.nio.file.Files.exists(trash))
  }

  test("T1 deltaAppend: idempotent — replaying the same payload inserts nothing") {
    val s = spark
    import s.implicits._
    import graft.operators.Relational
    def pt(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val existing = Seq(("x", pt(1), 1.0), ("x", pt(2), 2.0), ("x", pt(3), 3.0))
      .toDF("name", "time", "price")
    val payload = (1 to 5).map(h => ("x", pt(h), h.toDouble)).toDF("name", "time", "price")
    val delta = Relational.deltaAppend(existing, payload, Seq("name"), "time")
    // exactly {h4, h5}: points <= stored max are DROPPED (late-data policy)
    assert(delta.select("time").collect().map(_.getTimestamp(0)).toSet == Set(pt(4), pt(5)))
    // replay after applying the delta -> empty (ON CONFLICT DO NOTHING)
    val applied = existing.unionByName(delta)
    assert(Relational.deltaAppend(applied, payload, Seq("name"), "time").count() == 0)
  }

  test("corrupt payloads degrade to null fields, never crash the batch") {
    val s = spark
    import s.implicits._
    val raw = Seq(
      (1, """{"success":true,"lowest_price":"0,03€","median_price":"0,01€","volume":"435"}"""),
      (2, """not json at all"""),
      (3, """{"success":"maybe","lowest_price":42}"""),
      (4, null.asInstanceOf[String])).toDF("id", "payload")
    val out = Wire.silverPriceOverview(Wire.bronze(raw, Wire.priceOverviewWire))
      .orderBy("id").collect()
    assert(out.length == 4)
    assert(out(0).getDouble(2) == 0.03)           // good row parses
    assert(out(1).isNullAt(1) || !out(1).getBoolean(1)) // garbage -> nulls
    assert(out(1).isNullAt(2) && out(3).isNullAt(2))
    assert(out.forall(_.getString(5) != null))    // currency always defaults
  }
}
