package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational
import graft.sources.{PartitionedStore, Wire}

/** End-to-end: the full reference pipeline shape in one pass — wire JSON
  * payloads → bronze → silver (sanitized) → date-partitioned store →
  * the read-API queries (latest-1, range scan, invariants) — plus the T5
  * stream-static live-reconfig join. A reference user's complete
  * ingest-store-query loop on this engine. */
class IntegrationSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  test("A16 approx_count_distinct: every group's sketch is inside the 5% bound") {
    val out = graft.queries.InventoryQueries2.a16ApproxDistinct(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("within_bound")),
        s"${r.getString(0)}: sketch outside 5% of exact=${r.getLong(1)}")
    }
  }

  test("ingest → silver → partitioned store → API readers") {
    val s = spark
    import s.implicits._
    // two polls of the same item on different days + one other item
    val polls = Seq(
      (1, """{"success":true,"lowest_price":"0,03€","median_price":"0,01€","volume":"435"}""",
        "itemA", "2024-01-01 10:00:00"),
      (2, """{"success":true,"lowest_price":"0,05€","median_price":"0,04€","volume":"500"}""",
        "itemA", "2024-01-02 11:00:00"),
      (3, """{"success":true,"lowest_price":"$5.00","median_price":"$4.75","volume":"1,234"}""",
        "itemB", "2024-01-02 12:00:00"))
      .toDF("id", "payload", "market_hash_name", "ts_str")
    val silver = Wire.silverPriceOverview(Wire.bronze(polls, Wire.priceOverviewWire))
      .join(polls.select(col("id"), col("market_hash_name"),
        col("ts_str").cast("timestamp").as("timestamp")), "id")
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    PartitionedStore.append(silver, dir, "timestamp", "market_hash_name")
    val stored = PartitionedStore.read(s, dir)
    assert(stored.count() == 3)
    // W1 latest-1 per item (the /overview read)
    val latest = Relational.latestPerKey(stored, Seq("market_hash_name"),
      Seq("timestamp" -> col("timestamp"), "lowest_price" -> col("lowest_price"),
        "currency" -> col("currency")))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getString(3))).toMap
    assert(latest("itemA") == (0.05, "EUR"))
    assert(latest("itemB") == (5.0, "USD"))
    // O2 range scan with partition pruning (one day only)
    val day2 = stored.filter(col(PartitionedStore.DateCol) === "2024-01-02")
    assert(day2.count() == 2)
    // A12/A13-style invariant: no non-positive parsed prices survived
    assert(stored.filter(col("lowest_price") <= 0).count() == 0)
    PartitionedStore.dropExpired(dir, 0, java.time.LocalDate.parse("2024-02-01"))
    val partsLeft = Option(new java.io.File(dir).listFiles())
      .map(_.count(_.getName.startsWith(s"${PartitionedStore.DateCol}=")))
      .getOrElse(0)
    assert(partsLeft == 0)
  }

  test("streaming ingest: readStream dir → silver → foreachBatch → partitioned store") {
    val s = spark
    import s.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    // the arriving raw-payload file (a poll batch landing in object storage)
    Seq((1, """{"success":true,"lowest_price":"0,03€","median_price":"0,01€","volume":"435"}""",
         "itemA", "2024-01-01 10:00:00"))
      .toDF("id", "payload", "market_hash_name", "ts_str")
      .write.mode("overwrite").parquet(inDir)
    val raw = s.readStream
      .schema("id INT, payload STRING, market_hash_name STRING, ts_str STRING")
      .parquet(inDir)
    val q = raw.writeStream
      .option("checkpointLocation", ckDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val silver = Wire.silverPriceOverview(Wire.bronze(batch, Wire.priceOverviewWire))
          .join(batch.select(col("id"), col("market_hash_name"),
            col("ts_str").cast("timestamp").as("timestamp")), "id")
        PartitionedStore.append(silver, outDir, "timestamp", "market_hash_name")
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val stored = PartitionedStore.read(s, outDir)
    assert(stored.count() == 1)
    val r = stored.collect()(0)
    assert(r.getAs[Double]("lowest_price") == 0.03)
    assert(r.getAs[String]("currency") == "EUR")
  }

  test("T5 stream-static join: control-table filter applies per micro-batch") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // control table: only itemA enabled
    val control = Seq(("itemA", true), ("itemB", false)).toDF("name", "enabled")
    case class Tick(name: String, price: Double)
    val in = MemoryStream[(String, Double)]
    val enriched = in.toDF().toDF("name", "price")
      .join(control.filter(col("enabled")), Seq("name"), "left_semi")
    val q = enriched.writeStream.format("memory").queryName("t5_out")
      .outputMode("append").start()
    in.addData(("itemA", 1.0), ("itemB", 2.0), ("itemA", 3.0))
    q.processAllAvailable()
    val out = s.table("t5_out").collect()
    q.stop()
    assert(out.length == 2 && out.forall(_.getString(0) == "itemA"))
  }

  test("U2/U4 set-op law: churn ∪ retention partitions the 1995 actives") {
    val s = spark
    val d = "/root/testdata/sf0.001"
    val churn = graft.queries.InventoryQueries.u2Except(s, d)
      .collect().map(_.getLong(0)).toSet
    val retained = graft.queries.InventoryQueries.u4Intersect(s, d)
      .collect().map(_.getLong(0)).toSet
    val actives95 = graft.Tables.orders(s, d)
      .filter(org.apache.spark.sql.functions.year(col("o_orderdate")) === 1995)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    assert((churn intersect retained).isEmpty)
    assert((churn union retained) == actives95)
  }

  test("A24 unpivot law: 3 metric rows per day; melted values conserve the wide totals") {
    val s = spark
    val d = "/root/testdata/sf0.001"
    val long = graft.queries.InventoryQueries2.a24Unpivot(s, d).collect()
    val days = long.map(_.getDate(0)).distinct.length
    assert(long.length == days * 3, s"expected 3 metrics per day: ${long.length} vs $days days")
    val orderTotal = long.filter(_.getString(1) == "n_orders").map(_.getLong(2)).sum
    assert(orderTotal == graft.Tables.orders(s, d).count(),
      "melted n_orders must conserve the order count")
  }
}
