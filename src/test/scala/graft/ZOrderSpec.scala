package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.PartitionedStore

/** Z-order layout semantics: rectangle scans stay exact, prune to the
  * intersecting Morton cells, and find clamped out-of-domain rows. */
class ZOrderSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = LocalSession(2)
    s.conf.set("spark.sql.maxMetadataStringLength", "2000")
    s
  }

  private def grid = {
    val s = spark
    import s.implicits._
    // 100×100 integer grid, one row per cell
    (0 until 10000).map(i => (i.toLong, (i % 100).toDouble, (i / 100).toDouble))
      .toDF("id", "x", "y")
  }

  test("zorderScan: rectangle results equal the naive filter; partition pruning engages") {
    val dir = Files.createTempDirectory("zorder").toString + "/store"
    PartitionedStore.zorderWrite(grid, dir, "x", "y",
      0.0, 100.0, 0.0, 100.0, bits = 6, prefixBits = 3)
    val scan = PartitionedStore.zorderScan(spark, dir, "x", "y",
      0.0, 100.0, 0.0, 100.0, 10.0, 20.0, 30.0, 40.0,
      bits = 6, prefixBits = 3)
    val expected = grid
      .filter(col("x").between(10.0, 20.0) && col("y").between(30.0, 40.0))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(scan.select("id").collect().map(_.getLong(0)).sorted
      .sameElements(expected))
    assert(expected.length == 11 * 11)
    // static pruning: the zb IN-list must land in PartitionFilters, and the
    // 11×11 rectangle covers 2×2 of the 8×8 prefix cells — 4 of 64 dirs
    val p = scan.queryExecution.executedPlan.toString
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("zb"), s"zb filter must be a partition filter:\n$p")
    val dirs = new java.io.File(dir).listFiles().count(_.getName.startsWith("zb="))
    assert(dirs == 64, s"6-bit/3-prefix layout must write 64 cell dirs, got $dirs")
  }

  test("zorderScan: 1-D stripe query prunes to one row of cells (the anti-stripe property)") {
    val dir = Files.createTempDirectory("zorder").toString + "/store"
    PartitionedStore.zorderWrite(grid, dir, "x", "y",
      0.0, 100.0, 0.0, 100.0, bits = 6, prefixBits = 3)
    // narrow in y, full-width in x: a date-only layout would scan everything;
    // z-order reads the 8 cells of one y-row
    val scan = PartitionedStore.zorderScan(spark, dir, "x", "y",
      0.0, 100.0, 0.0, 100.0, 0.0, 99.0, 50.0, 55.0,
      bits = 6, prefixBits = 3)
    assert(scan.count() == 100 * 6)
  }

  test("zorderWrite/Scan: out-of-domain rows clamp into edge cells and stay findable") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("zorder").toString + "/store"
    val df = Seq((1L, -5.0, 50.0), (2L, 250.0, 50.0), (3L, 50.0, 50.0))
      .toDF("id", "x", "y")
    PartitionedStore.zorderWrite(df, dir, "x", "y",
      0.0, 100.0, 0.0, 100.0, bits = 4, prefixBits = 2)
    // a rectangle reaching the domain edge picks up the clamped outlier
    val lo = PartitionedStore.zorderScan(spark, dir, "x", "y",
      0.0, 100.0, 0.0, 100.0, -10.0, 10.0, 40.0, 60.0, bits = 4, prefixBits = 2)
    assert(lo.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    val hi = PartitionedStore.zorderScan(spark, dir, "x", "y",
      0.0, 100.0, 0.0, 100.0, 200.0, 300.0, 40.0, 60.0, bits = 4, prefixBits = 2)
    assert(hi.select("id").collect().map(_.getLong(0)).toSet == Set(2L))
    // an interior rectangle must NOT surface the clamped rows
    val mid = PartitionedStore.zorderScan(spark, dir, "x", "y",
      0.0, 100.0, 0.0, 100.0, 40.0, 60.0, 40.0, 60.0, bits = 4, prefixBits = 2)
    assert(mid.select("id").collect().map(_.getLong(0)).toSet == Set(3L))
  }
}
