package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the BOUND of the resolved-plan memo [[Tables]] reads through,
  * `store.resolved` (an unbounded (session, path) map would leak resolved
  * plans — each pinning its session — in a long-lived multi-session
  * service). */
class TablesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  test("resolved-plan memo is a bounded access-order LRU: filling past " +
    "MaxResolved evicts instead of growing; a key kept hot by access " +
    "survives the churn; an evicted key re-resolves and still reads") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("tables_lru")
    Seq((1L, "x")).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$base/t.parquet")
    // distinct (dir) cache keys over ONE physical parquet via symlinks —
    // each miss pays real file-listing + footer inference, the thing the
    // memo exists to amortize
    val bound = graft.sources.PartitionedStore.MaxResolved
    def cachedCount =
      graft.operators.CacheRegistry.all.find(_.name == "store.resolved").get.size()
    val dirs = (0 until bound + 4).map { i =>
      val link = java.nio.file.Paths.get(s"$base-ln-$i")
      java.nio.file.Files.createSymbolicLink(link, base)
      link.toString
    }
    val hot = dirs.head
    val hotPlan = Tables.table(s, hot, "t")
    dirs.tail.foreach { d =>
      Tables.table(s, d, "t")
      Tables.table(s, hot, "t") // re-touch: access order keeps it MRU
    }
    assert(cachedCount <= bound, s"cache grew past the bound: $cachedCount")
    // the hot key survived the full churn (same resolved instance)
    assert(Tables.table(s, hot, "t") eq hotPlan, "hot key was evicted")
    // an early cold key was evicted; a fresh call re-resolves and reads
    assert(Tables.table(s, dirs(1), "t").count() == 1L)
  }

  test("BoundedMemo of checkpointed frames: bounded LRU, eviction " +
    "RELEASES the evicted checkpoint's blocks (the overlapCache leak " +
    "class from the r12 ADVICE), hot key survives churn, memo hits " +
    "return the same frame without rebuilding") {
    val s = spark
    import s.implicits._
    def ckptRdd(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    val memo = new graft.operators.BoundedMemo[(SparkSession, String),
      org.apache.spark.sql.DataFrame]("spec.tablesFixture", maxEntries = 2,
      onEvict = graft.operators.Checkpoints.release)
    var builds = 0
    def build(n: Int) = { builds += 1; Seq((n.toLong, "v")).toDF("id", "v").localCheckpoint() }
    def get(k: String, n: Int) = memo.computeIfAbsent((s, k), _ => build(n))
    val hot = get("hot", 0)
    val cold = get("cold", 1)
    assert(ckptRdd(cold).getStorageLevel.useMemory, "checkpoint not persisted")
    // hit: same instance, no rebuild
    assert(get("hot", 0) eq hot)
    assert(builds == 2)
    // third key evicts LRU ("cold" — "hot" was re-touched) and releases it
    get("third", 2)
    assert(memo.size == 2)
    assert(ckptRdd(cold).getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "evicted checkpoint's blocks were not released")
    assert(get("hot", 9) eq hot, "hot key evicted")
  }
}
