package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The driver contract as a regression test: a new query wired without
  * its oracle twin (or vice versa) fails here, in the same commit, rather
  * than as a silent rows-only downgrade in the next correctness report. */
class ContractSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  test("every query has an oracle twin — no rows-only downgrades") {
    // even the HLL sketch query carries an oracle now: its contract is
    // the error BOUND (each engine checks its own sketch vs its own
    // exact count), not the engine-specific estimate
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("no oracle without a query; names are well-formed") {
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
    assert(SparkEntry.queries.keySet.forall(_.matches("[a-z][a-z0-9_]*")))
  }

  test("QueryDef.registry rejects a repeated name instead of letting one " +
    "pack shadow another") {
    import graft.queries.QueryDef
    val run: QueryDef.Q = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException] {
      QueryDef.registry(Seq(QueryDef("dup_q", run, "SELECT 1"),
        QueryDef("other_q", run, "SELECT 2"), QueryDef("dup_q", run, "SELECT 3")))
    }
    assert(e.getMessage.contains("duplicate query names: dup_q"), e.getMessage)
  }

  test("LocalSession pins ANSI: an integer-cents sum past the long range " +
    "raises ARITHMETIC_OVERFLOW instead of wrapping") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.sum
    import graft.queries.CoreQueries.{cents, revenueQ}
    assert(s.conf.get("spark.sql.ansi.enabled") == "true")
    // cents(4e14)·(100 − cents(0)) = 4e18 revenue units per row: two rows
    // fit in a long, three pass Long.MaxValue ≈ 9.22e18 in the sum
    val li = Seq.fill(3)((4.0e14, 0.0)).toDF("l_extendedprice", "l_discount")
    assert(li.limit(2).agg(revenueQ).head().getLong(0) == 8000000000000000000L)
    // cents(6e16) = 6e18 per row: two rows pass the long range
    val qty = Seq.fill(2)(6.0e16).toDF("l_quantity")
    for (over <- Seq(li.agg(revenueQ), qty.agg(sum(cents("l_quantity"))))) {
      val e = intercept[Exception](over.collect())
      assert(String.valueOf(e.getMessage).contains("ARITHMETIC_OVERFLOW"),
        e.getMessage)
    }
  }

  test("Verify writes failures.json beside oracle_sql.json: one " +
    "{query, exception, message} record per selected query that threw, " +
    "an empty list when none did") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def records(out: String): Seq[java.util.Map[String, String]] = {
      val all = json.readValue(new java.io.File(s"$out/failures.json"),
        classOf[java.util.List[java.util.Map[String, String]]])
      all.asScala.toSeq
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_verify").toString
    Verify.dump(spark, s"$tmp/no_tables", s"$tmp/none", Some(Seq("no_such_query")))
    assert(records(s"$tmp/none").isEmpty)
    // no tables under the scale-factor dir: both selected queries throw
    Verify.dump(spark, s"$tmp/no_tables", s"$tmp/bad", Some(Seq("q1_", "q3_")))
    val failed = records(s"$tmp/bad")
    assert(failed.map(_.get("query")).sorted == Seq("q1_pricing_summary", "q3_shipping_priority"))
    assert(failed.forall(r => r.get("exception").contains("Exception") &&
      r.get("message").contains("no_tables")), failed)
    assert(json.readTree(new java.io.File(s"$tmp/bad/oracle_sql.json")).size == 2)
  }

  test("flagship entry returns rows at the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
