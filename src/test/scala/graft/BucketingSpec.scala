package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing: pre-shuffled storage layout so repeated equi-joins and
  * aggregations on the bucket key run with NO exchange — the 100 TB
  * answer to "this join shuffles the fact table every query". The
  * reference leans on a covering index per item; bucketing is the
  * distributed equivalent (co-located, co-sorted per key). */
class BucketingSpec extends AnyFunSuite {

  // NB: sbt's forked test JVM shares one SparkSession across specs —
  // builder configs here would be ignored if another spec won the race,
  // so the test sets what it needs per-query and scrubs stale table
  // locations left by earlier JVMs (the in-memory catalog forgets them,
  // the filesystem does not).
  private lazy val spark: SparkSession = LocalSession(2)

  private def scrub(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(wh, table)
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("bucketed tables join and aggregate without a shuffle") {
    val s = spark
    import s.implicits._
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    try {
    scrub(s, "facts_b"); scrub(s, "dims_b")
    val facts = (1 to 1000).map(i => (i % 50L, i.toLong, i * 1.5)).toDF("item_id", "seq", "price")
    val dims = (0 until 50).map(i => (i.toLong, s"item_$i")).toDF("item_id", "name")
    facts.write.mode("overwrite").bucketBy(8, "item_id").sortBy("item_id")
      .saveAsTable("facts_b")
    dims.write.mode("overwrite").bucketBy(8, "item_id").sortBy("item_id")
      .saveAsTable("dims_b")

    val joined = s.table("facts_b").join(s.table("dims_b"), "item_id")
    val joinPlan = joined.queryExecution.executedPlan.toString
    assert(!joinPlan.contains("Exchange"), s"bucketed join must not shuffle:\n$joinPlan")
    assert(joined.count() == 1000)

    val agg = s.table("facts_b").groupBy("item_id").agg(sum("price"))
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), s"bucketed agg must not shuffle:\n$aggPlan")
    assert(agg.count() == 50)

    // non-bucketed baseline DOES shuffle — the comparison that matters
    val plain = facts.join(dims, "item_id")
    assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      scrub(s, "facts_b"); scrub(s, "dims_b")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("exact dedup on a corpus bucketed by content hash runs with no exchange") {
    val s = spark
    import s.implicits._
    try {
      scrub(s, "docs_b")
      val docs = (0 until 200).map { i =>
        (i.toLong, if (i % 7 == 0) "a repeated body" else s"unique body $i")
      }.toDF("doc_id", "text").withColumn("content_hash", md5(col("text")))
      // the 100 TB layout: land the corpus bucketed by content hash once,
      // and every dedup / dup-count / representative query after that is
      // a per-bucket local aggregation — zero shuffles, forever
      docs.write.mode("overwrite").bucketBy(8, "content_hash")
        .sortBy("content_hash").saveAsTable("docs_b")
      val reps = s.table("docs_b").groupBy("content_hash")
        .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_copies"))
      val plan = reps.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed dedup agg must not shuffle:\n$plan")
      val dups = reps.filter(col("n_copies") > 1).collect()
      assert(dups.length == 1 && dups(0).getAs[Long]("n_copies") == 29L)
    } finally scrub(s, "docs_b")
  }
}
