package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata (TESTDATA.md).
  *
  * All reads are plain parquet scans; Catalyst pushes filters/pruning into
  * the scan, so callers should NOT cache or MATERIALIZE here. At cluster
  * scale these would be catalog tables partitioned by date — the query
  * surface below only relies on column pruning + predicate pushdown, both of
  * which work identically on partitioned layouts.
  *
  * The RESOLVED DataFrame (the analyzed logical plan — file listing +
  * parquet-footer schema inference, NOT data) IS memoized per
  * (session, path) through [[graft.sources.PartitionedStore.readImmutable]],
  * the one memo that maps a parquet path to a resolved frame:
  * `spark.read.parquet` pays both eagerly on every call, and across the
  * query suite that planning-floor tax was re-paid hundreds of times for
  * the same immutable inputs. Reusing the resolved plan changes no
  * per-query physics — each query still gets its own Catalyst
  * optimization, pushdown, and pruning against the shared relation, the
  * exact semantics a shared catalog table would have. */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.PartitionedStore.readImmutable(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.parquet has shipped with two physical encodings of `ts`
    * across driver testdata generations — TIMESTAMP(NANOS) (readable only
    * as a raw long) and TIMESTAMP(MICROS, NTZ) — so this loader detects
    * the file's encoding and normalizes to ONE public contract either
    * way: `ts` is a session-tz TimestampType at microsecond precision
    * (the same truncation DuckDB applies casting TIMESTAMP_NS →
    * TIMESTAMP; sessions pin UTC so NTZ→TZ is value-preserving), and
    * `ts_ns` is the epoch-nanos long the range queries bound against.
    * The UNCONVERTED physical column additionally survives (as `ts_ns`
    * in the nanos encoding, `ts_raw` in the micros one) so range
    * predicates can be phrased against it and reach the parquet scan as
    * PushedFilters — a filter on a derived column cannot be pushed
    * through the conversion expression, and at cluster scale that is the
    * difference between pruning row groups and reading the full table. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros, unix_micros}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) via nanosAsLong
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // TIMESTAMP(MICROS), NTZ or TZ
        raw.withColumnRenamed("ts", "ts_raw")
          .withColumn("ts", col("ts_raw").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
