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
  * (session, dir, table): `spark.read.parquet` pays both eagerly on
  * every call, and across a 246-query suite that planning-floor tax was
  * re-paid hundreds of times for the same immutable inputs (r10 verdict
  * task #7). Reusing the unresolved-relation-free plan changes no
  * per-query physics — each query still gets its own Catalyst
  * optimization, pushdown, and pruning against the shared relation, the
  * exact semantics a shared catalog table would have. Keyed by session
  * identity because a DataFrame is unusable after its session stops
  * (test suites create/stop many). Inputs here are immutable testdata
  * dirs; stores that mutate never go through this cache.
  * [[graft.sources.PartitionedStore.read]] keeps its own memo keyed by
  * the store's published version, and versioned tables and index dirs
  * resolve their own paths. */
object Tables {
  /** Cache bound: one Verify/Bench session touches well under 100
    * (dir, table) keys, but a long-lived multi-session service would
    * otherwise accumulate resolved plans (each pinning its session)
    * without limit. LRU by ACCESS order so the hot suite keys survive
    * churn; planning-path frequency (a few hundred lookups per suite),
    * not per-row. */
  private[graft] val MaxResolved = 256
  private val resolved =
    new graft.operators.BoundedMemo[(SparkSession, String, String), DataFrame](
      "tables.resolved", MaxResolved)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    resolved.computeIfAbsent((spark, dir, name),
      _ => spark.read.parquet(s"$dir/$name.parquet"))

  private[graft] def cachedCount: Int = resolved.size

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
