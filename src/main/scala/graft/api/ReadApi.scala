package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** The reference's REST read surface (api/main.py) as DataFrame functions
  * over the silver tables — one function per endpoint, same shapes, same
  * seams. A reference user's `GET /...` becomes a call here; the 200-empty
  * vs 404 distinction (api/main.py:603-608) is the `tracked` left-semi
  * probe, surfaced as `itemExists`.
  *
  * Every reader is a single pushdown-friendly expression: per-item
  * predicates reach the scan, latest-1 is the one-shuffle max(struct)
  * aggregation, and the cold-start limits (200 points / 50 events / 1
  * book) bound every result regardless of table size. */
object ReadApi {

  val OverviewLimit = 200 // api/main.py:79
  val ActivityTail = 50   // api/main.py:80

  /** GET /overview/{name} — recent points, newest first (O1/W2). */
  def overview(priceOverview: DataFrame, name: String): DataFrame =
    priceOverview.filter(col("market_hash_name") === name)
      .select(col("timestamp"), col("currency"), col("lowest_price"),
        col("median_price"), col("volume"))
      .orderBy(col("timestamp").desc)
      .limit(OverviewLimit)

  /** GET /orderbook/{name} — latest snapshot only (W1). */
  def orderbook(ordersHistogram: DataFrame, name: String): DataFrame =
    latest1(ordersHistogram.filter(col("market_hash_name") === name))

  /** GET /activity/{name} — latest snapshot's last `ActivityTail` events
    * (W1 + W3 tail slice). Python's `[-50:]` clamps when the list is
    * shorter, but Spark's `slice(c, -50, 50)` returns EMPTY for arrays of
    * fewer than 50 elements — so take the whole array in that (common)
    * case and slice only genuinely long tails. */
  def activity(ordersActivity: DataFrame, name: String): DataFrame =
    latest1(ordersActivity.filter(col("market_hash_name") === name))
      .withColumn("parsed_activities", tailClamped(col("parsed_activities"), ActivityTail))

  /** Python-list `[-k:]` semantics for an array column: last k elements,
    * the whole array when it has fewer than k. */
  def tailClamped(c: Column, k: Int): Column =
    when(size(c) <= k, c).otherwise(slice(c, -k, k))

  /** GET /history/{name}?range=… — range-bounded ascending series (O2);
    * `range` ∈ week|month|year|all, whitelisted exactly like
    * api/main.py:87-92.
    *
    * When the frame is a [[graft.sources.PartitionedStore]] table (it
    * carries the date partition column), the range bound is ALSO phrased
    * against that column: Spark cannot derive `p_date ≥ date(b)` from
    * `time ≥ b` on its own, and without the redundant predicate the scan
    * reads every date directory — at cluster scale the difference between
    * touching 7 partitions and 3 years of them. */
  def history(priceHistory: DataFrame, name: String, range: String,
              asOf: Column): DataFrame = {
    val bound: Option[Column] = range match {
      case "week" => Some(asOf - expr("INTERVAL 7 DAYS"))
      case "month" => Some(asOf - expr("INTERVAL 30 DAYS"))
      case "year" => Some(asOf - expr("INTERVAL 365 DAYS"))
      case "all" => None
      case other => throw new IllegalArgumentException(
        s"range must be week|month|year|all, got '$other'")
    }
    val base = priceHistory.filter(col("market_hash_name") === name)
    bound.fold(base) { b =>
      val timePred = col("time") >= b
      val pred =
        if (priceHistory.columns.contains(graft.sources.PartitionedStore.DateCol))
          timePred && col(graft.sources.PartitionedStore.DateCol) >= to_date(b)
        else timePred
      base.filter(pred)
    }
      .select(col("time"), col("price"), col("volume"))
      .orderBy(col("time").asc)
  }

  /** The 200-empty vs 404 seam (O6): is the item in the enabled set? */
  def itemExists(tracked: DataFrame, name: String): Boolean =
    !tracked.filter(col("enabled") && col("market_hash_name") === name)
      .limit(1).isEmpty

  /** GET /meta — tracked count + last ingest + window request count
    * (A3/A4/A5) over the three live tables. */
  def meta(tracked: DataFrame, liveTables: Seq[DataFrame],
           asOf: Column, windowSeconds: Int): DataFrame = {
    val counts = liveTables.map(t =>
      t.agg(max(col("timestamp")).as("last_ingest"),
        sum(when(col("timestamp") >= asOf - expr(s"INTERVAL $windowSeconds SECONDS"), 1L)
          .otherwise(0L)).as("n_window")))
    val unioned = counts.reduce(_.unionByName(_))
      .agg(max(col("last_ingest")).as("last_ingest"),
        sum(col("n_window")).as("requests_in_window"))
    unioned.crossJoin(
      tracked.filter(col("enabled")).agg(count(lit(1)).as("tracked_count")))
  }

  /** PUT /tracked-items — full-set replacement classified as
    * insert/update/delete/noop (J3 + T14), suppressing no-op writes. */
  def replaceTrackedItems(current: DataFrame, desired: DataFrame,
                          compareCols: Seq[String]): DataFrame = {
    val keys = Seq("market_hash_name", "stream")
    val d = desired.as("d")
    val c = current.as("c")
    val changed = compareCols.map(f => !(col(s"d.$f") <=> col(s"c.$f")))
      .reduceOption(_ || _).getOrElse(lit(false))
    d.join(c, keys.map(k => col(s"d.$k") === col(s"c.$k")).reduce(_ && _), "full_outer")
      .select(
        coalesce(col("d.market_hash_name"), col("c.market_hash_name")).as("market_hash_name"),
        coalesce(col("d.stream"), col("c.stream")).as("stream"),
        when(col("c.market_hash_name").isNull, lit("insert"))
          .when(col("d.market_hash_name").isNull, lit("delete"))
          .when(changed, lit("update"))
          .otherwise(lit("noop")).as("op"))
      .filter(col("op") =!= "noop")
  }

  /** latest-1 per the whole (already filtered) frame, deterministic
    * tie-break on the full struct (SURVEY §7.4.6). */
  private def latest1(df: DataFrame): DataFrame =
    Relational.latestPerKeyWindow(df,
      keys = Seq(lit(1)),
      order = Seq(col("timestamp").desc) ++
        df.columns.filter(_ != "timestamp").map(col(_).desc))
}
