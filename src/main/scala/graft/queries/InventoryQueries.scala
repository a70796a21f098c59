package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Relational

/** Second pack: joins, aggregates, set ops and the incremental (T1/T2)
  * operators from SURVEY.md §2.3-§2.6/§2.8, over the driver testdata.
  *
  * Scale notes per query are in each scaladoc; the common themes:
  * dimension joins are broadcast (no shuffle of the fact side), watermark
  * maps are aggregated before joining (small side), and latest-per-key is
  * the single-shuffle max(struct) form.
  */
object InventoryQueries {
  private val AsOf = CoreQueries.AsOf
  /** DuckDB view of events with ts truncated to micros (Spark parity). */
  private val EV = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events"

  // ---- O3: enabled-set predicate (flag filter + deterministic sort) ------
  def o3StatusFilter(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))
  val o3Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
      |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin

  // ---- O6: existence probe seam (left-semi) ------------------------------
  /** Customers that have at least one order — the 200-vs-404 seam. Semi
    * join shuffles only keys; with AQE the small side broadcasts. */
  def o6SemiProbe(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  val o6Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---- J1: manifest lookup join (broadcast dim chain) --------------------
  /** supplier → nation → region enrichment; both dims broadcast — zero
    * shuffle of the fact side at any scale. Misses are discarded (inner),
    * mirroring the reference's dropped-unresolvable semantics. */
  def j1LookupJoin(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"), col("r_name"))
      .orderBy(col("s_suppkey"))
  val j1Sql =
    """SELECT s_suppkey, s_name, n_name, r_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |ORDER BY s_suppkey""".stripMargin

  // ---- J2: reconcile diff (full-outer classify) --------------------------
  /** Old set = customers ordering in 1995, new set = 1996; classify
    * survivor/added/removed like the poller-set reconcile. */
  def j2Reconcile(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val y95 = o.filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey").as("custkey")).distinct()
    val y96 = o.filter(year(col("o_orderdate")) === 1996)
      .select(col("o_custkey").as("custkey")).distinct()
    Relational.reconcile(y95, y96, Seq("custkey")).orderBy(col("custkey"))
  }
  val j2Sql =
    """WITH old AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995),
      |     new AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996)
      |SELECT COALESCE(old.custkey, new.custkey) AS custkey,
      |       CASE WHEN old.custkey IS NOT NULL AND new.custkey IS NOT NULL THEN 'survivor'
      |            WHEN new.custkey IS NOT NULL THEN 'added'
      |            ELSE 'removed' END AS status
      |FROM old FULL OUTER JOIN new ON old.custkey = new.custkey
      |ORDER BY custkey""".stripMargin

  // ---- J3: anti-join set replacement -------------------------------------
  def j3AntiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "P")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  val j3Sql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  // ---- J7/A10: mean-vs-point spike detection (window avg, no self-join) --
  /** The reference's scalar-CTE cross join becomes a window average —
    * one shuffle on event_type, no second scan of the fact table. */
  def j7SpikeDetect(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    Tables.events(s, d)
      .withColumn("mean_value",
        sum(col("value").cast("decimal(12,2)")).over(w).cast("double") /
          count(lit(1)).over(w))
      .filter(col("value") > col("mean_value") * 1.2)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("mean_value"), 6).as("mean_value"))
      .orderBy(col("event_id"))
  }
  val j7Sql =
    s"""SELECT event_id, event_type, value, ROUND(mean_value, 6) AS mean_value FROM (
       |  SELECT event_id, event_type, value,
       |         CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY event_type) AS DOUBLE)
       |           / COUNT(*) OVER (PARTITION BY event_type) AS mean_value
       |  FROM $EV) t
       |WHERE value > mean_value * 1.2 ORDER BY event_id""".stripMargin

  // ---- J8: duplicate-key guard -------------------------------------------
  def j8DupGuard(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).groupBy(col("p_brand"), col("p_size"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .orderBy(col("p_brand"), col("p_size"))
  val j8Sql =
    """SELECT p_brand, p_size, COUNT(*) AS n FROM part
      |GROUP BY p_brand, p_size HAVING COUNT(*) > 1
      |ORDER BY p_brand, p_size""".stripMargin

  // ---- A1: per-key watermark map (the resume map) ------------------------
  def a1Watermarks(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n"))
      .orderBy(col("user_id"))
  val a1Sql =
    s"""SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n FROM $EV
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- A3/A4: meta — tracked count + max-over-union last ingest ----------
  /** Three per-table maxima unioned then folded with greatest(); each
    * max() is a partial-agg scan, the union is 3 rows. */
  def a4MetaSummary(s: SparkSession, d: String): DataFrame = {
    val nCust = Tables.customer(s, d).agg(count(lit(1)).as("v"))
    val maxes = Tables.events(s, d).agg(max(col("ts")).as("m"))
      .unionByName(Tables.orders(s, d).agg(max(col("o_orderdate")).as("m")))
      .unionByName(Tables.lineitem(s, d).agg(max(col("l_shipdate")).as("m")))
      .agg(max(col("m")).as("last_ingest"))
    nCust.crossJoin(maxes).select(col("v").as("tracked_count"), col("last_ingest"))
  }
  val a4Sql =
    s"""SELECT (SELECT COUNT(*) FROM customer) AS tracked_count,
       |       (SELECT MAX(m) FROM (
       |          SELECT MAX(ts) AS m FROM $EV
       |          UNION ALL SELECT MAX(o_orderdate) FROM orders
       |          UNION ALL SELECT MAX(l_shipdate) FROM lineitem) u) AS last_ingest""".stripMargin

  // ---- A5: windowed request counts (rate reconstruction) -----------------
  def a5WindowedCounts(s: SparkSession, d: String): DataFrame = {
    val asOf = lit(AsOf).cast("timestamp")
    Tables.events(s, d).agg(
      sum(when(col("ts") >= asOf - expr("INTERVAL 1 HOUR"), 1).otherwise(0)).as("n_1h"),
      sum(when(col("ts") >= asOf - expr("INTERVAL 24 HOURS"), 1).otherwise(0)).as("n_24h"),
      sum(when(col("ts") >= asOf - expr("INTERVAL 7 DAYS"), 1).otherwise(0)).as("n_7d"))
  }
  val a5Sql =
    s"""SELECT CAST(SUM(CASE WHEN ts >= TIMESTAMP '$AsOf' - INTERVAL 1 HOUR THEN 1 ELSE 0 END) AS BIGINT) AS n_1h,
       |       CAST(SUM(CASE WHEN ts >= TIMESTAMP '$AsOf' - INTERVAL 24 HOUR THEN 1 ELSE 0 END) AS BIGINT) AS n_24h,
       |       CAST(SUM(CASE WHEN ts >= TIMESTAMP '$AsOf' - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_7d
       |FROM $EV""".stripMargin

  // ---- A6: feasibility gate ----------------------------------------------
  /** Σ floor(window/interval) ≤ budget over a registry-shaped table
    * (part.p_size stands in for poll_interval_sec). */
  def a6Feasibility(s: SparkSession, d: String): DataFrame =
    Relational.feasibility(Tables.part(s, d), col("p_size"), 86400L, 2000000L)
  val a6Sql =
    """SELECT CAST(SUM(FLOOR(86400 / p_size)) AS BIGINT) AS required,
      |       CAST(2000000 AS BIGINT) AS budget,
      |       CAST(SUM(FLOOR(86400 / p_size)) AS BIGINT) <= 2000000 AS feasible,
      |       ROUND(CAST(SUM(FLOOR(86400 / p_size)) AS BIGINT) / 2000000 * 100.0, 6) AS utilization_pct
      |FROM part""".stripMargin

  // ---- A9: volatility ranking --------------------------------------------
  def a9Volatility(s: SparkSession, d: String): DataFrame = {
    val dayAgo = lit(AsOf).cast("timestamp") - expr("INTERVAL 7 DAYS")
    Tables.events(s, d).filter(col("ts") >= dayAgo)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("min_value"), max(col("value")).as("max_value"),
        (sum(col("value").cast("decimal(12,2)")).cast("double") / count(lit(1))).as("avg_value"),
        count(lit(1)).as("n"))
      .withColumn("volatility_pct",
        round((col("max_value") - col("min_value")) / col("avg_value") * 100.0, 6))
      .withColumn("avg_value", round(col("avg_value"), 6))
      .orderBy(col("volatility_pct").desc, col("event_type"))
  }
  val a9Sql =
    s"""SELECT event_type, min_value, max_value, ROUND(avg_value, 6) AS avg_value, n,
       |       ROUND((max_value - min_value) / avg_value * 100.0, 6) AS volatility_pct
       |FROM (
       |  SELECT event_type, MIN(value) AS min_value, MAX(value) AS max_value,
       |         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value,
       |         COUNT(*) AS n
       |  FROM $EV
       |  WHERE ts >= TIMESTAMP '$AsOf' - INTERVAL 7 DAY
       |  GROUP BY event_type) t
       |ORDER BY volatility_pct DESC, event_type""".stripMargin

  // ---- A11: cross-item latest compare ------------------------------------
  def a11LatestCompare(s: SparkSession, d: String): DataFrame =
    Relational.latestPerKey(
      Tables.events(s, d), Seq("user_id"),
      Seq("ts" -> col("ts"), "event_id" -> col("event_id"), "value" -> col("value")))
      .orderBy(col("value").desc, col("user_id"))
      .limit(20)
  val a11Sql =
    s"""SELECT user_id, ts, event_id, value FROM (
       |  SELECT user_id, ts, event_id, value,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM $EV) t
       |WHERE rn = 1 ORDER BY value DESC, user_id LIMIT 20""".stripMargin

  // ---- A12: health rows (count / distinct set / freshness per table) -----
  /** Distinct sets are emitted as sorted comma-joined strings (stable
    * across engines; avoids array-encoding ambiguity in the compare). */
  def a12Health(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).agg(
      count(lit(1)).as("n_rows"),
      array_join(sort_array(collect_set(col("event_type"))), ",").as("distinct_kinds"),
      max(col("ts")).as("freshest")).withColumn("table_name", lit("events"))
    val ord = Tables.orders(s, d).agg(
      count(lit(1)).as("n_rows"),
      array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("distinct_kinds"),
      max(col("o_orderdate")).as("freshest")).withColumn("table_name", lit("orders"))
    val li = Tables.lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      array_join(sort_array(collect_set(col("l_returnflag"))), ",").as("distinct_kinds"),
      max(col("l_shipdate")).as("freshest")).withColumn("table_name", lit("lineitem"))
    ev.unionByName(ord).unionByName(li)
      .select(col("table_name"), col("n_rows"), col("distinct_kinds"), col("freshest"))
      .orderBy(col("table_name"))
  }
  val a12Sql =
    s"""SELECT * FROM (
       |  SELECT 'events' AS table_name, COUNT(*) AS n_rows,
       |         array_to_string(list(DISTINCT event_type ORDER BY event_type), ',') AS distinct_kinds,
       |         MAX(ts) AS freshest FROM $EV
       |  UNION ALL
       |  SELECT 'orders', COUNT(*), array_to_string(list(DISTINCT o_orderstatus ORDER BY o_orderstatus), ','),
       |         MAX(o_orderdate) FROM orders
       |  UNION ALL
       |  SELECT 'lineitem', COUNT(*), array_to_string(list(DISTINCT l_returnflag ORDER BY l_returnflag), ','),
       |         MAX(l_shipdate) FROM lineitem) t
       |ORDER BY table_name""".stripMargin

  // ---- W2: global top-N --------------------------------------------------
  /** TakeOrderedAndProject: per-partition top-200 + driver merge; no full
    * sort at any scale. */
  def w2Top200Orders(s: SparkSession, d: String): DataFrame =
    Relational.topN(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 200)
  val w2Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 200""".stripMargin

  // ---- W3: tail-k slice of a per-key ordered series ----------------------
  /** Last-3 event values per user as a joined string (the reference's
    * `[-50:]` activity tail).
    *
    * Scale shape: descending `row_number() <= k` FIRST (spill-safe window
    * sort, never buffers a whole group), THEN collect — so the per-key
    * collect_list holds at most k=3 rows even for a hot key with 10^9
    * events. A whole-group `collect_list → slice` would OOM the reducer on
    * skew; and unlike `slice(arr, -3, 3)` (empty for short arrays) this
    * form clamps like Python's `[-3:]` for users with fewer than 3 events. */
  def w3TailSlice(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(12,2)").as("v"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"), col("v")))),
        x => x.getField("v").cast("string")), ",").as("tail_values"))
      .orderBy(col("user_id"))
  }
  val w3Sql =
    s"""SELECT user_id,
       |       array_to_string(list(CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) ORDER BY ts, event_id)[-3:], ',') AS tail_values
       |FROM $EV GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- U2: except / set difference ---------------------------------------
  def u2Except(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey")).distinct()
      .exceptAll(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")).distinct())
      .orderBy(col("o_custkey"))
  }
  val u2Sql =
    """SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |EXCEPT
      |SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |ORDER BY o_custkey""".stripMargin

  // ---- U4: INTERSECT — the retained-customer set --------------------------
  /** u2's complement: customers active in BOTH 1995 and 1996 (retention,
    * where u2 is churn). Spark `intersect` plans the same shuffled
    * distinct-semi shape as EXCEPT; both sides dedup before the set op,
    * so the result is key-distinct by construction. */
  def u4Intersect(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey")).distinct()
      .intersect(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")).distinct())
      .orderBy(col("o_custkey"))
  }
  val u4Sql =
    """SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |INTERSECT
      |SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |ORDER BY o_custkey""".stripMargin

  // ---- T1: watermarked delta append (batch shape) ------------------------
  /** existing = events before Jan 15; incoming = Jan 10-20 batch. The
    * delta keeps only points newer than each user's stored max (late rows
    * DROPPED, per reference semantics) and dedups (user_id, ts) pairs
    * deterministically (min event_id wins). */
  def t1DeltaAppend(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val existing = ev.filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
    val incoming = ev.filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
    val delta = Relational.deltaAppend(existing, incoming, Seq("user_id"), "ts")
    // deterministic within-batch dedup: min event_id per (user_id, ts)
    Relational.latestPerKey(
      delta.withColumn("neg_id", -col("event_id")),
      Seq("user_id", "ts"),
      Seq("neg_id" -> col("neg_id"), "event_type" -> col("event_type"),
        "value" -> col("value")))
      .select(col("user_id"), col("ts"), (-col("neg_id")).as("event_id"),
        col("event_type"), col("value"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }
  val t1Sql =
    s"""WITH ev AS (SELECT * FROM $EV),
       |existing AS (SELECT * FROM ev WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
       |incoming AS (SELECT * FROM ev WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
       |                              AND ts < TIMESTAMP '2024-01-20 00:00:00'),
       |wm AS (SELECT user_id, MAX(ts) AS wm FROM existing GROUP BY user_id),
       |delta AS (
       |  SELECT i.* FROM incoming i LEFT JOIN wm ON i.user_id = wm.user_id
       |  WHERE wm.wm IS NULL OR i.ts > wm.wm)
       |SELECT user_id, ts, event_id, event_type, value FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
       |  FROM delta) t
       |WHERE rn = 1 ORDER BY user_id, ts, event_id""".stripMargin

  // ---- T2: staleness-gated re-fetch set ----------------------------------
  /** Registry = customer keys; facts = events keyed by user_id. Stale =
    * never seen or last point older than the cutoff. */
  def t2Staleness(s: SparkSession, d: String): DataFrame =
    Relational.stalenessGate(
      Tables.customer(s, d).select(col("c_custkey")),
      Tables.events(s, d).withColumnRenamed("user_id", "c_custkey"),
      Seq("c_custkey"), "ts",
      lit("2024-01-28 00:00:00").cast("timestamp"))
      .orderBy(col("c_custkey"))
  val t2Sql =
    s"""SELECT c.c_custkey FROM customer c
       |LEFT JOIN (SELECT user_id, MAX(ts) AS wm FROM $EV GROUP BY user_id) w
       |  ON c.c_custkey = w.user_id
       |WHERE w.wm IS NULL OR w.wm < TIMESTAMP '2024-01-28 00:00:00'
       |ORDER BY c.c_custkey""".stripMargin

  // -------------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("o3_status_filter", o3StatusFilter, o3Sql),
    QueryDef("o6_semi_probe", o6SemiProbe, o6Sql),
    QueryDef("j1_lookup_join", j1LookupJoin, j1Sql),
    QueryDef("j2_reconcile", j2Reconcile, j2Sql),
    QueryDef("j3_anti_join", j3AntiJoin, j3Sql),
    QueryDef("j7_spike_detect", j7SpikeDetect, j7Sql),
    QueryDef("j8_dup_guard", j8DupGuard, j8Sql),
    QueryDef("a1_watermarks", a1Watermarks, a1Sql),
    QueryDef("a4_meta_summary", a4MetaSummary, a4Sql),
    QueryDef("a5_windowed_counts", a5WindowedCounts, a5Sql),
    QueryDef("a6_feasibility", a6Feasibility, a6Sql),
    QueryDef("a9_volatility", a9Volatility, a9Sql),
    QueryDef("a11_latest_compare", a11LatestCompare, a11Sql),
    QueryDef("a12_health", a12Health, a12Sql),
    QueryDef("w2_top200_orders", w2Top200Orders, w2Sql),
    QueryDef("w3_tail_slice", w3TailSlice, w3Sql),
    QueryDef("u2_except", u2Except, u2Sql),
    QueryDef("u4_intersect", u4Intersect, u4Sql),
    QueryDef("t1_delta_append", t1DeltaAppend, t1Sql),
    QueryDef("t2_staleness", t2Staleness, t2Sql))
}
