package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Relational

/** SURVEY §2 inventory completion: the remaining SQL-expressible line
  * items — A2/A7/A13 aggregates + invariants, F8/F10-F16 scalar surface,
  * J4/J6 set-verify + lookup joins, O4/O5/O7 predicates, W5/W6 sorts and
  * urgency, T14 no-op write suppression. Same determinism contract as
  * CoreQueries (total ORDER BY, exact integer/decimal math, explicit
  * as-of). */
object InventoryQueries2 {
  private val AsOf = CoreQueries.AsOf

  /** DuckDB view of events with the NANOS→micros cast (see Tables.events). */
  private val EventsSql = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events"

  // ---- A2: scalar max watermark (pre-delta-append probe) -------------------
  def a2MaxWatermark(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("user_id") === 3)
      .agg(max(col("ts")).as("wm"), count(lit(1)).as("n_points"))
  val a2Sql: String =
    s"SELECT max(ts) AS wm, count(*) AS n_points FROM $EventsSql WHERE user_id = 3"

  // ---- A7 + A13: size() + invariant predicate flags ------------------------
  def a13Invariants(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("n_nonpos_qty"),
      sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("n_nonpos_price"),
      sum(when(col("l_discount") > col("l_tax"), 1L).otherwise(0L)).as("n_crossed"),
      sum(size(split(col("l_returnflag"), "")).cast("long")).as("n_flag_chars"))
  }
  val a13Sql: String =
    """SELECT count(*) AS n_rows,
      |  SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::BIGINT AS n_nonpos_qty,
      |  SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)::BIGINT AS n_nonpos_price,
      |  SUM(CASE WHEN l_discount > l_tax THEN 1 ELSE 0 END)::BIGINT AS n_crossed,
      |  SUM(length(l_returnflag))::BIGINT AS n_flag_chars
      |FROM lineitem""".stripMargin

  // ---- F10: currency-id ↔ ISO literal map lookup ---------------------------
  def f10CurrencyMap(s: SparkSession, d: String): DataFrame = {
    val m = map(lit(1), lit("USD"), lit(2), lit("GBP"), lit(3), lit("EUR"), lit(24), lit("INR"))
    Tables.events(s, d)
      .select(col("event_id"), (col("user_id") % 30).cast("int").as("currency_id"))
      .withColumn("iso", element_at(m, col("currency_id")))
      .filter(col("event_id") < 200)
      .orderBy(col("event_id"))
  }
  val f10Sql: String =
    """SELECT event_id, CAST(user_id % 30 AS INTEGER) AS currency_id,
      |  CASE CAST(user_id % 30 AS INTEGER) WHEN 1 THEN 'USD' WHEN 2 THEN 'GBP'
      |       WHEN 3 THEN 'EUR' WHEN 24 THEN 'INR' ELSE NULL END AS iso
      |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin

  // ---- F11: content hashing (loop-guard sha256 + md5) ----------------------
  def f11Hash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < 20)
      .select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("sha"),
        md5(col("text").cast("binary")).as("md5"))
      .orderBy(col("doc_id"))
  val f11Sql: String =
    """SELECT doc_id, sha256(text) AS sha, md5(text) AS md5
      |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin

  // ---- F12: NOTIFY-payload JSON construction -------------------------------
  def f12JsonBuild(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .select(col("n_nationkey"),
        to_json(struct(col("n_name").as("name"), col("n_regionkey").cast("string").as("stream")))
          .as("payload"))
      .orderBy(col("n_nationkey"))
  val f12Sql: String =
    """SELECT n_nationkey,
      |  '{"name":"' || n_name || '","stream":"' || CAST(n_regionkey AS VARCHAR) || '"}' AS payload
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ---- F13: json_extract over the props JSON column ------------------------
  def f13JsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("event_id") < 200)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        length(col("props")).cast("long").as("props_len"))
      .orderBy(col("event_id"))
  val f13Sql: String =
    """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k,
      |  CAST(length(props) AS BIGINT) AS props_len
      |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin

  // ---- F15: date/hour bucketing --------------------------------------------
  def f15DateBucket(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"),
        concat(date_format(col("ts"), "HH"), lit(":00")).as("hour_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day"), col("hour_label"))
  val f15Sql: String =
    s"""SELECT CAST(ts AS DATE) AS day, strftime(ts, '%H') || ':00' AS hour_label, count(*) AS n
       |FROM $EventsSql GROUP BY 1, 2 ORDER BY day, hour_label""".stripMargin

  // ---- F16: ISO-8601 UTC serialization -------------------------------------
  def f16IsoFormat(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("event_id") < 100)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'+00:00'").as("iso"))
      .orderBy(col("event_id"))
  val f16Sql: String =
    s"""SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S+00:00') AS iso
       |FROM $EventsSql WHERE event_id < 100 ORDER BY event_id""".stripMargin

  // ---- J4: seed verification (symmetric except, both directions) -----------
  def j4SeedVerify(s: SparkSession, d: String): DataFrame = {
    val cfg = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val db = cfg.filter(col("n_nationkey") =!= 5)
      .unionByName(cfg.filter(col("n_nationkey") === 7)
        .withColumn("n_name", concat(col("n_name"), lit("_X"))))
    val missing = cfg.exceptAll(db).withColumn("side", lit("missing"))
    val extra = db.exceptAll(cfg).withColumn("side", lit("extra"))
    missing.unionByName(extra).orderBy(col("side"), col("n_nationkey"), col("n_name"))
  }
  val j4Sql: String =
    """WITH cfg AS (SELECT n_nationkey, n_name, n_regionkey FROM nation),
      |db AS (
      |  SELECT * FROM cfg WHERE n_nationkey <> 5
      |  UNION ALL
      |  SELECT n_nationkey, n_name || '_X', n_regionkey FROM cfg WHERE n_nationkey = 7
      |)
      |SELECT *, 'missing' AS side FROM (SELECT * FROM cfg EXCEPT ALL SELECT * FROM db)
      |UNION ALL
      |SELECT *, 'extra' AS side FROM (SELECT * FROM db EXCEPT ALL SELECT * FROM cfg)
      |ORDER BY side, n_nationkey, n_name""".stripMargin

  // ---- J6: ISO → (steam_id, country) lookup + currency-flip detect ---------
  def j6IsoLookup(s: SparkSession, d: String): DataFrame = {
    val s2 = s
    import s2.implicits._
    val dim = Seq(("USD", 1, "US"), ("GBP", 2, "GB"), ("EUR", 3, "DE"), ("INR", 24, "IN"))
      .toDF("iso", "steam_id", "country")
    val observed = Tables.events(s, d).filter(col("event_id") < 300)
      .select(col("event_id"),
        element_at(array(lit("USD"), lit("GBP"), lit("EUR"), lit("NOK")),
          (col("user_id") % 4).cast("int") + 1).as("iso"),
        (col("user_id") % 5 + 1).cast("int").as("requested_id"))
    observed.join(broadcast(dim), Seq("iso"), "left")
      .withColumn("flip_needed",
        col("steam_id").isNotNull && col("steam_id") =!= col("requested_id"))
      .select(col("event_id"), col("iso"), col("requested_id"),
        col("steam_id"), col("country"), col("flip_needed"))
      .orderBy(col("event_id"))
  }
  val j6Sql: String =
    """WITH dim AS (
      |  SELECT * FROM (VALUES ('USD', 1, 'US'), ('GBP', 2, 'GB'), ('EUR', 3, 'DE'), ('INR', 24, 'IN'))
      |    AS t(iso, steam_id, country)
      |), observed AS (
      |  SELECT event_id,
      |    (['USD','GBP','EUR','NOK'])[CAST(user_id % 4 AS INTEGER) + 1] AS iso,
      |    CAST(user_id % 5 + 1 AS INTEGER) AS requested_id
      |  FROM events WHERE event_id < 300
      |)
      |SELECT o.event_id, o.iso, o.requested_id, d.steam_id, d.country,
      |  d.steam_id IS NOT NULL AND d.steam_id <> o.requested_id AS flip_needed
      |FROM observed o LEFT JOIN dim d ON o.iso = d.iso
      |ORDER BY o.event_id""".stripMargin

  // ---- O4 + O5: stream split + budget-relevant filter ----------------------
  def o4StreamSplit(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("split",
        when(col("event_type") =!= "purchase", lit("live")).otherwise(lit("archival")))
      .groupBy(col("split"), col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("split"), col("event_type"))
  val o4Sql: String =
    """SELECT CASE WHEN event_type <> 'purchase' THEN 'live' ELSE 'archival' END AS split,
      |  event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY split, event_type""".stripMargin

  // ---- O7: cooldown gate (skip_until > now) --------------------------------
  def o7Cooldown(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("skip_until_us",
        unix_micros(col("ts")) + floor(col("value") * 60000000L).cast("long"))
      .filter(col("skip_until_us") > unix_micros(lit(AsOf).cast("timestamp")))
      .select(col("event_id"), col("user_id"), col("skip_until_us"))
      .orderBy(col("event_id"))
  val o7Sql: String =
    s"""SELECT event_id, user_id,
       |  epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS skip_until_us
       |FROM $EventsSql
       |WHERE epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) > epoch_us(TIMESTAMP '$AsOf')
       |ORDER BY event_id""".stripMargin

  // ---- W5: deterministic registry sort (column-pruned) ---------------------
  def w5RegistrySort(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy(col("c_nationkey"), col("c_custkey"))
      .limit(150)
  val w5Sql: String =
    """SELECT c_custkey, c_name, c_nationkey FROM customer
      |ORDER BY c_nationkey, c_custkey LIMIT 150""".stripMargin

  // ---- W6: urgency priority / argmin-sleep ---------------------------------
  def w6Urgency(s: SparkSession, d: String): DataFrame = {
    val asofUs = unix_micros(lit(AsOf).cast("timestamp"))
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_update"))
      .withColumn("interval_s", (lit(60) + col("user_id") * 10).cast("long"))
      .withColumn("elapsed_us", asofUs - unix_micros(col("last_update")))
      .withColumn("urgency",
        col("elapsed_us").cast("double") / (col("interval_s") * 1000000L).cast("double"))
      .withColumn("overdue", col("urgency") >= 1.0)
      .select(col("user_id"), col("last_update"), col("interval_s"),
        col("elapsed_us"), col("urgency"), col("overdue"))
      .orderBy(col("urgency").desc, col("user_id"))
  }
  val w6Sql: String =
    s"""SELECT user_id, last_update, interval_s, elapsed_us,
       |  CAST(elapsed_us AS DOUBLE) / CAST(interval_s * 1000000 AS DOUBLE) AS urgency,
       |  CAST(elapsed_us AS DOUBLE) / CAST(interval_s * 1000000 AS DOUBLE) >= 1.0 AS overdue
       |FROM (
       |  SELECT user_id, max(ts) AS last_update,
       |    CAST(60 + user_id * 10 AS BIGINT) AS interval_s,
       |    epoch_us(TIMESTAMP '$AsOf') - epoch_us(max(ts)) AS elapsed_us
       |  FROM $EventsSql GROUP BY user_id
       |) t ORDER BY urgency DESC, user_id""".stripMargin

  // ---- T14: no-op write suppression (conditional MERGE classify) -----------
  def t14NoopSuppression(s: SparkSession, d: String): DataFrame = {
    val current = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val desired = current.filter(col("n_nationkey") =!= 2)
      .unionByName(current.filter(col("n_nationkey") === 3)
        .withColumn("n_name", concat(col("n_name"), lit("_NEW"))))
      .unionByName(Seq((99, "ATLANTIS", 0)).toDF_(s))
    val j = desired.as("dd").join(current.as("c"),
      col("dd.n_nationkey") === col("c.n_nationkey"), "full_outer")
    j.select(
        coalesce(col("dd.n_nationkey"), col("c.n_nationkey")).as("n_nationkey"),
        when(col("c.n_nationkey").isNull, lit("insert"))
          .when(col("dd.n_nationkey").isNull, lit("delete"))
          .when(!(col("dd.n_name") <=> col("c.n_name")) ||
                !(col("dd.n_regionkey") <=> col("c.n_regionkey")), lit("update"))
          .otherwise(lit("noop")).as("op"))
      .filter(col("op") =!= "noop")
      .orderBy(col("n_nationkey"))
  }
  implicit private class SeqOps(val rows: Seq[(Int, String, Int)]) {
    def toDF_(s: SparkSession): DataFrame = {
      import s.implicits._
      rows.toDF("n_nationkey", "n_name", "n_regionkey")
        .select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int"))
    }
  }
  val t14Sql: String =
    """WITH cur AS (SELECT n_nationkey, n_name, n_regionkey FROM nation),
      |des AS (
      |  SELECT * FROM cur WHERE n_nationkey <> 2
      |  UNION ALL SELECT n_nationkey, n_name || '_NEW', n_regionkey FROM cur WHERE n_nationkey = 3
      |  UNION ALL SELECT 99, 'ATLANTIS', 0
      |)
      |SELECT COALESCE(d.n_nationkey, c.n_nationkey) AS n_nationkey,
      |  CASE WHEN c.n_nationkey IS NULL THEN 'insert'
      |       WHEN d.n_nationkey IS NULL THEN 'delete'
      |       WHEN d.n_name IS DISTINCT FROM c.n_name
      |         OR d.n_regionkey IS DISTINCT FROM c.n_regionkey THEN 'update'
      |       ELSE 'noop' END AS op
      |FROM des d FULL JOIN cur c ON d.n_nationkey = c.n_nationkey
      |WHERE NOT (CASE WHEN c.n_nationkey IS NULL THEN 'insert'
      |       WHEN d.n_nationkey IS NULL THEN 'delete'
      |       WHEN d.n_name IS DISTINCT FROM c.n_name
      |         OR d.n_regionkey IS DISTINCT FROM c.n_regionkey THEN 'update'
      |       ELSE 'noop' END) = 'noop'
      |ORDER BY n_nationkey""".stripMargin

  // ---- W7: as-of join (latest view at-or-before each purchase) -------------
  def w7AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
        col("value").as("view_value"))
    graft.operators.Relational
      .asofJoin(purchases, views, Seq("user_id"), "ts",
        rightPayload = Seq("view_value"), rightOrd = "view_id")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("_match.view_id").as("view_id"),
        col("_match.view_value").as("view_value"))
      .orderBy(col("event_id"))
  }
  val w7Sql: String =
    s"""WITH p AS (SELECT user_id, ts, event_id FROM $EventsSql WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, ts, event_id AS view_id, value AS view_value
       |      FROM $EventsSql WHERE event_type = 'view')
       |SELECT p.event_id, p.user_id, p.ts, m.view_id, m.view_value
       |FROM p LEFT JOIN LATERAL (
       |  SELECT view_id, view_value FROM v
       |  WHERE v.user_id = p.user_id AND v.ts <= p.ts
       |  ORDER BY v.ts DESC, view_id DESC LIMIT 1) m ON true
       |ORDER BY p.event_id""".stripMargin

  // ---- W9: nearest as-of join within tolerance -----------------------------
  /** Each purchase matched to its temporally CLOSEST view within 2 h
    * (either direction), backward winning ties — merge_asof
    * direction='nearest'. Distances in epoch MICROS: exact integer math,
    * and the truncation nanos→micros is identical on both engines
    * (Spark `div 1000`, DuckDB TIMESTAMP_NS→µs coercion). */
  private val NearTolUs = 7200L * 1000000L // 2 h

  def w9AsofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"), col("event_id").as("view_id"),
        col("value").as("view_value"))
    graft.operators.Relational
      .asofJoinNearest(purchases, views, Seq("user_id"), "ts_us",
        rightPayload = Seq("view_value"), rightOrd = "view_id",
        tolerance = NearTolUs)
      .select(col("event_id"), col("user_id"), col("ts_us").as("ts_u"),
        col("_match.view_id").as("view_id"),
        col("_match.view_value").as("view_value"),
        col("_match._rts").as("view_ts_u"))
      .orderBy(col("event_id"))
  }
  val w9Sql: String =
    s"""WITH p AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tsn, event_id
       |           FROM events WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tsn,
       |             event_id AS view_id, value AS view_value
       |      FROM events WHERE event_type = 'view'),
       |bf AS (
       |  SELECT p.event_id, p.user_id, p.tsn,
       |         b.view_id AS b_id, b.view_value AS b_val, b.tsn AS b_tsn,
       |         f.view_id AS f_id, f.view_value AS f_val, f.tsn AS f_tsn
       |  FROM p
       |  LEFT JOIN LATERAL (
       |    SELECT view_id, view_value, tsn FROM v
       |    WHERE v.user_id = p.user_id AND v.tsn <= p.tsn
       |    ORDER BY v.tsn DESC, view_id DESC LIMIT 1) b ON true
       |  LEFT JOIN LATERAL (
       |    SELECT view_id, view_value, tsn FROM v
       |    WHERE v.user_id = p.user_id AND v.tsn > p.tsn
       |    ORDER BY v.tsn ASC, view_id ASC LIMIT 1) f ON true
       |), pick AS (
       |  SELECT event_id, user_id, tsn AS ts_u,
       |    (b_id IS NOT NULL AND tsn - b_tsn <= $NearTolUs) AS vb,
       |    (f_id IS NOT NULL AND f_tsn - tsn <= $NearTolUs) AS vf,
       |    (f_tsn - tsn < tsn - b_tsn) AS fwd_nearer,
       |    b_id, b_val, b_tsn, f_id, f_val, f_tsn
       |  FROM bf
       |)
       |SELECT event_id, user_id, ts_u,
       |  CASE WHEN vb AND vf THEN CASE WHEN fwd_nearer THEN f_id ELSE b_id END
       |       WHEN vb THEN b_id WHEN vf THEN f_id END AS view_id,
       |  CASE WHEN vb AND vf THEN CASE WHEN fwd_nearer THEN f_val ELSE b_val END
       |       WHEN vb THEN b_val WHEN vf THEN f_val END AS view_value,
       |  CASE WHEN vb AND vf THEN CASE WHEN fwd_nearer THEN f_tsn ELSE b_tsn END
       |       WHEN vb THEN b_tsn WHEN vf THEN f_tsn END AS view_ts_u
       |FROM pick ORDER BY event_id""".stripMargin

  // ---- J19: point-in-time feature assembly (the feature-store read) -------
  /** The leakage-safe training-set assembly every tabular-ML pipeline
    * runs: label events (purchases) joined to TWO feature sources, each
    * under its own availability rule —
    *  (1) a STREAMING feature: the latest view at-or-before the label
    *      instant, with its staleness age in exact µs;
    *  (2) a BATCH feature: per-(user, day) click aggregates that only
    *      become servable at the NEXT UTC midnight (avail_us = day end)
    *      — the "nightly job" contract, so a label never reads a
    *      same-day partial aggregate (the classic leakage bug where
    *      train-time joins see a full day the serving path hasn't
    *      finished computing).
    * Both matches are [[graft.operators.Relational.asofJoin]]s (one
    * shuffle + bounded per-key sort each, no range explosion); the
    * leakage invariant is ENFORCED IN-PLAN, not assumed: a matched
    * feature timestamp after its label raises before any row ships
    * (the failOnCap discipline applied to time-travel). Missing history
    * stays NULL — no silent zero-fill that a model would read as
    * signal. Age math in integer µs; click values quantize to cents. */
  def j19PitFeatures(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val labels = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("ts"), col("event_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"),
        col("ts_us").as("view_us"), col("event_id").as("view_id"),
        col("value").as("view_value"))
    val daily = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), to_date(col("ts")).as("feature_day"))
      .agg(count(lit(1)).as("n_clicks"),
        sum(floor(col("value") * lit(100.0)).cast("long")).as("click_cents"))
      .withColumn("ts_us",
        unix_micros(col("feature_day").cast("timestamp")) + lit(86400000000L))
      .withColumn("avail_us", col("ts_us"))
    val withView = graft.operators.Relational
      .asofJoin(labels, views, Seq("user_id"), "ts_us",
        rightPayload = Seq("view_value", "view_us"), rightOrd = "view_id")
      .select(col("user_id"), col("ts_us"), col("ts"), col("event_id"),
        col("_match.view_value").as("view_value"),
        (col("ts_us") - col("_match.view_us")).as("view_age_us"))
    val gate = (c: Column, what: String) => when(c,
      raise_error(concat(lit(s"[j19] leakage: $what after its label for event "),
        col("event_id")))).otherwise(lit(null))
    graft.operators.Relational
      .asofJoin(withView, daily, Seq("user_id"), "ts_us",
        rightPayload = Seq("n_clicks", "click_cents", "avail_us"),
        rightOrd = "feature_day")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("view_value"),
        coalesce(gate(col("view_age_us") < 0L, "view"),
          col("view_age_us")).as("view_age_us"),
        col("_match.feature_day").as("feature_day"),
        col("_match.n_clicks").as("n_clicks"),
        coalesce(gate(col("_match.avail_us") > col("ts_us"), "daily feature"),
          col("_match.click_cents")).as("click_cents"))
      .orderBy(col("event_id"))
  }
  val j19Sql: String =
    s"""WITH p AS (SELECT user_id, ts, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       |                  event_id
       |           FROM $EventsSql WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS v_us,
       |             event_id AS view_id, value AS view_value
       |      FROM $EventsSql WHERE event_type = 'view'),
       |cf AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS feature_day,
       |         COUNT(*) AS n_clicks,
       |         CAST(SUM(CAST(FLOOR(value * 1e2) AS BIGINT)) AS BIGINT) AS click_cents,
       |         CAST(epoch_us(CAST(date_trunc('day', ts) AS DATE)
       |           + INTERVAL 1 DAY) AS BIGINT) AS avail_us
       |       FROM $EventsSql WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT p.event_id, p.user_id, p.ts,
       |  m1.view_value, p.ts_us - m1.v_us AS view_age_us,
       |  m2.feature_day, m2.n_clicks, m2.click_cents
       |FROM p
       |LEFT JOIN LATERAL (
       |  SELECT view_value, v_us FROM v
       |  WHERE v.user_id = p.user_id AND v.v_us <= p.ts_us
       |  ORDER BY v.v_us DESC, view_id DESC LIMIT 1) m1 ON true
       |LEFT JOIN LATERAL (
       |  SELECT feature_day, n_clicks, click_cents FROM cf
       |  WHERE cf.user_id = p.user_id AND cf.avail_us <= p.ts_us
       |  ORDER BY cf.feature_day DESC LIMIT 1) m2 ON true
       |ORDER BY p.event_id""".stripMargin

  // ---- W8: gap-based sessionization (30-min inactivity closes a session) ---
  def w8Sessionize(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapped = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1L).otherwise(0L))
      .withColumn("session_no",
        sum(col("new_session")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    gapped.groupBy(col("user_id"), col("session_no"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .orderBy(col("user_id"), col("session_no"))
  }
  val w8Sql: String =
    s"""WITH ord AS (
       |  SELECT user_id, ts, event_id, value,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
       |  FROM $EventsSql
       |), flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 30*60*1000000
       |                 THEN 1 ELSE 0 END AS new_session
       |  FROM ord
       |), sessions AS (
       |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
       |  FROM flagged
       |)
       |SELECT user_id, session_no, min(ts) AS session_start, max(ts) AS session_end,
       |  count(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
       |FROM sessions GROUP BY user_id, session_no
       |ORDER BY user_id, session_no""".stripMargin

  // ---- J18: interval-OVERLAP join (binned, lossless) -------------------------
  /** Interval×interval overlap join — the join shape with NO equi key at
    * all that [[j11_interval_join]]'s point-in-interval form only half
    * covers: cross-USER session pairs that overlap in time (the
    * "concurrent activity" read), top-100 by overlap duration. The scale
    * trap is the naive θ-join (a cartesian under two range predicates);
    * the classic fix is the same BINNING trick as j11 lifted to both
    * sides: each session explodes to the HOUR buckets it covers, pairs
    * equi-join on the bucket — LOSSLESS because two overlapping
    * intervals both contain the overlap instant, which lies in a bucket
    * both cover — dedup (a pair sharing several buckets collapses), then
    * the EXACT overlap check and duration in integer microseconds. Pair
    * fan-out per bucket is concurrency², the size of the true answer,
    * not of the corpus; the oracle states the naive θ-join outright.
    * Sessions come from the same chain `w8_sessionize` grades, so the
    * two views can never disagree about what a session IS. */
  def j18SessionOverlap(s: SparkSession, d: String): DataFrame =
    j18OverlapPairs(s, d)
      .orderBy(col("overlap_us").desc, col("user_a"), col("session_a"),
        col("user_b"), col("session_b"))
      .limit(100)

  /** The full overlap pair set j18 ranks — split out (r18) so the bench
    * can COUNT it untimed per scaling dir: the `_true_pairs` twin of
    * the j18 volume law (the dedup exchange is pair-set-bound, so
    * bytes-per-pair is the decodable form of its superlinear volume
    * curve). Identical plan to the declared query minus the top-100. */
  private[graft] def j18OverlapPairs(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val sess = w8Sessionize(s, d).select(col("user_id"), col("session_no"),
      unix_micros(col("session_start")).as("s_us"),
      unix_micros(col("session_end")).as("e_us"))
    // failOnCap (r12 verdict #3): one viral hour must raise loudly, not
    // go silently quadratic — the graded data never approaches the
    // default per-bin pair budget (peak hourly concurrency at sf0.1 is
    // O(users) ≪ 4096 sessions/bin; measured r18: max 168 sessions/bin
    // at sf0.1, so even the x10 user-amplified bench dir peaks at
    // ~1,680 ≪ 4,096), so the oracle is untouched
    graft.operators.Relational.sessionOverlapPairs(
      sess, binUs = hourUs, failOnCap = true)
  }
  val j18Sql: String =
    s"""WITH ord AS (
       |  SELECT user_id, ts, event_id,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
       |  FROM $EventsSql
       |), flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 30*60*1000000
       |                 THEN 1 ELSE 0 END AS new_session
       |  FROM ord
       |), sessions AS (
       |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
       |  FROM flagged
       |), sess AS (
       |  SELECT user_id, session_no,
       |    epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
       |  FROM sessions GROUP BY user_id, session_no
       |)
       |SELECT a.user_id AS user_a, a.session_no AS session_a,
       |       b.user_id AS user_b, b.session_no AS session_b,
       |       LEAST(a.e_us, b.e_us) - GREATEST(a.s_us, b.s_us) AS overlap_us
       |FROM sess a JOIN sess b
       |  ON a.user_id < b.user_id AND a.s_us <= b.e_us AND b.s_us <= a.e_us
       |ORDER BY overlap_us DESC, user_a, session_a, user_b, session_b
       |LIMIT 100""".stripMargin

  // ---- W19: peak concurrency by sweep line -----------------------------------
  /** Peak concurrent sessions per day — the capacity-planning read, and
    * the classic SWEEP-LINE decomposition: each (day-clipped) session
    * becomes a +1 point at its start and a −1 at end+1 µs, net deltas
    * collapse per (day, instant) so simultaneous starts/ends have no
    * tie-order ambiguity, and the running sum's max over each day's
    * points is the peak. Midnight-crossing sessions explode to their
    * covered days with interval clipping, so a session counts toward
    * every day it touches. The only window partitions by DAY over the
    * collapsed point set (≤ 2·sessions rows, bounded by daily volume —
    * the same envelope the sessionizer's per-user windows already
    * accept; at extreme per-day volume the prefix sum decomposes
    * two-phase like `Sequence.denseIds`). Integer µs end to end. */
  def w19PeakConcurrency(s: SparkSession, d: String): DataFrame =
    peakConcurrencyFrom(w8Sessionize(s, d))

  /** The sweep-line core, split out so the spec can drive PLANTED
    * intervals through the exact graded path (the oracle restates the
    * same decomposition, so it alone cannot catch a shared-algorithm
    * slip; the hand-checked fixture — simultaneous end/start instants,
    * a midnight crosser — can). Input needs (session_start,
    * session_end) timestamps; end-INCLUSIVE intervals.
    *
    * The running sum is the TWO-PHASE prefix-sum decomposition (the
    * `Sequence.denseIds` / `sortedNeighborhood` rank machinery): a
    * `partitionBy(day)` window would put an entire day's points in ONE
    * task — at 100 TB a day is billions of points, the single-task trap
    * this repo bans. Instead points range-partition on (day, t) (the
    * exchange is CHECKPOINTED: cumsum and offsets must see the same
    * sampled boundaries), each partition cumsums its own (pid, day)
    * slice, and a broadcast (pid, day)-subtotal table — ≤ nRanges·days
    * rows, exclusive-prefix-summed per day over the pid order, the one
    * documented tiny single-partition window — supplies each slice's
    * starting offset. Equal (day, t) keys never split across range
    * partitions (and are pre-collapsed anyway), so slice order IS sweep
    * order. */
  private[graft] def peakConcurrencyFrom(sessions: DataFrame,
                                         nRanges: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400L * 1000000L
    val sess = sessions.select(
      unix_micros(col("session_start")).as("s_us"),
      unix_micros(col("session_end")).as("e_us"),
      to_date(col("session_start")).as("d0"),
      to_date(col("session_end")).as("d1"))
    // checkpointed (r17): the union below reads perDay TWICE, and its
    // lineage embeds the caller's whole session derivation (at w19 the
    // full events scan + two sessionization windows) — without the
    // checkpoint both union sides re-ran the chain. Narrow day-clipped
    // interval rows, one per (session, covered day).
    val perDay = sess.withColumn("day", explode(expr("sequence(d0, d1)")))
      .withColumn("ds", unix_micros(col("day").cast("timestamp")))
      .select(col("day"),
        greatest(col("s_us"), col("ds")).as("cs"),
        least(col("e_us"), col("ds") + lit(dayUs - 1L)).as("ce"))
      .localCheckpoint()
    val pts = perDay.select(col("day"), col("cs").as("t"), lit(1L).as("delta"))
      .unionByName(perDay.select(col("day"), (col("ce") + 1L).as("t"),
        lit(-1L).as("delta")))
      .groupBy(col("day"), col("t")).agg(sum(col("delta")).as("net"))
    val parts = pts.repartitionByRange(nRanges, col("day"), col("t"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // cumsum + offsets must see the same boundaries
    try {
      val wIn = Window.partitionBy(col("pid"), col("day")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wOff = Window.partitionBy(col("day")).orderBy(col("pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = broadcast(parts.groupBy(col("pid"), col("day"))
        .agg(sum(col("net")).as("sub"))
        .withColumn("offset", coalesce(sum(col("sub")).over(wOff), lit(0L)))
        .select(col("pid"), col("day"), col("offset")))
      parts.withColumn("cum", sum(col("net")).over(wIn))
        .join(offsets, Seq("pid", "day"))
        .withColumn("open", col("cum") + col("offset"))
        .groupBy(col("day")).agg(max(col("open")).as("peak_concurrency"))
        .orderBy(col("day"))
        .localCheckpoint() // small result outlives parts'/perDay's release
    } finally {
      graft.operators.Checkpoints.release(parts)
      graft.operators.Checkpoints.release(perDay)
    }
  }
  val w19Sql: String =
    s"""WITH ord AS (
       |  SELECT user_id, ts, event_id,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
       |  FROM $EventsSql
       |), flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 30*60*1000000
       |                 THEN 1 ELSE 0 END AS new_session
       |  FROM ord
       |), sessions AS (
       |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
       |  FROM flagged
       |), sess AS (
       |  SELECT user_id, session_no,
       |    epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us,
       |    CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
       |  FROM sessions GROUP BY user_id, session_no
       |), perday AS (
       |  SELECT CAST(u.day AS DATE) AS day,
       |    GREATEST(s_us, epoch_us(CAST(CAST(u.day AS DATE) AS TIMESTAMP))) AS cs,
       |    LEAST(e_us, epoch_us(CAST(CAST(u.day AS DATE) AS TIMESTAMP)) + ${86400L * 1000000L - 1L}) AS ce
       |  FROM sess, unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS u(day)
       |), pts AS (
       |  SELECT day, cs AS t, 1 AS delta FROM perday
       |  UNION ALL SELECT day, ce + 1, -1 FROM perday
       |), net AS (
       |  SELECT day, t, CAST(SUM(delta) AS BIGINT) AS net FROM pts GROUP BY day, t
       |), opn AS (
       |  SELECT day, CAST(SUM(net) OVER (PARTITION BY day ORDER BY t
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open FROM net
       |)
       |SELECT day, MAX(open) AS peak_concurrency
       |FROM opn GROUP BY day ORDER BY day""".stripMargin

  // ---- W10: sessionized conversion funnel ----------------------------------
  /** view → click → purchase with ORDER constraints inside a session:
    * the first click must follow the session's first view, the first
    * purchase must follow that click. Stage timestamps resolve with two
    * session-bounded window mins (conditional candidates chained through
    * the previous stage), so every window partitions by (user, session) —
    * bounded by session length, never the corpus. Monotone counts by
    * construction. */
  def w10Funnel(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapped = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1L).otherwise(0L))
      .withColumn("session_no",
        sum(col("new_session")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy(col("user_id"), col("session_no"))
    val staged = gapped
      .withColumn("v", min(when(col("event_type") === "view", col("ts"))).over(wSess))
      .withColumn("c", min(when(col("event_type") === "click" && col("ts") >= col("v"),
        col("ts"))).over(wSess))
      .withColumn("p_cand", when(col("event_type") === "purchase" && col("ts") >= col("c"),
        col("ts")))
    staged.groupBy(col("user_id"), col("session_no"))
      .agg(min(col("v")).as("v"), min(col("c")).as("c"), min(col("p_cand")).as("p"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_reached_view"),
        sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_reached_click"),
        sum(when(col("p").isNotNull, 1L).otherwise(0L)).as("n_reached_purchase"))
  }
  val w10Sql: String =
    s"""WITH ord AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
       |  FROM $EventsSql
       |), flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 30*60*1000000
       |                 THEN 1 ELSE 0 END AS new_session
       |  FROM ord
       |), sessions AS (
       |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
       |  FROM flagged
       |), st1 AS (
       |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
       |    OVER (PARTITION BY user_id, session_no) AS v
       |  FROM sessions
       |), st2 AS (
       |  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= v THEN ts END)
       |    OVER (PARTITION BY user_id, session_no) AS c
       |  FROM st1
       |), per AS (
       |  SELECT user_id, session_no, min(v) AS v, min(c) AS c,
       |    min(CASE WHEN event_type = 'purchase' AND ts >= c THEN ts END) AS p
       |  FROM st2 GROUP BY user_id, session_no
       |)
       |SELECT count(*) AS n_sessions,
       |  CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reached_view,
       |  CAST(SUM(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reached_click,
       |  CAST(SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reached_purchase
       |FROM per""".stripMargin

  // ---- text vocab top-k (heavy hitters over the corpus) --------------------
  def textVocabTopk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(trim(col("text")), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(50)
  val textVocabTopkSql: String =
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
      |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin

  // ---- A14: exact quantiles per group (interpolated percentiles) -----------
  def a14Quantiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .orderBy(col("event_type"))
  val a14Sql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  min(value) AS vmin, max(value) AS vmax
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- A15: ROLLUP hierarchy totals ----------------------------------------
  def a15Rollup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
  val a15Sql: String =
    """SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY ROLLUP (lang, source)
      |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin

  // ---- A21: CUBE cross-dimension totals ------------------------------------
  /** Full CUBE over (status, priority): every slice of the 2-D revenue
    * matrix — both marginals, the grand total, and each cell — in ONE
    * pass. Spark plans CUBE as a single Expand + hash aggregate (rows
    * duplicated 4× map-side, partial-aggregated before the shuffle), so
    * at 100 TB it costs one scan regardless of how many slices the
    * report reads — the point of CUBE vs four separate groupBys. Revenue
    * is floor-quantized cents (same IEEE multiply in both engines;
    * doubles are never summed raw). Both grouping columns are NOT NULL
    * in the data, so the CUBE's null labels are unambiguous subtotal
    * markers and (status, priority) NULLS FIRST is a total order. */
  def a21Cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * 1e2).cast("long")).as("sum_cents"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  val a21Sql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(floor(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // ---- W11: rolling 7-day active users (DAU / WAU) -------------------------
  /** Per day: distinct active users that day (DAU) and over the trailing
    * 7 days (WAU) — the engagement read every product dashboard serves.
    * Sliding DISTINCT cannot partial-aggregate like a sum, so the
    * trailing count comes from re-counting the deduplicated
    * (day, user) pair table against a BROADCAST day spine (each pair
    * explodes to its ≤7 serveable days and equi-joins the spine — the
    * fact table is touched once for the distinct-pair projection, and
    * everything after is |days|·|users-per-week| narrow rows, never raw
    * events).
    * Gap days (no events) get no row — stated semantics, day spine =
    * observed days. */
  def w11RollingWau(s: SparkSession, d: String): DataFrame = {
    val du = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = du.select(col("day")).distinct()
    val dau = du.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    // trailing-window membership as an EQUI join (r17): each (day, user)
    // row explodes to the ≤7 spine days it counts toward and equi-joins
    // the broadcast spine — O(pairs·7) instead of the nested-loop's
    // O(pairs·days) predicate sweep; identical (d0, user) pair set
    val wau = du
      .withColumn("d0", explode(expr("sequence(day, date_add(day, 6))")))
      .join(broadcast(days.select(col("day").as("d0"))), "d0")
      .groupBy(col("d0"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .select(col("d0").as("day"), col("wau"))
    dau.join(wau, "day").orderBy(col("day"))
  }
  val w11Sql: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events),
      |days AS (SELECT DISTINCT day AS d0 FROM du),
      |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY day),
      |wau AS (
      |  SELECT d0 AS day, COUNT(DISTINCT du.user_id) AS wau
      |  FROM days JOIN du ON du.day BETWEEN d0 - INTERVAL 6 DAY AND d0
      |  GROUP BY d0)
      |SELECT dau.day AS day, dau.dau, wau.wau
      |FROM dau JOIN wau ON wau.day = dau.day
      |ORDER BY day""".stripMargin

  // ---- W18: cumulative distinct actives by first-seen decomposition ---------
  /** Cumulative distinct users per day — the read whose NAIVE form (a
    * running COUNT(DISTINCT) re-scanning history per day, or a distinct
    * state store growing with the corpus) is a classic scale killer.
    * The exact decomposition: a user counts toward day d iff their
    * FIRST-seen day ≤ d, so one groupBy(user)→min(day) pass (shuffle on
    * user, map-side combine) reduces the fact table to one row per
    * user, per-day first-seen counts reduce THAT to one row per day,
    * and the running sum runs over the ≤ |days| row table — the only
    * window in the plan, over a frame bounded by the calendar, never
    * the data. New-user count per day rides along for free (it IS the
    * per-day first-seen count). */
  def w18CumulativeActives(s: SparkSession, d: String): DataFrame = {
    val firstSeen = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    val perDay = firstSeen.groupBy(col("first_day")).agg(count(lit(1)).as("new_users"))
    val days = Tables.events(s, d)
      .select(to_date(col("ts")).as("day")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day")) // ≤ |days| rows: the calendar, never the data
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    days.join(perDay, col("day") === col("first_day"), "left")
      .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_actives", sum(col("new_users")).over(w))
      .orderBy(col("day"))
  }
  val w18Sql: String =
    """WITH fs AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
      |  GROUP BY user_id),
      |pd AS (SELECT first_day, COUNT(*) AS new_users FROM fs GROUP BY first_day),
      |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day
      |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events)
      |SELECT day, COALESCE(new_users, 0) AS new_users,
      |       CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_actives
      |FROM days LEFT JOIN pd ON pd.first_day = days.day
      |ORDER BY day""".stripMargin

  // ---- W13: day-over-day movers ---------------------------------------------
  /** The "top movers" dashboard read: each key's newest-day quantized
    * value total against the previous day's, with the relative move in
    * ppm. The DIV-parity discipline bites here: (q_new − q_old) is
    * SIGNED, and a signed numerator under integer division diverges
    * across engines (Spark truncates toward zero, DuckDB floors) — so
    * the move is emitted as |Δ|·10⁶ DIV q_old (non-negative operands
    * only) beside an explicit direction column, never a signed ratio.
    * A key absent on either day drops (inner join — a move needs both
    * sides). Raw rows aggregate once; everything after runs on the
    * (key × day) table. */
  def w13TopMovers(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type").as("key"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e2).cast("long")).as("qsum"))
    val mx = broadcast(daily.agg(max(col("day")).as("d1")))
    val neu = daily.crossJoin(mx).filter(col("day") === col("d1"))
      .select(col("key"), col("qsum").as("q_new"))
    val old = daily.crossJoin(mx)
      .filter(col("day") === date_sub(col("d1"), 1))
      .select(col("key"), col("qsum").as("q_old"))
    neu.join(old, "key")
      .select(col("key"), col("q_new"), col("q_old"),
        signum(col("q_new") - col("q_old")).cast("long").as("direction"),
        expr("abs(q_new - q_old) * 1000000 div q_old").as("move_ppm"))
      .orderBy(col("key"))
  }
  val w13Sql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |    CAST(SUM(CAST(FLOOR(value * 1e2) AS BIGINT)) AS BIGINT) AS qsum
       |  FROM $EventsSql GROUP BY key, day
       |), mx AS (SELECT MAX(day) AS d1 FROM daily),
       |neu AS (SELECT key, qsum AS q_new FROM daily, mx WHERE day = d1),
       |old AS (SELECT key, qsum AS q_old FROM daily, mx
       |        WHERE day = d1 - INTERVAL 1 DAY)
       |SELECT neu.key AS key, q_new, q_old,
       |  CAST(sign(q_new - q_old) AS BIGINT) AS direction,
       |  abs(q_new - q_old) * 1000000 // q_old AS move_ppm
       |FROM neu JOIN old ON old.key = neu.key
       |ORDER BY key""".stripMargin

  // ---- funnel time-to-convert: click → purchase latency percentiles --------
  /** How LONG conversion takes, not just whether it happens (the
    * question `w10_funnel`'s reach counts can't answer): per user, the
    * gap from FIRST click to the first purchase strictly after it,
    * quantized to whole minutes, then p50/p90 of that distribution via
    * the histogram-crossing selection ([[graft.operators.Relational
    * .quantileServe]]) — never a sort of user rows. Minutes, not
    * seconds, is the scale decision: the delta histogram's size is
    * bounded by the DELTA DOMAIN (minutes in the retention span,
    * ~43k/month) rather than by users, so the single-key crossing
    * window stays calendar-bounded at any corpus size. All integer:
    * micros difference, integer div, crossing ranks. Output: one row
    * (n_converted, p50_m, p90_m) — or ZERO rows on a corpus with no
    * conversions (the Spark groupBy vanishes on empty input while a
    * bare SQL aggregate would emit one NULL row; the oracle's outer
    * IS NOT NULL filter pins both engines to the zero-row form). */
  def funnelTtc(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val c0 = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("ts")).as("c0"))
    val p0 = ev.filter(col("event_type") === "purchase")
      .join(c0, "user_id")
      .filter(col("ts") > col("c0"))
      .groupBy(col("user_id"), col("c0")).agg(min(col("ts")).as("p0"))
    val hist = p0
      .select(expr("(unix_micros(p0) - unix_micros(c0)) div 60000000")
        .as("qc"))
      .groupBy(lit("all").as("key"), col("qc"))
      .agg(count(lit(1)).as("cnt"))
    Relational.quantileServe(hist,
        Seq(("p50_m", 50L, 100L), ("p90_m", 90L, 100L)))
      .select(col("n").as("n_converted"), col("p50_m"), col("p90_m"))
  }
  val funnelTtcSql: String =
    s"""WITH c0 AS (
       |  SELECT user_id, MIN(ts) AS c0 FROM $EventsSql
       |  WHERE event_type = 'click' GROUP BY user_id
       |), p0 AS (
       |  SELECT events.user_id, MIN(events.ts) AS p0
       |  FROM $EventsSql JOIN c0 ON c0.user_id = events.user_id
       |  WHERE events.event_type = 'purchase' AND events.ts > c0.c0
       |  GROUP BY events.user_id
       |), dl AS (
       |  SELECT (epoch_us(p0.p0) - epoch_us(c.c0)) // 60000000 AS qc
       |  FROM p0 JOIN c0 c ON c.user_id = p0.user_id
       |), h AS (SELECT qc, COUNT(*) AS cnt FROM dl GROUP BY qc
       |), cum AS (
       |  SELECT qc, CAST(SUM(cnt) OVER (ORDER BY qc) AS BIGINT) AS cum,
       |         CAST(SUM(cnt) OVER () AS BIGINT) AS n
       |  FROM h)
       |SELECT * FROM (
       |  SELECT MAX(n) AS n_converted,
       |    MIN(CASE WHEN cum * 100 >= n * 50 THEN qc END) AS p50_m,
       |    MIN(CASE WHEN cum * 100 >= n * 90 THEN qc END) AS p90_m
       |  FROM cum)
       |WHERE n_converted IS NOT NULL""".stripMargin

  // ---- A22: GROUPING SETS over a NULLABLE key (grouping() disambiguates) ---
  /** The semantic edge A15/A21 dodge by grouping NOT-NULL columns: when
    * the grouping key itself holds data NULLs, a subtotal row's NULL
    * label is AMBIGUOUS — indistinguishable from the genuine-NULL
    * group — unless `grouping()` rides along. Here the key is
    * NULLIF(event_type, 'error') (real NULLs in the data), the sets are
    * ((etype), ()), and `is_total` separates the NULL-group row (2014
    * error events at sf0.01) from the grand total. One Expand + agg
    * scan; (is_total, etype NULLS FIRST) is a total order only BECAUSE
    * the flag disambiguates — which is the point. */
  def a22GroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("events_a22")
    s.sql(
      """SELECT nullif(event_type, 'error') AS etype,
        |  CAST(grouping(nullif(event_type, 'error')) AS BIGINT) AS is_total,
        |  count(*) AS n,
        |  sum(CAST(floor(value * 1e2) AS BIGINT)) AS sum_cents
        |FROM events_a22
        |GROUP BY GROUPING SETS ((nullif(event_type, 'error')), ())
        |ORDER BY is_total, etype NULLS FIRST""".stripMargin)
  }
  val a22Sql: String =
    """SELECT nullif(event_type, 'error') AS etype,
      |  CAST(grouping(nullif(event_type, 'error')) AS BIGINT) AS is_total,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events
      |GROUP BY GROUPING SETS ((nullif(event_type, 'error')), ())
      |ORDER BY is_total, etype NULLS FIRST""".stripMargin

  // ---- A/B experiment lift (deterministic arms, division-free verdict) -----
  /** Purchase-value lift between two hash-assigned experiment arms: each
    * user's arm is the parity of their avalanched id hash (stable,
    * engine-replayable bucketing — no RNG), and "B beats A on per-user
    * purchase value" is the cross-multiplied integer comparison
    * qsum_b·n_users_a > qsum_a·n_users_b. One conditional-aggregation
    * scan, single-row output, every column exact long arithmetic. */
  def abLift(s: SparkSession, d: String): DataFrame =
    graft.operators.Relational.abLift(Tables.events(s, d), "user_id",
      col("event_type") === "purchase", "value")
  val abLiftSql: String = {
    val P = graft.operators.Dedup.HashMod
    val M = graft.operators.Mix.ScrambleM
    s"""WITH ev AS (
       |  SELECT user_id, event_type, value,
       |    (list_reduce(list_transform(string_split(CAST(user_id AS VARCHAR), ''),
       |         ch -> CAST(ascii(ch) AS BIGINT)),
       |       (acc, x) -> (acc*31 + x) % $P) * $M % $P * $M % $P) % 2 AS v
       |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
       |), agg AS (
       |  SELECT
       |    COUNT(DISTINCT CASE WHEN v = 0 THEN user_id END) AS n_users_a,
       |    COUNT(DISTINCT CASE WHEN v = 1 THEN user_id END) AS n_users_b,
       |    CAST(SUM(CASE WHEN v = 0 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
       |    CAST(SUM(CASE WHEN v = 1 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv_b,
       |    CAST(SUM(CASE WHEN v = 0 AND event_type = 'purchase'
       |      THEN CAST(FLOOR(value * 1e6) AS BIGINT) ELSE 0 END) AS BIGINT) AS qsum_a,
       |    CAST(SUM(CASE WHEN v = 1 AND event_type = 'purchase'
       |      THEN CAST(FLOOR(value * 1e6) AS BIGINT) ELSE 0 END) AS BIGINT) AS qsum_b
       |  FROM ev)
       |SELECT n_users_a, n_users_b, conv_a, conv_b, qsum_a, qsum_b,
       |  qsum_a * n_users_b AS cross_a, qsum_b * n_users_a AS cross_b,
       |  qsum_b * n_users_a > qsum_a * n_users_b AS b_beats_a
       |FROM agg""".stripMargin
  }

  // ---- A16: approximate distinct counts (HLL sketches, bounded-error) ------
  /** approx_count_distinct (HyperLogLog++) — THE cardinality answer at
    * 100 TB where exact countDistinct would shuffle every value. Raw
    * sketch estimates are engine-specific, so the ORACLE CONTRACT is the
    * error bound, not the estimate: each engine computes its own sketch
    * AND the exact count, and the query's output is the exact count plus
    * a within_bound flag (relative error ≤ 5%). A sketch drifting out of
    * bound flips the flag and fails the hash compare — a verifiable
    * contract where value equality is impossible by construction. */
  def a16ApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users").cast("double") <= 0.05).as("within_bound"))
      .orderBy(col("event_type"))
  val a16Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
      |  abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
      |    / CAST(COUNT(DISTINCT user_id) AS DOUBLE) <= 0.05 AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- A18: approximate quantiles (rank-error contract) --------------------
  /** percentile_approx — the quantile answer at 100 TB, where exact
    * percentile() must collect every group value into one buffer. Sketch
    * outputs are engine-specific (Spark: Greenwald-Khanna; DuckDB:
    * t-digest), so as with A16 the ORACLE CONTRACT is the guarantee, not
    * the estimate: an ε-approximate p-quantile must land inside the
    * EXACT [p−ε, p+ε] quantile envelope — each engine checks its own
    * sketch against its own exact envelope, and the hash compare runs on
    * the exact envelope values + the in-bound flags. */
  def a18ApproxQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile_approx(value, 0.5, 1000)").as("a50"),
        expr("percentile_approx(value, 0.95, 1000)").as("a95"),
        expr("percentile(value, 0.45)").as("lo50"),
        expr("percentile(value, 0.55)").as("hi50"),
        expr("percentile(value, 0.90)").as("lo95"),
        max(col("value")).as("hi95"))
      .select(col("event_type"),
        round(col("lo50"), 6).as("p45_exact"), round(col("hi50"), 6).as("p55_exact"),
        round(col("lo95"), 6).as("p90_exact"), round(col("hi95"), 6).as("vmax"),
        (col("a50") >= col("lo50") && col("a50") <= col("hi50")).as("p50_in_bound"),
        (col("a95") >= col("lo95") && col("a95") <= col("hi95")).as("p95_in_bound"))
      .orderBy(col("event_type"))
  val a18Sql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.45), 6) AS p45_exact,
      |  round(quantile_cont(value, 0.55), 6) AS p55_exact,
      |  round(quantile_cont(value, 0.90), 6) AS p90_exact,
      |  round(max(value), 6) AS vmax,
      |  approx_quantile(value, 0.5) BETWEEN quantile_cont(value, 0.45)
      |    AND quantile_cont(value, 0.55) AS p50_in_bound,
      |  approx_quantile(value, 0.95) BETWEEN quantile_cont(value, 0.90)
      |    AND max(value) AS p95_in_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- A17: pivot (wide per-user event-type counts) ------------------------
  def a17Pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))
  val a17Sql: String =
    """SELECT user_id,
      |  SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
      |  SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
      |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
      |  SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
      |  SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- A24: UNPIVOT — wide metrics melted back to long -------------------
  /** a17's inverse verb: a per-day wide metric row (order count, distinct
    * customers, exact total cents) melted to (day, metric, value) long
    * form — the shape metric stores and ML feature tables ingest. Spark's
    * native `unpivot` (Expand under the hood: one pass, rows×metrics
    * output, no shuffle beyond the source agg); money goes through
    * DECIMAL(12,2)·100 → BIGINT cents so the melted value column can be
    * one exact integer type across heterogeneous metrics. Oracle states
    * the UNION ALL arms the Expand must equal. */
  def a24Unpivot(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        sum(col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("total_cents"))
    wide.unpivot(
        Array(col("day")),
        Array(col("n_orders"), col("n_customers"), col("total_cents")),
        "metric", "value")
      .orderBy(col("day"), col("metric"))
  }
  val a24Sql: String =
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS total_cents
      |  FROM orders GROUP BY 1)
      |SELECT day, metric, value FROM (
      |  SELECT day, 'n_orders' AS metric, n_orders AS value FROM d
      |  UNION ALL SELECT day, 'n_customers', n_customers FROM d
      |  UNION ALL SELECT day, 'total_cents', total_cents FROM d) u
      |ORDER BY day, metric""".stripMargin

  // ---- J9: cross-modal join (documents ⋈ embeddings by id) -----------------
  /** The multimodal-lake join: text row + its embedding row in one pass;
    * adds the embedding norm and the doc's token count — the shape a
    * text+vector feature store serves. Equi-join on the id: co-partitioned
    * at scale, zero extra shuffle when both tables are bucketed by id. */
  def j9CrossModal(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tokens"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("label"),
        graft.operators.Similarity.cosine(col("embedding"), col("embedding")).as("self_cos"))
    docs.join(emb, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("label"), col("self_cos"))
      .orderBy(col("doc_id"))
  }
  val j9Sql: String =
    """SELECT d.doc_id, d.lang,
      |  CAST(len(string_split(trim(d.text), ' ')) AS BIGINT) AS n_tokens,
      |  e.label,
      |  list_reduce(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x,y) -> x+y) / NULLIF(sqrt(list_reduce(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x,y) -> x+y)) * sqrt(list_reduce(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x,y) -> x+y)), 0) AS self_cos
      |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("a17_pivot", a17Pivot, a17Sql),
    QueryDef("a24_unpivot", a24Unpivot, a24Sql),
    QueryDef("j9_cross_modal", j9CrossModal, j9Sql),
    QueryDef("a15_rollup", a15Rollup, a15Sql),
    QueryDef("a21_cube", a21Cube, a21Sql),
    QueryDef("ab_lift", abLift, abLiftSql),
    QueryDef("a22_grouping_sets", a22GroupingSets, a22Sql),
    QueryDef("w11_rolling_wau", w11RollingWau, w11Sql),
    QueryDef("w18_cumulative_actives", w18CumulativeActives, w18Sql),
    QueryDef("j18_session_overlap", j18SessionOverlap, j18Sql),
    QueryDef("w19_peak_concurrency", w19PeakConcurrency, w19Sql),
    QueryDef("a16_approx_distinct", a16ApproxDistinct, a16Sql),
    QueryDef("a18_approx_quantiles", a18ApproxQuantiles, a18Sql),
    QueryDef("a14_quantiles", a14Quantiles, a14Sql),
    QueryDef("w8_sessionize", w8Sessionize, w8Sql),
    QueryDef("w10_funnel", w10Funnel, w10Sql),
    QueryDef("funnel_ttc", funnelTtc, funnelTtcSql),
    QueryDef("w13_top_movers", w13TopMovers, w13Sql),
    QueryDef("text_vocab_topk", textVocabTopk, textVocabTopkSql),
    QueryDef("w7_asof_join", w7AsofJoin, w7Sql),
    QueryDef("w9_asof_nearest", w9AsofNearest, w9Sql),
    QueryDef("j19_pit_features", j19PitFeatures, j19Sql),
    QueryDef("a2_max_watermark", a2MaxWatermark, a2Sql),
    QueryDef("a13_invariants", a13Invariants, a13Sql),
    QueryDef("f10_currency_map", f10CurrencyMap, f10Sql),
    QueryDef("f11_hash", f11Hash, f11Sql),
    QueryDef("f12_json_build", f12JsonBuild, f12Sql),
    QueryDef("f13_json_extract", f13JsonExtract, f13Sql),
    QueryDef("f15_date_bucket", f15DateBucket, f15Sql),
    QueryDef("f16_iso_format", f16IsoFormat, f16Sql),
    QueryDef("j4_seed_verify", j4SeedVerify, j4Sql),
    QueryDef("j6_iso_lookup", j6IsoLookup, j6Sql),
    QueryDef("o4_stream_split", o4StreamSplit, o4Sql),
    QueryDef("o7_cooldown", o7Cooldown, o7Sql),
    QueryDef("w5_registry_sort", w5RegistrySort, w5Sql),
    QueryDef("w6_urgency", w6Urgency, w6Sql),
    QueryDef("t14_noop_suppression", t14NoopSuppression, t14Sql))
}
