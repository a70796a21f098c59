package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** User-journey reads over the event stream — the "what led to this"
  * questions a tracker's activity feed answers (the reference keeps a
  * typed per-user activity stream, `data/dataExamples.txt` activity
  * rows; its dashboards read it chronologically): last-touch
  * conversion attribution and its U-shaped multi-touch sibling, the
  * first-order event-transition matrix, market-basket association
  * lift, top session paths, the time-anchored window funnel, and the
  * return-time distribution.
  *
  * Scale/determinism contract:
  *  - Every read makes ONE pass over raw events; every window partitions
  *    by `user_id` (bounded by per-user history, never corpus-wide) and
  *    orders by the unique (ts, event_id) pair, so results are
  *    deterministic under any row order.
  *  - Attribution picks the latest preceding touch with
  *    `max(struct(ts, event_id, event_type))` over an
  *    unbounded-preceding → 1-preceding frame — the single-pass
  *    running-argmax idiom, no self-join, no per-purchase re-scan. The
  *    oracle states the same pick as a lexicographic max over a
  *    zero-padded (epoch_us, event_id, type) string — identical order,
  *    engine-portable.
  *  - Money sums go through DECIMAL(12,2) (exact, order-independent)
  *    and cast to double only at the end; transition probabilities are
  *    emitted as exact integer permille (n·1000 DIV n_from, both
  *    operands non-negative so DIV ≡ floor on both engines).
  */
object JourneyQueries {
  private val EventsSql =
    "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events"

  /** Attribution lookback: a touch older than this many days before the
    * purchase no longer gets credit. */
  private val LookbackDays = 7L
  private val LookbackUs = LookbackDays * 86400L * 1000000L

  // ---- W14: last-touch purchase attribution --------------------------------
  /** Every purchase is attributed to the user's most recent preceding
    * view/click touch within a 7-day lookback (channel "none" when no
    * touch qualifies); one row per channel with purchase count and
    * exact revenue. The running conditional argmax makes this a single
    * window pass — at 100 TB the cost is the one per-user shuffle the
    * sessionization family already pays, with no join against a touch
    * table. */
  /** Frame-level shape, shared with `JourneySpec`: attribute every
    * `convType` row to the latest preceding `touchTypes` row by the same
    * user within `lookbackUs`, and roll up per channel. */
  def lastTouchAttribution(ev: DataFrame, touchTypes: Seq[String],
                           convType: String, lookbackUs: Long): DataFrame = {
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = ev.withColumn("last_touch",
      max(when(col("event_type").isin(touchTypes: _*),
        struct(col("ts"), col("event_id"), col("event_type")))).over(wPrev))
    touched.filter(col("event_type") === convType)
      .withColumn("channel",
        when(col("last_touch").isNull ||
          unix_micros(col("ts")) -
            unix_micros(col("last_touch.ts")) > lookbackUs, "none")
          .otherwise(col("last_touch.event_type")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(12,2)")).cast("double")
          .as("revenue"))
      .orderBy(col("channel"))
  }

  // ---- W17: position-based (U-shaped) multi-touch attribution --------------
  /** Every purchase splits 1000 permille of credit across ALL its
    * qualifying touches (view/click within the 7-day lookback,
    * (ts, event_id)-before the purchase) by the U-shaped rule: sole
    * touch 1000; a pair 500/500; otherwise first 400, last 400, middles
    * share 200 by integer division with the remainder distributed to
    * the EARLIEST middles (largest-remainder rule — deterministic,
    * division-free beyond one DIV, and the credits per purchase always
    * sum to exactly 1000, spec-pinned). Revenue stays integer: each
    * touch accrues cents·credit (cents-permille units — never a
    * fraction of a cent rounded). Purchases with no qualifying touch
    * land on channel 'none' with full credit, only when any exist.
    *
    * The one shape last-touch's running argmax cannot express: the
    * FULL touch set per purchase. Cost is the honest multi-touch join —
    * purchases⋈touches per user (shuffled by user_id, fan-out bounded
    * by per-user touches×purchases inside the lookback), then windows
    * partitioned per purchase — never corpus-wide. */
  def multitouchAttribution(ev: DataFrame, touchTypes: Seq[String],
                            convType: String,
                            lookbackUs: Long): DataFrame = {
    val purchases = ev.filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("p_eid"),
        unix_micros(col("ts")).as("p_us"),
        floor(col("value") * 1e2).cast("long").as("cents"))
    val touches = ev.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_id").as("t_eid"),
        unix_micros(col("ts")).as("t_us"), col("event_type").as("channel"))
    val pairs = purchases.join(touches, Seq("user_id"))
      .filter((col("t_us") < col("p_us") ||
        (col("t_us") === col("p_us") && col("t_eid") < col("p_eid"))) &&
        col("p_us") - col("t_us") <= lookbackUs)
    val wOrd = Window.partitionBy(col("user_id"), col("p_eid"))
      .orderBy(col("t_us"), col("t_eid"))
    val wAll = Window.partitionBy(col("user_id"), col("p_eid"))
    val credited = pairs
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("credit",
        when(col("k") === 1, lit(1000L))
          .when(col("k") === 2, lit(500L))
          .when(col("rn") === 1 || col("rn") === col("k"), lit(400L))
          .otherwise(expr(
            "200 DIV (k - 2) + CASE WHEN rn - 2 < 200 % (k - 2) THEN 1 ELSE 0 END")))
    val att = credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit")).as("credit_permille"),
        sum(col("cents") * col("credit")).as("weighted_cents_permille"))
    val orphan = purchases
      .join(credited.select(col("user_id"), col("p_eid")).distinct(),
        Seq("user_id", "p_eid"), "left_anti")
      .agg(count(lit(1)).as("n_touches"),
        (count(lit(1)) * lit(1000L)).as("credit_permille"),
        (coalesce(sum(col("cents")), lit(0L)) * lit(1000L))
          .as("weighted_cents_permille"))
      .select(lit("none").as("channel"), col("n_touches"),
        col("credit_permille"), col("weighted_cents_permille"))
      .filter(col("n_touches") > 0)
    att.unionByName(orphan).orderBy(col("channel"))
  }

  def w17Multitouch(s: SparkSession, d: String): DataFrame =
    multitouchAttribution(
      Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"), col("value")),
      Seq("view", "click"), "purchase", LookbackUs)

  val w17Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value
       |  FROM $EventsSql
       |), p AS (
       |  SELECT user_id, event_id AS p_eid, us AS p_us,
       |         CAST(FLOOR(value * 1e2) AS BIGINT) AS cents
       |  FROM ev WHERE event_type = 'purchase'
       |), t AS (
       |  SELECT user_id, event_id AS t_eid, us AS t_us,
       |         event_type AS channel
       |  FROM ev WHERE event_type IN ('view', 'click')
       |), pairs AS (
       |  SELECT p.user_id, p.p_eid, p.cents, t.t_eid, t.t_us, t.channel
       |  FROM p JOIN t ON p.user_id = t.user_id
       |  WHERE (t.t_us < p.p_us OR (t.t_us = p.p_us AND t.t_eid < p.p_eid))
       |    AND p.p_us - t.t_us <= $LookbackUs
       |), rk AS (
       |  SELECT channel, cents,
       |    row_number() OVER (PARTITION BY user_id, p_eid ORDER BY t_us, t_eid) AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id, p_eid) AS k
       |  FROM pairs
       |), cr AS (
       |  SELECT channel, cents,
       |    CASE WHEN k = 1 THEN 1000
       |         WHEN k = 2 THEN 500
       |         WHEN rn = 1 OR rn = k THEN 400
       |         ELSE 200 // (k - 2) +
       |              CASE WHEN rn - 2 < 200 % (k - 2) THEN 1 ELSE 0 END
       |    END AS credit
       |  FROM rk
       |), att AS (
       |  SELECT channel, COUNT(*) AS n_touches,
       |         CAST(SUM(credit) AS BIGINT) AS credit_permille,
       |         CAST(SUM(cents * credit) AS BIGINT) AS weighted_cents_permille
       |  FROM cr GROUP BY channel
       |), orph AS (
       |  SELECT 'none' AS channel, COUNT(*) AS n_touches,
       |         COUNT(*) * 1000 AS credit_permille,
       |         CAST(COALESCE(SUM(cents), 0) * 1000 AS BIGINT) AS weighted_cents_permille
       |  FROM p WHERE NOT EXISTS (
       |    SELECT 1 FROM pairs
       |    WHERE pairs.user_id = p.user_id AND pairs.p_eid = p.p_eid)
       |)
       |SELECT * FROM att
       |UNION ALL SELECT * FROM orph WHERE n_touches > 0
       |ORDER BY channel""".stripMargin

  def w14Attribution(s: SparkSession, d: String): DataFrame =
    lastTouchAttribution(
      Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"), col("value")),
      Seq("view", "click"), "purchase", LookbackUs)

  /** Oracle: the (ts, event_id, type) running argmax restated as a
    * lexicographic max over zero-padded strings — epoch_us is 16
    * digits today, padded to 20 so the order is total for any epoch;
    * event_id padded to 12. Identical total order to the struct max. */
  val w14Sql: String =
    s"""WITH ord AS (
       |  SELECT user_id, ts, event_id, event_type, value,
       |    max(CASE WHEN event_type IN ('view', 'click') THEN
       |          lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
       |          lpad(CAST(event_id AS VARCHAR), 12, '0') || event_type
       |        END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS touch_key
       |  FROM $EventsSql
       |), p AS (
       |  SELECT CASE WHEN touch_key IS NULL
       |                OR epoch_us(ts) - CAST(substring(touch_key, 1, 20) AS BIGINT)
       |                   > ${LookbackUs} THEN 'none'
       |              ELSE substring(touch_key, 33) END AS channel,
       |         value
       |  FROM ord WHERE event_type = 'purchase'
       |)
       |SELECT channel, count(*) AS n_purchases,
       |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
       |FROM p GROUP BY channel ORDER BY channel""".stripMargin

  // ---- first-order event-transition matrix ---------------------------------
  /** (prev_type → next_type) counts over each user's chronological
    * stream, with the out-degree total and the exact integer permille
    * share — the Markov-chain summary a journey dashboard renders as a
    * Sankey. One lag window per user + one groupBy over the ≤|types|²
    * transition table. */
  /** Frame-level shape, shared with `JourneySpec`. */
  def transitionMatrix(ev: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val trans = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy(col("prev_type"))
    trans
      .withColumn("n_from", sum(col("n")).over(wFrom))
      .select(col("prev_type"), col("next_type"), col("n"),
        col("n_from"), expr("n * 1000 DIV n_from").as("permille"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  def seqTransitions(s: SparkSession, d: String): DataFrame =
    transitionMatrix(Tables.events(s, d).select(col("user_id"),
      col("ts"), col("event_id"), col("event_type")))

  val seqTransitionsSql: String =
    s"""WITH ord AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS prev_type
       |  FROM $EventsSql
       |), t AS (
       |  SELECT prev_type, event_type AS next_type, count(*) AS n
       |  FROM ord WHERE prev_type IS NOT NULL GROUP BY 1, 2
       |)
       |SELECT prev_type, next_type, n,
       |       CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from,
       |       n * 1000 // CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)
       |         AS permille
       |FROM t ORDER BY prev_type, next_type""".stripMargin

  // ---- association lift ("users who did A also did B") ---------------------
  /** Market-basket association over per-user event-type sets: for every
    * unordered type pair (a < b), the co-occurrence count beside each
    * side's user count, the user universe, and exact integer support /
    * confidence permille. Lift is left to the consumer as the raw
    * quartet (n_ab, n_a, n_b, n_users) — n_ab·N·10³ DIV (n_a·n_b)
    * would overflow long at ~10⁹ users, and a two-step division loses
    * exactness; the quartet is the lossless form at any scale.
    *
    * Shape: ONE distinct over (user, type) — the only data-volume
    * shuffle — then a self-join that fans out ≤ C(|types|, 2) rows per
    * user (types is a small closed set), a groupBy over the ≤|types|²
    * pair table, and broadcast joins against the |types|-row side
    * counts. */
  def assocLift(s: SparkSession, d: String): DataFrame =
    assocFromEvents(Tables.events(s, d))

  /** Frame-level shape, shared with `JourneySpec`. */
  def assocFromEvents(events: DataFrame): DataFrame = {
    val ut = events
      .select(col("user_id"), col("event_type")).distinct()
    val nUsers = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val perType = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val pairs = ut.join(
        ut.select(col("user_id"), col("event_type").as("type_b")),
        "user_id")
      .filter(col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), "type_a")
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_users"),
        expr("n_ab * 1000 DIV n_users").as("support_permille"),
        expr("n_ab * 1000 DIV n_a").as("confidence_permille"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val assocLiftSql: String =
    s"""WITH ut AS (
       |  SELECT DISTINCT user_id, event_type FROM $EventsSql
       |), nu AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
       |pt AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
       |p AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |         count(*) AS n_ab
       |  FROM ut a JOIN ut b ON b.user_id = a.user_id
       |   AND a.event_type < b.event_type
       |  GROUP BY 1, 2
       |)
       |SELECT p.type_a, p.type_b, p.n_ab, pa.n_t AS n_a, pb.n_t AS n_b,
       |       nu.n_users,
       |       p.n_ab * 1000 // nu.n_users AS support_permille,
       |       p.n_ab * 1000 // pa.n_t AS confidence_permille
       |FROM p JOIN pt pa ON pa.event_type = p.type_a
       |       JOIN pt pb ON pb.event_type = p.type_b
       |       CROSS JOIN nu
       |ORDER BY type_a, type_b""".stripMargin

  // ---- top session paths ---------------------------------------------------
  /** The "top paths" product-analytics read: sessionize (30-min gap, the
    * [[InventoryQueries2.w8Sessionize]] rule), take each session's first
    * three event types in (ts, event_id) order, render them as an
    * "a>b>c" path (shorter sessions yield shorter paths), and count
    * sessions per path — top 20 by (count desc, path). All windows
    * partition by user (+ session); the path table is ≤|types|³ rows;
    * the global top-20 is the TakeOrdered pattern, not a sort. */
  def seqTopPaths(s: SparkSession, d: String): DataFrame =
    topPathsFromEvents(Tables.events(s, d), 20)

  /** Frame-level shape, shared with `JourneySpec`. */
  def topPathsFromEvents(events: DataFrame, k: Int): DataFrame = {
    val ev = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapped = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") >
            30L * 60 * 1000000, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy(col("user_id"), col("session_no"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val paths = gapped
      .withColumn("rn", row_number().over(wSess))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"), col("session_no"))
      .agg(max(when(col("rn") === 1, col("event_type"))).as("s1"),
        max(when(col("rn") === 2, col("event_type"))).as("s2"),
        max(when(col("rn") === 3, col("event_type"))).as("s3"))
      .select(concat_ws(">", col("s1"), col("s2"), col("s3")).as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  val seqTopPathsSql: String =
    s"""WITH ord AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS prev_us
       |  FROM $EventsSql
       |), flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL
       |                   OR epoch_us(ts) - prev_us > 30*60*1000000
       |                 THEN 1 ELSE 0 END AS new_session
       |  FROM ord
       |), sessions AS (
       |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS session_no
       |  FROM flagged
       |), rn AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, session_no
       |                               ORDER BY ts, event_id) AS rn
       |  FROM sessions
       |), p AS (
       |  SELECT user_id, session_no,
       |    concat_ws('>',
       |      max(CASE WHEN rn = 1 THEN event_type END),
       |      max(CASE WHEN rn = 2 THEN event_type END),
       |      max(CASE WHEN rn = 3 THEN event_type END)) AS path
       |  FROM rn WHERE rn <= 3 GROUP BY user_id, session_no
       |)
       |SELECT path, count(*) AS n_sessions
       |FROM p GROUP BY path
       |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  // ---- W15: time-anchored window funnel ------------------------------------
  /** windowFunnel(24h) semantics (the time-anchored funnel next to the
    * session-bounded `w10_funnel`): per user, the earliest view anchors
    * the window; the first click AFTER it and the first purchase after
    * THAT both count only if they land within 24h OF THE ANCHOR.
    * Level = longest prefix completed. Three conditional mins per user
    * partition — window frames only, no self-joins — then one global
    * rollup. Monotone by construction (level k requires level k−1). */
  def w15WindowFunnel(s: SparkSession, d: String): DataFrame =
    windowFunnel(Tables.events(s, d), 24L * 3600L * 1000000L)

  /** Frame-level shape, shared with `JourneySpec`. */
  def windowFunnel(events: DataFrame, winUs: Long): DataFrame = {
    val ev = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("us", unix_micros(col("ts")))
    val wU = Window.partitionBy(col("user_id"))
    val staged = ev
      .withColumn("v", min(when(col("event_type") === "view",
        col("us"))).over(wU))
      .withColumn("c", min(when(col("event_type") === "click" &&
        col("us") >= col("v") && col("us") <= col("v") + winUs,
        col("us"))).over(wU))
      .withColumn("p", min(when(col("event_type") === "purchase" &&
        col("us") >= col("c") && col("us") <= col("v") + winUs,
        col("us"))).over(wU))
    staged.groupBy(col("user_id"))
      .agg(min(col("v")).as("v"), min(col("c")).as("c"),
        min(col("p")).as("p"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_level1"),
        sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_level2"),
        sum(when(col("p").isNotNull, 1L).otherwise(0L)).as("n_level3"))
  }

  val w15Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type
       |  FROM $EventsSql
       |), st1 AS (
       |  SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
       |    OVER (PARTITION BY user_id) AS v
       |  FROM ev
       |), st2 AS (
       |  SELECT *, min(CASE WHEN event_type = 'click' AND us >= v
       |                      AND us <= v + ${24L * 3600L * 1000000L}
       |                     THEN us END)
       |    OVER (PARTITION BY user_id) AS c
       |  FROM st1
       |), st3 AS (
       |  SELECT user_id, min(v) AS v, min(c) AS c,
       |    min(CASE WHEN event_type = 'purchase' AND us >= c
       |              AND us <= v + ${24L * 3600L * 1000000L}
       |             THEN us END) AS p
       |  FROM st2 GROUP BY user_id
       |)
       |SELECT count(*) AS n_users,
       |       CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_level1,
       |       CAST(SUM(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_level2,
       |       CAST(SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_level3
       |FROM st3""".stripMargin

  // ---- W16: inter-session return-time distribution -------------------------
  /** "How long until users come back": the gap between a session's END
    * and the next session's START per user, bucketed on the standard
    * retention boundaries (<1d / 1–3d / 3–7d / ≥7d). Reuses the w8
    * session rule (30-min inactivity); the gap lag runs over the
    * (user × session) table — session counts, not event counts — and
    * the rollup is 4 rows. Bucket ids are numeric so the output order
    * is total without string tricks. */
  def returnTimes(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("ts"), col("event_id"))
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapped = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") >
            30L * 60 * 1000000, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sessions = gapped.groupBy(col("user_id"), col("session_no"))
      .agg(min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
    val wSess = Window.partitionBy(col("user_id"))
      .orderBy(col("session_no").asc)
    val dayUs = 86400L * 1000000L
    val gaps = sessions
      .withColumn("prev_end", lag(col("end_us"), 1).over(wSess))
      .filter(col("prev_end").isNotNull)
      .withColumn("gap_us", col("start_us") - col("prev_end"))
      .withColumn("bucket",
        when(col("gap_us") < lit(dayUs), 1L)
          .when(col("gap_us") < lit(3L * dayUs), 2L)
          .when(col("gap_us") < lit(7L * dayUs), 3L)
          .otherwise(4L))
    gaps.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_gaps"))
      .withColumn("label",
        when(col("bucket") === 1L, "lt_1d")
          .when(col("bucket") === 2L, "1_3d")
          .when(col("bucket") === 3L, "3_7d").otherwise("ge_7d"))
      .select(col("bucket"), col("label"), col("n_gaps"))
      .orderBy(col("bucket"))
  }

  def w16ReturnTimes(s: SparkSession, d: String): DataFrame =
    returnTimes(Tables.events(s, d))

  val w16Sql: String = {
    val dayUs = 86400L * 1000000L
    s"""WITH ord AS (
       |  SELECT user_id, ts, event_id,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS prev_us
       |  FROM $EventsSql
       |), flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL
       |                   OR epoch_us(ts) - prev_us > 30*60*1000000
       |                 THEN 1 ELSE 0 END AS new_session
       |  FROM ord
       |), sessions AS (
       |  SELECT user_id,
       |    CAST(SUM(new_session) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS session_no,
       |    epoch_us(ts) AS us
       |  FROM flagged
       |), per AS (
       |  SELECT user_id, session_no, min(us) AS start_us, max(us) AS end_us
       |  FROM sessions GROUP BY user_id, session_no
       |), gaps AS (
       |  SELECT start_us - lag(end_us) OVER (PARTITION BY user_id
       |    ORDER BY session_no) AS gap_us
       |  FROM per
       |), b AS (
       |  SELECT CASE WHEN gap_us < ${dayUs} THEN 1
       |              WHEN gap_us < ${3 * dayUs} THEN 2
       |              WHEN gap_us < ${7 * dayUs} THEN 3 ELSE 4 END AS bucket
       |  FROM gaps WHERE gap_us IS NOT NULL
       |)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |       CASE bucket WHEN 1 THEN 'lt_1d' WHEN 2 THEN '1_3d'
       |                   WHEN 3 THEN '3_7d' ELSE 'ge_7d' END AS label,
       |       count(*) AS n_gaps
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("w16_return_times", w16ReturnTimes, w16Sql),
    QueryDef("w15_window_funnel", w15WindowFunnel, w15Sql),
    QueryDef("w14_attribution", w14Attribution, w14Sql),
    QueryDef("w17_multitouch", w17Multitouch, w17Sql),
    QueryDef("seq_transitions", seqTransitions, seqTransitionsSql),
    QueryDef("assoc_lift", assocLift, assocLiftSql),
    QueryDef("seq_top_paths", seqTopPaths, seqTopPathsSql))
}
