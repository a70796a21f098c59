package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.TimeSeries

/** Time-series rollups over the event stream — the chart-serving reads
  * of a market tracker (per-item history, daily movement:
  * api/main.py:248-320) generalized to OHLC bars, gap-free resampled
  * series, and per-key trend, all under the integer-determinism
  * contract ([[graft.operators.TimeSeries]] scaladoc).
  *
  * Oracle notes: DuckDB's ordered aggregates (`first/last(x ORDER BY
  * …)`) state the open/close picks the Spark side implements as
  * `min/max(struct(ts, id, value))`; DuckDB widens BIGINT sums to
  * HUGEINT, so every summed output casts back to BIGINT; the forward
  * fill uses the run-index formulation (running `count(v)` window +
  * per-run `max`) on BOTH sides instead of engine-specific
  * `IGNORE NULLS`. */
object TimeSeriesQueries {
  private val evWrap =
    "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events"

  // ---- OHLC daily bars per event type --------------------------------------
  /** One bar per (event_type, day): open/high/low/close with the unique
    * (ts, event_id) tie-break, plus n and the quantized value sum (the
    * exact-mean numerator). Single map-combinable shuffle. */
  def tsOhlc(s: SparkSession, d: String): DataFrame =
    TimeSeries.ohlcBars(Tables.events(s, d), "event_type", "ts",
        "event_id", "value", to_date(col("ts")))
      .select(col("key").as("event_type"), col("bucket").as("day"),
        col("open"), col("high"), col("low"), col("close"),
        col("n"), col("qsum"))
      .orderBy(col("event_type"), col("day"))

  val tsOhlcSql: String =
    s"""SELECT event_type, CAST(ts AS DATE) AS day,
       |       first(value ORDER BY ts, event_id) AS open,
       |       max(value) AS high, min(value) AS low,
       |       last(value ORDER BY ts, event_id) AS close,
       |       count(*) AS n,
       |       CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS qsum
       |FROM $evWrap
       |GROUP BY 1, 2
       |ORDER BY event_type, day""".stripMargin

  // ---- hourly resample with forward fill -----------------------------------
  /** Gap-free hourly series per event type between the global bounds,
    * carrying the last observation forward (null before a type's first
    * reading). Raw rows are aggregated once; the grid join and both
    * fill windows run over the (type × hour) table only. */
  def tsResampleFfill(s: SparkSession, d: String): DataFrame =
    TimeSeries.resampleFfill(Tables.events(s, d), "event_type", "ts",
        "event_id", "value", "hour", expr("INTERVAL 1 HOUR"))
      .orderBy(col("key"), col("grid_ts"))

  val tsResampleFfillSql: String =
    s"""WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
       |b AS (SELECT date_trunc('hour', min(ts)) AS t0,
       |             date_trunc('hour', max(ts)) AS t1 FROM ev),
       |grid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts FROM b),
       |keys AS (SELECT DISTINCT event_type AS key FROM ev),
       |hourly AS (SELECT event_type AS key, date_trunc('hour', ts) AS grid_ts,
       |                  last(value ORDER BY ts, event_id) AS v_obs
       |           FROM ev GROUP BY 1, 2),
       |dense AS (SELECT k.key, g.grid_ts, h.v_obs
       |          FROM grid g CROSS JOIN keys k
       |          LEFT JOIN hourly h ON h.key = k.key AND h.grid_ts = g.grid_ts),
       |runs AS (SELECT key, grid_ts, v_obs,
       |                count(v_obs) OVER (PARTITION BY key ORDER BY grid_ts
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |         FROM dense)
       |SELECT key, grid_ts,
       |       max(v_obs) OVER (PARTITION BY key, run) AS value_ffill,
       |       v_obs IS NOT NULL AS observed
       |FROM runs ORDER BY key, grid_ts""".stripMargin

  // ---- hourly resample with linear interpolation ---------------------------
  /** Hourly grid per type with LINEAR interpolation between bracketing
    * observations, integer-exact: the weighted-average form
    * (v₀·(x₁−x) + v₁·(x−x₀)) DIV (x₁−x₀) keeps operands non-negative
    * (the naive v₀+(Δv)·… form trips Spark-truncate vs DuckDB-floor on
    * falling series). Endpoints hold; observed rows exact. */
  def tsInterp(s: SparkSession, d: String): DataFrame =
    TimeSeries.resampleInterp(Tables.events(s, d), "event_type", "ts",
        "event_id", "value", "hour", expr("INTERVAL 1 HOUR"), 3600000000L)
      .orderBy(col("key"), col("grid_ts"))

  val tsInterpSql: String =
    s"""WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
       |b AS (SELECT date_trunc('hour', min(ts)) AS t0,
       |             date_trunc('hour', max(ts)) AS t1 FROM ev),
       |grid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts FROM b),
       |keys AS (SELECT DISTINCT event_type AS key FROM ev),
       |hourly AS (SELECT event_type AS key, date_trunc('hour', ts) AS grid_ts,
       |                  CAST(FLOOR(last(value ORDER BY ts, event_id) * 1e6) AS BIGINT) AS vq_obs
       |           FROM ev GROUP BY 1, 2),
       |dense AS (SELECT k.key, g.grid_ts, h.vq_obs,
       |                 epoch_us(g.grid_ts) // 3600000000 AS x
       |          FROM grid g CROSS JOIN keys k
       |          LEFT JOIN hourly h ON h.key = k.key AND h.grid_ts = g.grid_ts),
       |runs AS (SELECT key, grid_ts, vq_obs, x,
       |         count(vq_obs) OVER (PARTITION BY key ORDER BY grid_ts
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rf,
       |         count(vq_obs) OVER (PARTITION BY key ORDER BY grid_ts DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rb
       |         FROM dense),
       |br AS (SELECT key, grid_ts, vq_obs, x,
       |       max(vq_obs) OVER (PARTITION BY key, rf) AS pv,
       |       max(CASE WHEN vq_obs IS NOT NULL THEN x END)
       |         OVER (PARTITION BY key, rf) AS px,
       |       max(vq_obs) OVER (PARTITION BY key, rb) AS nv,
       |       max(CASE WHEN vq_obs IS NOT NULL THEN x END)
       |         OVER (PARTITION BY key, rb) AS nx
       |       FROM runs)
       |SELECT key, grid_ts,
       |       CASE WHEN vq_obs IS NOT NULL THEN vq_obs
       |            WHEN pv IS NOT NULL AND nv IS NOT NULL
       |              THEN (pv * (nx - x) + nv * (x - px)) // (nx - px)
       |            ELSE coalesce(pv, nv) END AS vq,
       |       CASE WHEN vq_obs IS NOT NULL THEN 'obs'
       |            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
       |            ELSE 'hold' END AS kind
       |FROM br ORDER BY key, grid_ts""".stripMargin

  // ---- trailing 7-day moving aggregate -------------------------------------
  /** Per (event_type, day): daily count/quantized-sum plus the trailing
    * 7-DAY windowed totals and exact floor-division mean — a RANGE
    * frame on the integer day index, so calendar gaps shrink the
    * window rather than stretching it. Window runs over the tiny
    * (type × day) table; raw rows aggregate once. */
  def tsMovingAvg(s: SparkSession, d: String): DataFrame =
    TimeSeries.movingDailyAgg(Tables.events(s, d), "event_type", "ts",
        "value", "2024-01-01", 7)
      .orderBy(col("key"), col("day"))

  val tsMovingAvgSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         count(*) AS n_d,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS qsum_d
       |  FROM $evWrap GROUP BY 1, 2),
       |dx AS (SELECT key, day, n_d, qsum_d,
       |              date_diff('day', DATE '2024-01-01', day) AS x FROM daily),
       |win AS (SELECT key, day, n_d, qsum_d,
       |               CAST(sum(n_d) OVER w AS BIGINT) AS win_n,
       |               CAST(sum(qsum_d) OVER w AS BIGINT) AS win_qsum
       |        FROM dx
       |        WINDOW w AS (PARTITION BY key ORDER BY x
       |          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
       |SELECT key, day, n_d, qsum_d, win_n, win_qsum,
       |       win_qsum // win_n AS avg_q
       |FROM win ORDER BY key, day""".stripMargin

  // ---- day-of-week seasonality profile -------------------------------------
  /** Weekly shape per type: per (key, dow 0=Mon) count, quantized sum,
    * and exact per-slot vs all-week means. dow is (days since
    * 2024-01-01, a Monday) mod 7 on BOTH sides — no engine dayofweek
    * convention involved. */
  def tsDowProfile(s: SparkSession, d: String): DataFrame =
    TimeSeries.dowProfile(Tables.events(s, d), "event_type", "ts",
        "value", "2024-01-01")
      .orderBy(col("key"), col("dow"))

  val tsDowProfileSql: String =
    s"""WITH base AS (
       |  SELECT event_type AS key,
       |         ((date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7) + 7) % 7 AS dow,
       |         CAST(FLOOR(value * 1e6) AS BIGINT) AS qv
       |  FROM $evWrap),
       |prof AS (
       |  SELECT key, dow, count(*) AS n, CAST(sum(qv) AS BIGINT) AS qsum
       |  FROM base GROUP BY 1, 2),
       |tot AS (
       |  SELECT key, dow, n, qsum,
       |         CAST(sum(n) OVER (PARTITION BY key) AS BIGINT) AS tot_n,
       |         CAST(sum(qsum) OVER (PARTITION BY key) AS BIGINT) AS tot_q
       |  FROM prof)
       |SELECT key, dow, n, qsum, qsum // n AS mean_q,
       |       tot_q // tot_n AS all_mean_q
       |FROM tot ORDER BY key, dow""".stripMargin

  // ---- seasonal adjustment: residuals vs the dow mean of daily totals ------
  /** Each day's total minus its day-of-week mean (means over DAILY
    * TOTALS, non-negative DIV; residual a pure subtraction) — the
    * deseasonalized series anomaly detection should consume when weekly
    * rhythm would otherwise dominate. */
  def tsDeseasonalize(s: SparkSession, d: String): DataFrame =
    TimeSeries.deseasonalize(Tables.events(s, d), "event_type", "ts",
        "value", "2024-01-01")
      .orderBy(col("key"), col("day"))

  val tsDeseasonalizeSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |dd AS (
       |  SELECT key, day, yv,
       |         ((date_diff('day', DATE '2024-01-01', day) % 7) + 7) % 7 AS dow
       |  FROM daily),
       |prof AS (
       |  SELECT key, dow,
       |         CAST(sum(yv) AS BIGINT) // count(*) AS dow_mean_q
       |  FROM dd GROUP BY 1, 2)
       |SELECT dd.key AS key, dd.day AS day, dd.dow AS dow, dd.yv AS yv,
       |       prof.dow_mean_q, dd.yv - prof.dow_mean_q AS resid_q
       |FROM dd JOIN prof ON prof.key = dd.key AND prof.dow = dd.dow
       |ORDER BY key, day""".stripMargin

  // ---- robust seasonal anomalies: MAD over deseasonalized residuals --------
  /** The two detectors composed: days whose DESEASONALIZED residual
    * (daily total minus its dow mean — [[TimeSeries.deseasonalize]])
    * deviates from the per-key residual median by more than 3×MAD
    * ([[graft.operators.Relational.madOutliers]]' histogram-crossing
    * integer medians). A Sunday that is merely Sunday-big no longer
    * flags; a Tuesday behaving like a Sunday does. All integer — the
    * MAD rule is abs/compare only, so the micro-unit residuals never
    * overflow. Oracle states the naive rank-selection medians over the
    * same residual construction. */
  def tsAnomalyRobust(s: SparkSession, d: String): DataFrame = {
    val resid = TimeSeries.deseasonalize(Tables.events(s, d), "event_type",
        "ts", "value", "2024-01-01")
      .select(col("key"),
        datediff(col("day"), lit("2024-01-01").cast("date"))
          .cast("long").as("x"),
        col("resid_q"))
    graft.operators.Relational.madOutliers(resid, "key", "x",
        col("resid_q"), k = 3L)
      .select(col("g").as("key"), col("id").as("x"),
        col("qc").as("resid_q"), col("med_c"), col("mad_c"), col("dev_c"))
      .orderBy(col("key"), col("x"))
  }

  val tsAnomalyRobustSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |dd AS (
       |  SELECT key, day, yv,
       |         ((date_diff('day', DATE '2024-01-01', day) % 7) + 7) % 7 AS dow
       |  FROM daily),
       |prof AS (
       |  SELECT key, dow,
       |         CAST(sum(yv) AS BIGINT) // count(*) AS dow_mean_q
       |  FROM dd GROUP BY 1, 2),
       |r AS (
       |  SELECT dd.key AS key,
       |         date_diff('day', DATE '2024-01-01', dd.day) AS x,
       |         dd.yv - prof.dow_mean_q AS rq
       |  FROM dd JOIN prof ON prof.key = dd.key AND prof.dow = dd.dow),
       |rn AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY rq, x) AS rn,
       |              count(*) OVER (PARTITION BY key) AS n FROM r),
       |med AS (SELECT key, rq AS med_c FROM rn WHERE rn = (n + 1) // 2),
       |ad AS (SELECT r.key, r.x, r.rq, m.med_c, abs(r.rq - m.med_c) AS dev_c
       |       FROM r JOIN med m USING (key)),
       |rn2 AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY dev_c, x) AS rn,
       |               count(*) OVER (PARTITION BY key) AS n FROM ad),
       |mad AS (SELECT key, dev_c AS mad_c FROM rn2 WHERE rn = (n + 1) // 2)
       |SELECT a.key AS key, a.x AS x, a.rq AS resid_q, a.med_c, d.mad_c, a.dev_c
       |FROM ad a JOIN mad d USING (key)
       |WHERE a.dev_c > 3 * d.mad_c
       |ORDER BY key, x""".stripMargin

  // ---- per-type integer EWMA of daily totals -------------------------------
  /** Exponentially smoothed daily value total per type, α = 1/4, in
    * pure long arithmetic (s ← (3s+x) DIV 4, operands non-negative so
    * floor ≡ truncate): seeded with the first day, folded in ascending
    * day order — DuckDB's `list_reduce` replays the identical fold. */
  def tsEwma(s: SparkSession, d: String): DataFrame =
    TimeSeries.ewmaDaily(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("key"))

  val tsEwmaSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |agg AS (SELECT key, count(*) AS n_days, max(day) AS last_day,
       |               list(yv ORDER BY day) AS series
       |        FROM daily GROUP BY key)
       |SELECT key, n_days, last_day,
       |       list_reduce(series, (acc, x) -> (acc * 3 + x) // 4) AS ewma_q
       |FROM agg ORDER BY key""".stripMargin

  // ---- EWMA-baseline anomaly days ------------------------------------------
  /** Days whose quantized total deviates from the prior-days integer
    * EWMA baseline by more than 75% — 4·|x−s| > 3·s, pure integer
    * comparison. The oracle folds the same (3s+x)//4 recurrence over
    * yv-prefix slices with `list_slice`+`list_reduce` (homogeneous
    * long folds seeded by the first element, matching Spark's
    * init+slice form). */
  def tsAnomaly(s: SparkSession, d: String): DataFrame =
    TimeSeries.ewmaAnomalies(Tables.events(s, d), "event_type", "ts",
        "value", thrNum = 3L, thrDen = 4L)
      .orderBy(col("key"), col("day"))

  val tsAnomalySql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |agg AS (SELECT key,
       |               list(day ORDER BY day) AS days,
       |               list(yv ORDER BY day) AS yvs
       |        FROM daily GROUP BY key),
       |ex AS (SELECT key,
       |              unnest(list_transform(range(1, len(days) + 1), i -> struct_pack(
       |                day := days[i], yv := yvs[i],
       |                prev_ewma := CASE WHEN i = 1 THEN NULL
       |                  ELSE list_reduce(list_slice(yvs, 1, i - 1),
       |                         (acc, x) -> (acc * 3 + x) // 4) END))) AS u
       |       FROM agg)
       |SELECT key, u.day AS day, u.yv AS yv, u.prev_ewma AS prev_ewma,
       |       u.prev_ewma IS NOT NULL
       |         AND abs(u.yv - u.prev_ewma) * 4 > u.prev_ewma * 3 AS anom
       |FROM ex ORDER BY key, day""".stripMargin

  // ---- autocorrelation of daily totals (exact rational ACF) ----------------
  /** ACF at lags 1..7 of per-type daily totals as exact integer
    * (cov_num, var_den) pairs — the weekly rhythm shows as the lag-7
    * peak, and centering by the integer mean keeps every product in
    * long range (raw Σx·Σy would overflow). Lag pairs are day-distance
    * based; calendar gaps simply yield no pair. */
  /** Cross-metric covariance rationals per key: does daily revenue
    * move with daily activity ([[TimeSeries.xcorrDaily]])? Integer
    * (cov_num, var_a, var_b) — normalization left to the reader, sign
    * and comparisons exact. */
  def tsXcorr(s: SparkSession, d: String): DataFrame =
    TimeSeries.xcorrDaily(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("key"))

  val tsXcorrSql: String =
    """WITH d AS (
      |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(FLOOR(value * 1e2) AS BIGINT)) AS BIGINT) AS a,
      |         COUNT(*) AS b
      |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
      |  GROUP BY key, day
      |), m AS (
      |  SELECT key, COUNT(*) AS n_days,
      |         CAST(SUM(a) AS BIGINT) // COUNT(*) AS ma,
      |         CAST(SUM(b) AS BIGINT) // COUNT(*) AS mb
      |  FROM d GROUP BY key)
      |SELECT d.key AS key, m.n_days,
      |  CAST(SUM((a - ma) * (b - mb)) AS BIGINT) AS cov_num,
      |  CAST(SUM((a - ma) * (a - ma)) AS BIGINT) AS var_a,
      |  CAST(SUM((b - mb) * (b - mb)) AS BIGINT) AS var_b
      |FROM d JOIN m ON m.key = d.key
      |GROUP BY d.key, m.n_days ORDER BY key""".stripMargin

  def tsAcf(s: SparkSession, d: String): DataFrame =
    TimeSeries.acfDaily(Tables.events(s, d), "event_type", "ts", "value",
        7, "2024-01-01")
      .orderBy(col("key"), col("lag"))

  val tsAcfSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e2) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |dd AS (SELECT key, date_diff('day', DATE '2024-01-01', day) AS x, yv
       |       FROM daily),
       |mu AS (SELECT key, CAST(sum(yv) AS BIGINT) // count(*) AS mu
       |       FROM dd GROUP BY key),
       |c AS (SELECT dd.key AS key, x, yv - mu AS r
       |      FROM dd JOIN mu ON mu.key = dd.key),
       |vd AS (SELECT key, CAST(sum(r * r) AS BIGINT) AS var_den
       |       FROM c GROUP BY key),
       |p AS (SELECT a.key AS key, l.lag AS lag, COUNT(*) AS n_pairs,
       |             CAST(SUM(a.r * b.r) AS BIGINT) AS cov_num
       |      FROM c a CROSS JOIN range(1, 8) AS l(lag)
       |      JOIN c b ON b.key = a.key AND b.x = a.x + l.lag
       |      GROUP BY 1, 2)
       |SELECT p.key AS key, p.lag AS lag, p.n_pairs, p.cov_num, vd.var_den
       |FROM p JOIN vd ON vd.key = p.key
       |ORDER BY key, lag""".stripMargin

  // ---- Holt double-exponential level+trend forecast ------------------------
  /** Holt smoothing (α=β=1/4) of daily totals with the one-step
    * forecast level+trend — trend goes NEGATIVE on falling series,
    * where `//` sign semantics vary across DuckDB releases, so every
    * divide on BOTH sides is an arithmetic right shift (Spark
    * `shiftright` ≡ DuckDB `>>`, floor by construction); the oracle
    * unrolls the two-field recurrence as a recursive CTE (see NOTE). */
  def tsHolt(s: SparkSession, d: String): DataFrame =
    TimeSeries.holtDaily(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("key"))

  // NOTE: the fold is stated as a RECURSIVE CTE, not list_reduce — DuckDB
  // v1.0.0 evaluates multi-field struct lambdas sequentially against a
  // partially-updated accumulator (a two-field (level, trend) state reads
  // the NEW level where the recurrence needs the old one); a recursive
  // CTE evaluates both next-state columns against the same prior row.
  val tsHoltSql: String =
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |dd AS (SELECT key, row_number() OVER (PARTITION BY key ORDER BY day) AS i,
       |              day, yv FROM daily),
       |meta AS (SELECT key, max(i) AS n_days, max(day) AS last_day
       |         FROM dd GROUP BY key),
       |st AS (
       |  SELECT key, i, yv AS level, CAST(0 AS BIGINT) AS trend
       |  FROM dd WHERE i = 1
       |  UNION ALL
       |  SELECT st.key, dd.i,
       |    ((st.level + st.trend) * 3 + dd.yv) >> 2,
       |    (st.trend * 3 +
       |      ((((st.level + st.trend) * 3 + dd.yv) >> 2) - st.level)) >> 2
       |  FROM st JOIN dd ON dd.key = st.key AND dd.i = st.i + 1)
       |SELECT m.key AS key, m.n_days, m.last_day,
       |       st.level AS level_q, st.trend AS trend_q,
       |       st.level + st.trend AS forecast_q
       |FROM meta m JOIN st ON st.key = m.key AND st.i = m.n_days
       |ORDER BY key""".stripMargin

  /** Holt BACKTEST — is the forecaster any good, answered the only
    * honest way: hold out the newest day, run the identical recurrence
    * over the prefix, and compare its one-step forecast with what
    * actually happened — per key, exact integer error. Two Holt runs'
    * worth of work (the fold over n−1 days + one actual-day aggregate),
    * NOT the quadratic all-prefixes form; the holdout cutoff rides
    * in-plan via a broadcast 1-row max-day frame (no driver collect).
    * Output: (key, n_days, forecast_q, actual_q, abs_err_q). */
  def tsHoltEval(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val qmicro = floor(col("value") * lit(1e6)).cast("long")
    val daily = ev.groupBy(col("event_type").as("key"),
        to_date(col("ts")).as("day"))
      .agg(sum(qmicro).as("yv"))
    val mx = broadcast(daily.agg(max(col("day")).as("d1")))
    val prefixEv = ev.crossJoin(mx)
      .filter(to_date(col("ts")) < col("d1")).drop("d1")
    val actual = daily.crossJoin(mx).filter(col("day") === col("d1"))
      .select(col("key"), col("yv").as("actual_q"))
    TimeSeries.holtDaily(prefixEv, "event_type", "ts", "value")
      .join(actual, "key")
      .select(col("key"), col("n_days"), col("forecast_q"),
        col("actual_q"),
        abs(col("forecast_q") - col("actual_q")).as("abs_err_q"))
      .orderBy(col("key"))
  }
  val tsHoltEvalSql: String =
    s"""WITH RECURSIVE daily0 AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |mx AS (SELECT MAX(day) AS d1 FROM daily0),
       |daily AS (SELECT key, day, yv FROM daily0, mx WHERE day < d1),
       |dd AS (SELECT key, row_number() OVER (PARTITION BY key ORDER BY day) AS i,
       |              day, yv FROM daily),
       |meta AS (SELECT key, max(i) AS n_days FROM dd GROUP BY key),
       |st AS (
       |  SELECT key, i, yv AS level, CAST(0 AS BIGINT) AS trend
       |  FROM dd WHERE i = 1
       |  UNION ALL
       |  SELECT st.key, dd.i,
       |    ((st.level + st.trend) * 3 + dd.yv) >> 2,
       |    (st.trend * 3 +
       |      ((((st.level + st.trend) * 3 + dd.yv) >> 2) - st.level)) >> 2
       |  FROM st JOIN dd ON dd.key = st.key AND dd.i = st.i + 1),
       |actual AS (SELECT key, yv AS actual_q FROM daily0, mx WHERE day = d1)
       |SELECT m.key AS key, m.n_days,
       |       st.level + st.trend AS forecast_q, a.actual_q,
       |       abs(st.level + st.trend - a.actual_q) AS abs_err_q
       |FROM meta m JOIN st ON st.key = m.key AND st.i = m.n_days
       |JOIN actual a ON a.key = m.key
       |ORDER BY key""".stripMargin

  /** Today-vs-history PERCENTILE RANK: where the newest day's total
    * sits in the key's own daily history — the unitless "is today
    * unusual" read (pr_ppm near 10⁶ = a record day, near 0 = a trough),
    * as the pure integer n_{≤latest}·10⁶ DIV n_days. One daily
    * aggregation, one broadcast max-day frame, one compare-count. */
  def a23PercentileRank(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type").as("key"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * lit(1e6)).cast("long")).as("yv"))
    val mx = broadcast(daily.agg(max(col("day")).as("d1")))
    val latest = daily.crossJoin(mx).filter(col("day") === col("d1"))
      .select(col("key"), col("yv").as("latest_q"))
    daily.join(broadcast(latest), "key")
      .groupBy(col("key"), col("latest_q"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("yv") <= col("latest_q"), 1L).otherwise(0L))
          .as("n_le"))
      .withColumn("pr_ppm", expr("n_le * 1000000 div n_days"))
      .orderBy(col("key"))
  }
  val a23Sql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |mx AS (SELECT MAX(day) AS d1 FROM daily),
       |latest AS (SELECT key, yv AS latest_q FROM daily, mx WHERE day = d1)
       |SELECT d.key AS key, l.latest_q, COUNT(*) AS n_days,
       |  CAST(SUM(CASE WHEN d.yv <= l.latest_q THEN 1 ELSE 0 END) AS BIGINT) AS n_le,
       |  CAST(SUM(CASE WHEN d.yv <= l.latest_q THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
       |    // COUNT(*) AS pr_ppm
       |FROM daily d JOIN latest l ON l.key = d.key
       |GROUP BY d.key, l.latest_q ORDER BY key""".stripMargin

  // ---- CUSUM level-shift changepoints --------------------------------------
  /** Two-sided integer CUSUM vs the whole-span mean: sustained drifts
    * accumulate in s⁺/s⁻ until the μ·2 decision interval trips — the
    * level-shift detector the per-day EWMA rule can't express. The
    * oracle replays each prefix with a 0-seeded `list_reduce`
    * (seed prepended — DuckDB's fold has no init parameter) over the
    * same per-key day-ordered array; every step is integer add /
    * greatest, so the statistic hash-matches bit for bit. */
  def tsCusum(s: SparkSession, d: String): DataFrame =
    TimeSeries.cusumChangepoints(Tables.events(s, d), "event_type", "ts",
        "value", slackDen = 4L, hMul = 2L)
      .orderBy(col("key"), col("day"))

  val tsCusumSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |agg AS (SELECT key,
       |               list(day ORDER BY day) AS days,
       |               list(yv ORDER BY day) AS yvs,
       |               CAST(sum(yv) AS BIGINT) // count(*) AS mu
       |        FROM daily GROUP BY key),
       |p AS (SELECT key, mu, mu // 4 AS kap, days, yvs FROM agg),
       |ex AS (SELECT key, mu, kap,
       |              unnest(list_transform(range(1, len(days) + 1), i -> struct_pack(
       |                day := days[i], yv := yvs[i],
       |                s_pos := list_reduce(
       |                  list_prepend(CAST(0 AS BIGINT), list_slice(yvs, 1, i)),
       |                  (acc, x) -> greatest(CAST(0 AS BIGINT), acc + (x - mu - kap))),
       |                s_neg := list_reduce(
       |                  list_prepend(CAST(0 AS BIGINT), list_slice(yvs, 1, i)),
       |                  (acc, x) -> greatest(CAST(0 AS BIGINT), acc + (mu - kap - x)))))) AS u
       |       FROM p)
       |SELECT key, u.day AS day, u.yv AS yv, mu,
       |       u.s_pos AS s_pos, u.s_neg AS s_neg,
       |       u.s_pos > mu * 2 OR u.s_neg > mu * 2 AS chg
       |FROM ex ORDER BY key, day""".stripMargin

  // ---- Mann-Kendall non-parametric trend -----------------------------------
  /** Concordant-minus-discordant day pairs per type: the outlier-immune
    * trend significance read (signs only — integer-exact by
    * construction), with |s_stat| against max_s = n(n−1)/2 as the
    * scale-free strength. Self-join over the tiny (key × day) table. */
  def tsMkTrend(s: SparkSession, d: String): DataFrame =
    TimeSeries.mkTrend(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("key"))

  val tsMkTrendSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |nd AS (SELECT key, count(*) AS n_days FROM daily GROUP BY key),
       |p AS (SELECT a.key AS key,
       |             CAST(SUM(CASE WHEN b.yv > a.yv THEN 1
       |                           WHEN b.yv < a.yv THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
       |      FROM daily a JOIN daily b ON b.key = a.key AND b.day > a.day
       |      GROUP BY a.key)
       |SELECT p.key AS key, nd.n_days, p.s_stat,
       |       nd.n_days * (nd.n_days - 1) // 2 AS max_s,
       |       CASE WHEN p.s_stat > 0 THEN 'up'
       |            WHEN p.s_stat < 0 THEN 'down' ELSE 'flat' END AS trend
       |FROM p JOIN nd ON nd.key = p.key
       |ORDER BY key""".stripMargin

  // ---- per-type linear trend (exact rational slope) ------------------------
  /** OLS slope of the quantized daily value total vs day index, emitted
    * as the exact integer (numerator, denominator) pair — no division,
    * no floats, hash-identical across engines. */
  def tsTrend(s: SparkSession, d: String): DataFrame =
    TimeSeries.trendSlope(Tables.events(s, d), "event_type", "ts",
        "value", "2024-01-01")
      .orderBy(col("key"))

  val tsTrendSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |dx AS (SELECT key, date_diff('day', DATE '2024-01-01', day) AS x, yv
       |       FROM daily)
       |SELECT key, count(*) AS n_days,
       |       count(*) * CAST(sum(x * yv) AS BIGINT)
       |         - CAST(sum(x) AS BIGINT) * CAST(sum(yv) AS BIGINT) AS slope_num,
       |       count(*) * CAST(sum(x * x) AS BIGINT)
       |         - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT) AS slope_den
       |FROM dx GROUP BY key ORDER BY key""".stripMargin

  // ---- Theil–Sen robust slope ----------------------------------------------
  /** Median pairwise daily slope per event type — the outlier-robust
    * companion to [[tsTrend]]'s OLS and [[tsMkTrend]]'s direction test.
    * The median is taken under the total order (floor(num·2²⁰/den),
    * num, den) — exact integer on both engines; see
    * [[graft.operators.TimeSeries.theilSen]] for the floor-division
    * construction and overflow guard. */
  def tsTheilSen(s: SparkSession, d: String): DataFrame =
    TimeSeries.theilSen(Tables.events(s, d), "event_type", "ts",
        "value", "2024-01-01")
      .orderBy(col("key"))

  val tsTheilSenSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |dx AS (SELECT key, yv,
       |              CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS x
       |       FROM daily),
       |nd AS (SELECT key, count(*) AS n_days FROM daily GROUP BY key),
       |p AS (SELECT a.key AS key, b.yv - a.yv AS num, b.x - a.x AS den,
       |             (b.yv - a.yv) * 1048576 AS sh
       |      FROM dx a JOIN dx b ON b.key = a.key AND b.x > a.x),
       |sk AS (SELECT key, num, den,
       |              CAST((sh - ((sh % den + den) % den)) // den AS BIGINT) AS skey
       |       FROM p),
       |r AS (SELECT key, num, den, skey,
       |             row_number() OVER (PARTITION BY key
       |                                ORDER BY skey, num, den) AS rk,
       |             count(*) OVER (PARTITION BY key) AS n_pairs
       |      FROM sk)
       |SELECT r.key AS key, nd.n_days, CAST(r.n_pairs AS BIGINT) AS n_pairs,
       |       r.num AS slope_num, r.den AS slope_den, r.skey AS slope_scaled
       |FROM r JOIN nd ON nd.key = r.key
       |WHERE r.rk = (r.n_pairs + 1) // 2
       |ORDER BY key""".stripMargin

  // ---- naive forecast baselines (the M-competition discipline) -------------
  private val SnSeason = 7
  private val SnEvalDays = 7

  /** [[TimeSeries.naiveBaselineEval]] over daily value totals per event
    * type: total absolute error of last-value naive vs seasonal(7)-naive
    * over the newest 7 days — the two baselines ts_holt_eval's forecast
    * must beat to matter, and the cheapest seasonality detector
    * (snaive_better ⇔ the weekly pattern outpredicts yesterday). Exact
    * integers end to end; eval days missing a lag drop on BOTH sides. */
  def tsSnaiveEval(s: SparkSession, d: String): DataFrame =
    TimeSeries.naiveBaselineEval(Tables.events(s, d), "event_type", "ts",
        "value", season = SnSeason, evalDays = SnEvalDays)
      .select(col("key").as("event_type"), col("n_eval"),
        col("sae_naive_q"), col("sae_snaive_q"), col("snaive_better"))
      .orderBy(col("event_type"))

  val tsSnaiveEvalSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
       |         CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS yv
       |  FROM $evWrap GROUP BY 1, 2),
       |mx AS (SELECT key, max(day) AS maxd FROM daily GROUP BY key)
       |SELECT d.key AS event_type, count(*) AS n_eval,
       |       CAST(SUM(ABS(d.yv - p1.yv)) AS BIGINT) AS sae_naive_q,
       |       CAST(SUM(ABS(d.yv - ps.yv)) AS BIGINT) AS sae_snaive_q,
       |       SUM(ABS(d.yv - ps.yv)) < SUM(ABS(d.yv - p1.yv)) AS snaive_better
       |FROM daily d
       |JOIN daily p1 ON p1.key = d.key AND p1.day = d.day - 1
       |JOIN daily ps ON ps.key = d.key AND ps.day = d.day - $SnSeason
       |JOIN mx ON mx.key = d.key AND d.day > mx.maxd - $SnEvalDays
       |GROUP BY d.key
       |ORDER BY event_type""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("ts_snaive_eval", tsSnaiveEval, tsSnaiveEvalSql),
    QueryDef("ts_ohlc", tsOhlc, tsOhlcSql),
    QueryDef("ts_theil_sen", tsTheilSen, tsTheilSenSql),
    QueryDef("ts_resample_ffill", tsResampleFfill, tsResampleFfillSql),
    QueryDef("ts_interp", tsInterp, tsInterpSql),
    QueryDef("ts_moving_avg", tsMovingAvg, tsMovingAvgSql),
    QueryDef("ts_ewma", tsEwma, tsEwmaSql),
    QueryDef("ts_dow_profile", tsDowProfile, tsDowProfileSql),
    QueryDef("ts_deseasonalize", tsDeseasonalize, tsDeseasonalizeSql),
    QueryDef("ts_anomaly_robust", tsAnomalyRobust, tsAnomalyRobustSql),
    QueryDef("ts_anomaly", tsAnomaly, tsAnomalySql),
    QueryDef("ts_cusum", tsCusum, tsCusumSql),
    QueryDef("ts_holt", tsHolt, tsHoltSql),
    QueryDef("ts_acf", tsAcf, tsAcfSql),
    QueryDef("ts_xcorr", tsXcorr, tsXcorrSql),
    QueryDef("ts_holt_eval", tsHoltEval, tsHoltEvalSql),
    QueryDef("a23_percentile_rank", a23PercentileRank, a23Sql),
    QueryDef("ts_trend", tsTrend, tsTrendSql),
    QueryDef("ts_mk_trend", tsMkTrend, tsMkTrendSql))
}
