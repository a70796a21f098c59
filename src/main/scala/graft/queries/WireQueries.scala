package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Wire

/** S1-S11 wire ingestion: golden JSON payloads (FIXTURES.md §1, from the
  * reference's dataExamples.txt) → bronze `from_json` → silver
  * projections. The DuckDB oracle re-parses the SAME payload strings with
  * its JSON operators and re-implements the F1-F5 scalar algorithms in
  * SQL — a full two-engine pipeline check, not a fixture echo. */
object WireQueries {
  // ---- literal helpers -----------------------------------------------------

  /** JSON string escape (control chars + quote + backslash). */
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** SQL literal (single-quote escape; payloads contain no raw newlines). */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  private def valuesSql(rows: Seq[(Int, String)]): String =
    rows.map { case (i, p) => s"($i, ${sqlLit(p)})" }.mkString(", ")

  /** DuckDB F1 (locale price parse) over an arbitrary expression. */
  private def sqlF1(e: String): String = {
    val stripped = SteamQueries.sqlStrip(e)
    val x = SteamQueries.sqlEuUs(s"($stripped)")
    s"""CASE WHEN $e IS NULL OR $e = '' THEN NULL
       |     WHEN regexp_matches(($x), '${SteamQueries.pyFloatRe}') THEN TRY_CAST(($x) AS DOUBLE)
       |     ELSE NULL END""".stripMargin
  }

  /** DuckDB F3 (volume parse → INT). */
  private def sqlF3(e: String): String =
    s"""CASE WHEN $e IS NULL OR $e = '' THEN NULL
       |     WHEN regexp_matches(replace(replace($e, ',', ''), '.', ''), '${SteamQueries.pyIntRe}')
       |     THEN TRY_CAST(TRY_CAST(replace(replace($e, ',', ''), '.', '') AS BIGINT) AS INTEGER)
       |     ELSE NULL END""".stripMargin

  /** DuckDB F2 (minor units → major). */
  private def sqlF2(e: String): String =
    s"""CASE WHEN $e IS NULL OR $e = '' THEN NULL
       |     WHEN regexp_matches(replace($e, ',', ''), '${SteamQueries.pyIntRe}')
       |     THEN TRY_CAST(replace($e, ',', '') AS BIGINT) / 100.0
       |     ELSE NULL END""".stripMargin

  /** DuckDB F4 (ordered symbol scan, NULL-safe). */
  private def sqlF4(e: String): String =
    s"CASE WHEN $e IS NULL THEN NULL ELSE ${SteamQueries.sqlCurrency(e)} END"

  // ---- S8: price_overview payload → silver ---------------------------------

  private val overviewGolden: Seq[(Int, String)] = Seq(
    1 -> """{"success":true,"lowest_price":"0,03€","median_price":"0,01€","volume":"435"}""",
    2 -> """{"success":true,"lowest_price":"$5.00","median_price":"$4.75","volume":"1,234"}""",
    3 -> """{"success":true,"lowest_price":"1.234,56€","median_price":null,"volume":null}""",
    4 -> """{"success":false}""")

  def s8SilverOverview(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Wire.silverPriceOverview(
      Wire.bronze(overviewGolden.toDF("id", "payload"), Wire.priceOverviewWire))
      .orderBy(col("id"))
  }
  val s8Sql: String =
    s"""WITH raw(id, payload) AS (VALUES ${valuesSql(overviewGolden)}),
       |j AS (SELECT id, TRY_CAST(payload->>'success' AS BOOLEAN) AS success,
       |             payload->>'lowest_price' AS lp, payload->>'median_price' AS mp,
       |             payload->>'volume' AS vol FROM raw)
       |SELECT id, success,
       |  ${sqlF1("lp")} AS lowest_price,
       |  ${sqlF1("mp")} AS median_price,
       |  ${sqlF3("vol")} AS volume,
       |  coalesce(${sqlF4("lp")}, ${sqlF4("mp")}, 'USD') AS currency
       |FROM j ORDER BY id""".stripMargin

  // ---- S9: orders_histogram payload → silver scalars -----------------------

  private val histogramGolden: Seq[(Int, String)] = Seq(
    1 -> ("""{"success":1,"sell_order_count":null,"sell_order_table":null,""" +
      """"buy_order_count":"1","buy_order_table":[{"price":"0,03€","quantity":"2"}],""" +
      """"highest_buy_order":"3","lowest_sell_order":null,""" +
      """"buy_order_graph":[[0.03,2,"2 buy orders at 0,03€ or higher"]],""" +
      """"sell_order_graph":[],"price_prefix":"","price_suffix":"€"}"""),
    2 -> ("""{"success":1,"sell_order_count":"1,234","sell_order_table":[{"price":"$0.05","quantity":"10"},{"price":"$0.06","quantity":"4"}],""" +
      """"buy_order_count":"77","buy_order_table":[{"price":"$0.03","quantity":"2"}],""" +
      """"highest_buy_order":"6711","lowest_sell_order":"5",""" +
      """"buy_order_graph":[[0.03,2,"x"],[0.02,5,"y"]],"sell_order_graph":[[0.05,10,"z"]],""" +
      """"price_prefix":"$","price_suffix":""}"""))

  def s9SilverHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Wire.silverOrdersHistogram(
      Wire.bronze(histogramGolden.toDF("id", "payload"), Wire.ordersHistogramWire))
      .select(col("id"), col("buy_order_count"), col("sell_order_count"),
        col("highest_buy_order"), col("lowest_sell_order"),
        size(col("buy_order_table")).as("n_buy_table"),
        size(col("sell_order_table")).as("n_sell_table"),
        element_at(col("buy_order_table"), 1).getField("price").as("first_buy_price"),
        element_at(element_at(col("buy_order_graph"), 1), 1).cast("double").as("graph_first_price"),
        element_at(element_at(col("buy_order_graph"), 1), 2).cast("long").as("graph_first_qty"),
        col("currency"))
      .orderBy(col("id"))
  }
  val s9Sql: String =
    s"""WITH raw(id, payload) AS (VALUES ${valuesSql(histogramGolden)})
       |SELECT id,
       |  ${sqlF3("(payload->>'buy_order_count')")} AS buy_order_count,
       |  ${sqlF3("(payload->>'sell_order_count')")} AS sell_order_count,
       |  ${sqlF2("(payload->>'highest_buy_order')")} AS highest_buy_order,
       |  ${sqlF2("(payload->>'lowest_sell_order')")} AS lowest_sell_order,
       |  TRY_CAST(json_array_length(payload->'buy_order_table') AS INTEGER) AS n_buy_table,
       |  TRY_CAST(json_array_length(payload->'sell_order_table') AS INTEGER) AS n_sell_table,
       |  payload->'buy_order_table'->0->>'price' AS first_buy_price,
       |  TRY_CAST(payload->'buy_order_graph'->0->>0 AS DOUBLE) AS graph_first_price,
       |  TRY_CAST(payload->'buy_order_graph'->0->>1 AS BIGINT) AS graph_first_qty,
       |  coalesce(${sqlF4("(payload->>'price_suffix')")},
       |           ${sqlF4("(payload->>'price_prefix')")}, 'USD') AS currency
       |FROM raw ORDER BY id""".stripMargin

  // ---- S10 + F8: orders_activity payload → exploded events view ------------

  private val activityGolden: Seq[(Int, String)] = {
    def payload(htmls: Seq[String], ts: Long): String =
      s"""{"success":1,"activity":[${htmls.map(jstr).mkString(",")}],"timestamp":$ts}"""
    Seq(
      1 -> payload(Seq(
        SteamQueries.goldenHtml("0,85€", "Purchased"),
        SteamQueries.goldenHtml("$12.50", "Listed"),
        "<div>no spans here</div>"), 1765687694L),
      2 -> payload(Seq(SteamQueries.goldenHtml("£5.99", "Listed")), 1765687700L))
  }

  def s10ActivityEvents(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Wire.activityEvents(Wire.silverOrdersActivity(
      Wire.bronze(activityGolden.toDF("id", "payload"), Wire.ordersActivityWire)))
      .orderBy(col("id"), col("ord"))
  }
  val s10Sql: String = {
    val pyFloatRe = SteamQueries.pyFloatRe
    val activityCase = "CASE " + Seq(
      "€" -> "EUR", "$" -> "USD", "£" -> "GBP", "¥" -> "JPY", "₽" -> "RUB",
      "R$" -> "BRL", "CDN$" -> "CAD", "A$" -> "AUD").map { case (sym, code) =>
      s"WHEN contains(p, '$sym') THEN '$code'"
    }.mkString(" ") + " ELSE NULL END"
    val symCase = "CASE " + Seq("€", "$", "£", "¥", "₽", "R$", "CDN$", "A$")
      .map(sym => s"WHEN contains(p, '$sym') THEN '$sym'").mkString(" ") +
      " ELSE '' END"
    s"""WITH raw(id, payload) AS (VALUES ${valuesSql(activityGolden)}),
       |ex AS (
       |  SELECT id, CAST(payload->>'timestamp' AS BIGINT) AS steam_ts,
       |         unnest(list_transform(range(0, len(json_transform(payload->'activity', '["VARCHAR"]'))),
       |           i -> struct_pack(ord := i,
       |                  html := json_transform(payload->'activity', '["VARCHAR"]')[i+1]))) AS e
       |  FROM raw
       |), parsed AS (
       |  SELECT id, CAST(e.ord AS INTEGER) AS ord, steam_ts, e.html AS html,
       |    list_filter(
       |      list_transform(
       |        list_transform(
       |          list_transform(
       |            regexp_extract_all(coalesce(e.html, ''), '<span class="market_activity_cell market_activity_price[^"]*">\\s*([^<]+?)\\s*</span>', 1),
       |            x -> trim(x)),
       |          p -> struct_pack(
       |            stripped := trim(replace(p, $symCase, '')),
       |            cur := $activityCase)),
       |        y -> struct_pack(
       |          price := CASE WHEN y.stripped = '' THEN NULL
       |                        WHEN regexp_matches(replace(y.stripped, ',', '.'), '$pyFloatRe')
       |                        THEN TRY_CAST(replace(y.stripped, ',', '.') AS DOUBLE)
       |                        ELSE NULL END,
       |          currency := CASE WHEN y.stripped = '' THEN NULL
       |                           WHEN regexp_matches(replace(y.stripped, ',', '.'), '$pyFloatRe')
       |                           THEN y.cur ELSE NULL END)),
       |      z -> z.price IS NOT NULL) AS cands
       |  FROM ex
       |)
       |SELECT id, ord, cands[1].price AS price, cands[1].currency AS currency,
       |  nullif(trim(regexp_extract(html, '<span class="market_activity_action">([^<]+)</span>', 1)), '') AS action,
       |  make_timestamp(steam_ts * 1000000) AS event_ts
       |FROM parsed ORDER BY id, ord""".stripMargin
  }

  // ---- S11: price_history payload → typed points (bad dates dropped) -------

  private val historyGolden: Seq[(Int, String)] = Seq(
    1 -> ("""{"success":true,"price_prefix":"","price_suffix":"€","prices":[""" +
      """["Jul 02 2014 01: +0",283.697,"2"],""" +
      """["May 19 2020 01: +0",1621.348,"1"],""" +
      """["garbage date",9.99,"7"]]}"""),
    2 -> """{"success":true,"price_prefix":"$","price_suffix":"","prices":[["Jan 01 2024 00: +0",1.5,"1,234"]]}""")

  def s11SilverHistory(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Wire.silverPriceHistory(
      Wire.bronze(historyGolden.toDF("id", "payload"), Wire.priceHistoryWire))
      .orderBy(col("id"), col("ord"))
  }
  val s11Sql: String = {
    val monthCase = "CASE lower(m) " +
      Seq("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep",
        "oct", "nov", "dec").zipWithIndex.map { case (m, i) =>
        s"WHEN '$m' THEN ${i + 1}"
      }.mkString(" ") + " ELSE NULL END"
    s"""WITH raw(id, payload) AS (VALUES ${valuesSql(historyGolden)}),
       |ex AS (
       |  SELECT id,
       |    coalesce(${sqlF4("(payload->>'price_suffix')")},
       |             ${sqlF4("(payload->>'price_prefix')")}, 'USD') AS currency,
       |    unnest(list_transform(range(0, len(json_transform(payload->'prices', '[["VARCHAR"]]'))),
       |      i -> struct_pack(ord := i,
       |             p := json_transform(payload->'prices', '[["VARCHAR"]]')[i+1]))) AS e
       |  FROM raw
       |), pt AS (
       |  SELECT id, CAST(e.ord AS INTEGER) AS ord, currency,
       |    regexp_extract(trim(e.p[1]), '^(\\S+)\\s+(\\S+)\\s+(\\S+)\\s+(\\S+)', 1) AS m,
       |    TRY_CAST(regexp_extract(trim(e.p[1]), '^(\\S+)\\s+(\\S+)\\s+(\\S+)\\s+(\\S+)', 2) AS INTEGER) AS dd,
       |    TRY_CAST(regexp_extract(trim(e.p[1]), '^(\\S+)\\s+(\\S+)\\s+(\\S+)\\s+(\\S+)', 3) AS INTEGER) AS yy,
       |    TRY_CAST(rtrim(regexp_extract(trim(e.p[1]), '^(\\S+)\\s+(\\S+)\\s+(\\S+)\\s+(\\S+)', 4), ':') AS INTEGER) AS hh,
       |    TRY_CAST(e.p[2] AS DOUBLE) AS price,
       |    ${sqlF3("(e.p[3])")} AS volume
       |  FROM ex
       |)
       |SELECT id, ord, currency,
       |  make_timestamp(yy, $monthCase, dd, hh, 0, 0) AS time, price, volume
       |FROM pt
       |WHERE $monthCase IS NOT NULL AND dd BETWEEN 1 AND 31 AND yy IS NOT NULL
       |  AND hh IS NOT NULL AND hh BETWEEN 0 AND 23
       |ORDER BY id, ord""".stripMargin
  }

  // -------------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("s8_silver_overview", s8SilverOverview, s8Sql),
    QueryDef("s9_silver_histogram", s9SilverHistogram, s9Sql),
    QueryDef("s10_activity_events", s10ActivityEvents, s10Sql),
    QueryDef("s11_silver_history", s11SilverHistory, s11Sql))
}
