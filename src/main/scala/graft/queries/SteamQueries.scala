package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SteamParsers

/** F1-F9 scalar sanitization (SURVEY §2.7) exercised over the golden wire
  * strings from FIXTURES.md §3 / the reference's dataExamples.txt.
  *
  * The testdata has no locale-formatted price strings, so each query builds
  * a literal DataFrame of golden inputs and applies the engine's functions;
  * the DuckDB oracle RE-IMPLEMENTS the same algorithm in SQL (generated
  * from the same symbol tables below, so the two can't drift apart). These
  * are therefore true two-implementation checks, not fixture echoes.
  */
object SteamQueries {
  // The SQL side generates from SteamParsers' OWN ordered tables — one
  // source of truth for the order-sensitive 19-symbol strip and the
  // first-match currency scan; the two implementations cannot drift.
  private[queries] val stripSymbols = SteamParsers.stripSymbols
  private[queries] val currencyMap = SteamParsers.currencyMap

  private[queries] val pyFloatRe = """^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"""
  private[queries] val pyIntRe = """^[+-]?[0-9]+$"""

  /** SQL expression: the 19-symbol ordered strip + trim of column `c`. */
  private[queries] def sqlStrip(c: String): String =
    "trim(" + stripSymbols.foldLeft(s"trim($c)") {
      (acc, sym) => s"replace($acc, '$sym', '')"
    } + ")"

  /** SQL expression: ordered first-match currency scan of column `c`. */
  private[queries] def sqlCurrency(c: String): String =
    "CASE " + currencyMap.map { case (sym, code) =>
      s"WHEN contains($c, '$sym') THEN '$code'"
    }.mkString(" ") + " ELSE NULL END"

  /** SQL expression replicating F1's locale disambiguation on a pre-stripped
    * string column `c` (EU vs US by last-separator position; lone comma is
    * decimal iff exactly 2 trailing digits). */
  private[queries] def sqlEuUs(c: String): String =
    s"""CASE
       |  WHEN contains($c, ',') AND contains($c, '.') THEN
       |    CASE WHEN strpos(reverse($c), ',') < strpos(reverse($c), '.')
       |         THEN replace(replace($c, '.', ''), ',', '.')
       |         ELSE replace($c, ',', '') END
       |  WHEN contains($c, ',') THEN
       |    CASE WHEN strpos(reverse($c), ',') = 3
       |         THEN replace($c, ',', '.')
       |         ELSE replace($c, ',', '') END
       |  ELSE $c END""".stripMargin

  // ---- F1 + F4: price parse + currency extraction ------------------------

  private val f1Golden: Seq[(Int, String)] = Seq(
    1 -> "0,03€", 2 -> "$5.00", 3 -> "1.234,56€", 4 -> "1,234.56",
    5 -> "1,000", 6 -> "0,85", 7 -> "6711", 8 -> "R$5.00", 9 -> "CDN$5.00",
    10 -> "pуб. 10,50", 11 -> "kr 12,34", 12 -> "12,345", 13 -> "5,0",
    14 -> "abc", 15 -> "", 16 -> null, 17 -> "zł 9,99", 18 -> "R 123,45",
    19 -> "฿99.50", 20 -> "CHF 7.77", 21 -> "1.234", 22 -> "₹ 1,499.00",
    23 -> "HK$ 88.8", 24 -> "  $ 1 2 . 5 0  ")

  def f1ParsePrice(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    f1Golden.toDF("id", "price_str")
      .select(col("id"), col("price_str"),
        SteamParsers.parseSteamPriceUdf(col("price_str")).as("price"),
        SteamParsers.extractCurrencyUdf(col("price_str")).as("currency"))
      .orderBy(col("id"))
  }
  val f1Sql: String = {
    val values = f1Golden.map { case (i, v) =>
      if (v == null) s"($i, NULL)" else s"($i, '${v.replace("'", "''")}')"
    }.mkString(", ")
    // F1 strips spaces only at the ends (trim), not internally — "1 2.50"
    // stays unparseable. The whole parse is NULL for NULL/empty input.
    s"""SELECT id, price_str,
       |  CASE WHEN price_str IS NULL OR price_str = '' THEN NULL
       |       WHEN regexp_matches(x, '$pyFloatRe') THEN TRY_CAST(x AS DOUBLE)
       |       ELSE NULL END AS price,
       |  CASE WHEN price_str IS NULL OR price_str = '' THEN NULL
       |       ELSE ${sqlCurrency("price_str")} END AS currency
       |FROM (
       |  SELECT id, price_str, ${sqlEuUs("c")} AS x FROM (
       |    SELECT id, price_str, ${sqlStrip("price_str")} AS c
       |    FROM (VALUES $values) t(id, price_str)) s) u
       |ORDER BY id""".stripMargin
  }

  // ---- F2: minor-units conversion (the 100× trap) ------------------------

  private val f2Golden: Seq[(Int, String)] = Seq(
    1 -> "6711", 2 -> "3", 3 -> "177", 4 -> "1,234", 5 -> "abc",
    6 -> "", 7 -> null, 8 -> "12.50")

  def f2MinorUnits(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    f2Golden.toDF("id", "cents_str")
      .select(col("id"), col("cents_str"),
        SteamParsers.orderPriceMinorToMajorUdf(col("cents_str")).as("major"))
      .orderBy(col("id"))
  }
  val f2Sql: String = {
    val values = f2Golden.map { case (i, v) =>
      if (v == null) s"($i, NULL)" else s"($i, '$v')"
    }.mkString(", ")
    s"""SELECT id, cents_str,
       |  CASE WHEN cents_str IS NULL OR cents_str = '' THEN NULL
       |       WHEN regexp_matches(replace(cents_str, ',', ''), '$pyIntRe')
       |       THEN TRY_CAST(replace(cents_str, ',', '') AS BIGINT) / 100.0
       |       ELSE NULL END AS major
       |FROM (VALUES $values) t(id, cents_str)
       |ORDER BY id""".stripMargin
  }

  // ---- F3: volume parse ---------------------------------------------------

  private val f3Golden: Seq[(Int, String)] = Seq(
    1 -> "435", 2 -> "1,234", 3 -> "1.234.567", 4 -> "abc", 5 -> "",
    6 -> null, 7 -> "12,34.56")

  def f3ParseVolume(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    f3Golden.toDF("id", "volume_str")
      .select(col("id"), col("volume_str"),
        SteamParsers.parseVolumeUdf(col("volume_str")).as("volume"))
      .orderBy(col("id"))
  }
  val f3Sql: String = {
    val values = f3Golden.map { case (i, v) =>
      if (v == null) s"($i, NULL)" else s"($i, '$v')"
    }.mkString(", ")
    s"""SELECT id, volume_str,
       |  CASE WHEN volume_str IS NULL OR volume_str = '' THEN NULL
       |       WHEN regexp_matches(replace(replace(volume_str, ',', ''), '.', ''), '$pyIntRe')
       |       THEN TRY_CAST(TRY_CAST(replace(replace(volume_str, ',', ''), '.', '') AS BIGINT) AS INTEGER)
       |       ELSE NULL END AS volume
       |FROM (VALUES $values) t(id, volume_str)
       |ORDER BY id""".stripMargin
  }

  // ---- F5: Steam datetime parse ------------------------------------------

  private val f5Golden: Seq[(Int, String)] = Seq(
    1 -> "Jul 02 2014 01: +0", 2 -> "Dec 25 2023 14: +0",
    3 -> "May 19 2020 01: +0", 4 -> "garbage", 5 -> "Jul 2014",
    6 -> "Xyz 02 2014 01: +0", 7 -> null, 8 -> "Jan 01 2024 00: +0",
    9 -> "Feb 28 2021 23: +0", 10 -> "Jul 02 2014 25: +0")

  def f5ParseDatetime(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    f5Golden.toDF("id", "date_str")
      .select(col("id"), col("date_str"),
        SteamParsers.parseSteamDatetimeUdf(col("date_str")).as("ts"))
      .orderBy(col("id"))
  }
  val f5Sql: String = {
    val values = f5Golden.map { case (i, v) =>
      if (v == null) s"($i, NULL)" else s"($i, '$v')"
    }.mkString(", ")
    val monthCase = "CASE lower(m) " +
      Seq("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep",
        "oct", "nov", "dec").zipWithIndex.map { case (m, i) =>
        s"WHEN '$m' THEN ${i + 1}"
      }.mkString(" ") + " ELSE NULL END"
    s"""SELECT id, date_str,
       |  CASE WHEN mon IS NOT NULL AND dd IS NOT NULL AND yy IS NOT NULL
       |            AND hh IS NOT NULL AND hh BETWEEN 0 AND 23
       |            AND dd BETWEEN 1 AND 31
       |       THEN TRY_CAST(make_timestamp(yy, mon, dd, hh, 0, 0) AS TIMESTAMP)
       |       ELSE NULL END AS ts
       |FROM (
       |  SELECT id, date_str, $monthCase AS mon,
       |         TRY_CAST(p2 AS INTEGER) AS dd, TRY_CAST(p3 AS INTEGER) AS yy,
       |         TRY_CAST(rtrim(p4, ':') AS INTEGER) AS hh
       |  FROM (
       |    SELECT id, date_str,
       |           regexp_extract(trim(date_str), '^(\\S+)\\s+(\\S+)\\s+(\\S+)\\s+(\\S+)', 1) AS m,
       |           regexp_extract(trim(date_str), '^(\\S+)\\s+(\\S+)\\s+(\\S+)\\s+(\\S+)', 2) AS p2,
       |           regexp_extract(trim(date_str), '^(\\S+)\\s+(\\S+)\\s+(\\S+)\\s+(\\S+)', 3) AS p3,
       |           regexp_extract(trim(date_str), '^(\\S+)\\s+(\\S+)\\s+(\\S+)\\s+(\\S+)', 4) AS p4
       |    FROM (VALUES $values) t(id, date_str)) s) u
       |ORDER BY id""".stripMargin
  }

  // ---- F6/F7: activity HTML tape parse -----------------------------------

  private[queries] def goldenHtml(price: String, action: String): String =
    "<div class=\"market_activity_line_item ellipsis\">\n\t" +
      "<span class=\"market_activity_placeholder\"></span>\n\t" +
      "<span class=\"market_activity_cell market_activity_price \">\n\t\t\t</span>\n\t" +
      s"<span class=\"market_activity_cell market_activity_price \">\n\t\t$price\t</span>\n\t" +
      "<span class=\"market_activity_cell market_activity_price \">\n\t\t\t</span>\n\t" +
      s"""<span class="market_activity_action">$action</span>\n</div>\n"""

  private val f7Golden: Seq[(Int, String)] = Seq(
    1 -> goldenHtml("0,85€", "Purchased"),
    2 -> goldenHtml("$12.50", "Listed"),
    3 -> goldenHtml("R$9,99", "Purchased"),   // '$' wins → USD path → strip → "R9.99" → null price
    4 -> goldenHtml("£5.99", "Listed"),
    5 -> "<div>no spans here</div>",
    6 -> goldenHtml("", "Purchased"),          // empty price cell
    7 -> null)

  def f7ParseActivity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    f7Golden.toDF("id", "html")
      .select(col("id"),
        SteamParsers.parseActivityHtmlUdf(col("html")).as("p"))
      .select(col("id"), col("p.price").as("price"),
        col("p.currency").as("currency"), col("p.action").as("action"))
      .orderBy(col("id"))
  }
  val f7Sql: String = {
    val values = f7Golden.map { case (i, v) =>
      if (v == null) s"($i, NULL)"
      else s"($i, '${v.replace("'", "''").replace("\n", "' || chr(10) || '").replace("\t", "' || chr(9) || '")}')"
    }.mkString(", ")
    val activityCase = "CASE " + Seq(
      "€" -> "EUR", "$" -> "USD", "£" -> "GBP", "¥" -> "JPY", "₽" -> "RUB",
      "R$" -> "BRL", "CDN$" -> "CAD", "A$" -> "AUD").map { case (sym, code) =>
      s"WHEN contains(p, '$sym') THEN '$code'"
    }.mkString(" ") + " ELSE NULL END"
    val symCase = "CASE " + Seq("€", "$", "£", "¥", "₽", "R$", "CDN$", "A$")
      .map(sym => s"WHEN contains(p, '$sym') THEN '$sym'").mkString(" ") +
      " ELSE '' END"
    // stage 1: extract candidate price strings; stage 2: per-candidate parse
    // (symbol strip + naive ','→'.' + python-float gate); stage 3: first hit.
    s"""SELECT id,
       |  parsed[1].price AS price,
       |  parsed[1].currency AS currency,
       |  CASE WHEN html IS NULL THEN NULL
       |       ELSE nullif(trim(regexp_extract(html, '<span class="market_activity_action">([^<]+)</span>', 1)), '') END AS action
       |FROM (
       |  SELECT id, html,
       |    list_filter(
       |      list_transform(
       |        list_transform(
       |          list_transform(
       |            regexp_extract_all(coalesce(html, ''), '<span class="market_activity_cell market_activity_price[^"]*">\\s*([^<]+?)\\s*</span>', 1),
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
       |      z -> z.price IS NOT NULL) AS parsed
       |  FROM (VALUES $values) t(id, html)) u
       |ORDER BY id""".stripMargin
  }

  // ---- F9: read-path re-parse --------------------------------------------

  private val f9Golden: Seq[(Int, String)] = Seq(
    1 -> "1,234.56", 2 -> "0.85", 3 -> "12.5", 4 -> "abc", 5 -> null, 6 -> "1,000")

  def f9PriceToFloat(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    f9Golden.toDF("id", "s")
      .select(col("id"), col("s"),
        SteamParsers.parsePriceToFloatUdf(col("s")).as("price"))
      .orderBy(col("id"))
  }
  val f9Sql: String = {
    val values = f9Golden.map { case (i, v) =>
      if (v == null) s"($i, NULL)" else s"($i, '$v')"
    }.mkString(", ")
    s"""SELECT id, s,
       |  CASE WHEN s IS NULL THEN NULL
       |       WHEN regexp_matches(replace(s, ',', ''), '$pyFloatRe')
       |       THEN TRY_CAST(replace(s, ',', '') AS DOUBLE) ELSE NULL END AS price
       |FROM (VALUES $values) t(id, s)
       |ORDER BY id""".stripMargin
  }

  // -------------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("f1_parse_price", f1ParsePrice, f1Sql),
    QueryDef("f2_minor_units", f2MinorUnits, f2Sql),
    QueryDef("f3_parse_volume", f3ParseVolume, f3Sql),
    QueryDef("f5_parse_datetime", f5ParseDatetime, f5Sql),
    QueryDef("f7_parse_activity", f7ParseActivity, f7Sql),
    QueryDef("f9_price_to_float", f9PriceToFloat, f9Sql))
}
