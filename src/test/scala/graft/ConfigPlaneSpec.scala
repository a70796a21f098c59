package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ConfigPlane
import graft.sources.ConfigPlane.{GraftConfig, Limits, TrackingItem}

/** S5/S13 config-plane semantics: YAML-subset load, validity discard,
  * config→table reconcile plan, table→config writeback round-trip, and the
  * sha-256 loop guard. */
class ConfigPlaneSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  private val sample =
    """# config.yaml
      |
      |# SETTINGS
      |LIMITS:
      |  REQUESTS: 15
      |  WINDOW_SECONDS: 60
      |
      |# ITEMS
      |TRACKING_ITEMS:
      |- market_hash_name: Item Alpha (Field-Tested)
      |  appid: 730
      |  currency: 1
      |  country: US
      |  language: english
      |  polling-interval-in-seconds: 3600
      |  api_id: pricehistory
      |  item_nameid: 7178002
      |- market_hash_name: Item Beta
      |  appid: 730
      |  currency: 1
      |  country: US
      |  language: english
      |  polling-interval-in-seconds: 30
      |  api_id: priceoverview
      |- market_hash_name: Item Gamma Case
      |  appid: 730
      |  currency: 1
      |  country: US
      |  language: english
      |  polling-interval-in-seconds: 8
      |  api_id: itemordersactivity
      |""".stripMargin

  test("parse: limits, items, optional item_nameid, comments ignored") {
    val cfg = ConfigPlane.parse(sample)
    assert(cfg.limits == Limits(15, 60))
    assert(cfg.trackingItems.length == 3)
    val alpha = cfg.trackingItems.head
    assert(alpha.marketHashName == "Item Alpha (Field-Tested)")
    assert(alpha.pollIntervalSec == 3600 && alpha.apiId == "pricehistory")
    assert(alpha.itemNameid.contains(7178002L))
    assert(cfg.trackingItems(1).itemNameid.isEmpty)
  }

  test("validItems: histogram/activity without item_nameid discarded (loadConfig:100-116)") {
    val cfg = ConfigPlane.parse(sample)
    // Gamma is itemordersactivity with NO item_nameid -> discarded
    val valid = ConfigPlane.validItems(cfg)
    assert(valid.map(_.marketHashName) ==
      Seq("Item Alpha (Field-Tested)", "Item Beta"))
    // with the id present it survives
    val withId = cfg.copy(trackingItems = cfg.trackingItems.map(it =>
      if (it.marketHashName.startsWith("Item Gamma")) it.copy(itemNameid = Some(1L)) else it))
    assert(ConfigPlane.validItems(withId).length == 3)
  }

  test("syncOps: upsert desired, disable enabled-but-unlisted, never delete") {
    val s = spark
    import s.implicits._
    val cfg = ConfigPlane.parse(sample)
    val desired = ConfigPlane.desiredRows(s, cfg)
    assert(desired.select("stream").collect().map(_.getString(0)).toSet ==
      Set("pricehistory", "priceoverview"))
    val current = Seq(
      ("Item Alpha (Field-Tested)", "pricehistory", true),
      ("Item Stale", "priceoverview", true),
      ("Item Disabled", "histogram", false)) // already disabled: untouched
      .toDF("market_hash_name", "stream", "enabled")
    val ops = ConfigPlane.syncOps(current, desired)
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(ops("Item Alpha (Field-Tested)") == "upsert")
    assert(ops("Item Beta") == "upsert")
    assert(ops("Item Stale") == "disable")
    assert(!ops.contains("Item Disabled"))
  }

  test("render: preamble preserved, TRACKING_ITEMS rebuilt, parse round-trips") {
    val items = Seq(
      TrackingItem("Item Beta", 730, 1, "US", "english", 30, "priceoverview", None),
      TrackingItem("Item Alpha (Field-Tested)", 730, 1, "US", "english", 3600,
        "pricehistory", Some(7178002L)))
    val out = ConfigPlane.render(sample, items)
    // human-edited preamble (comments + LIMITS) survives verbatim
    assert(out.contains("# SETTINGS"))
    assert(out.contains("  REQUESTS: 15"))
    // items sorted by (name, stream); optional id present only when set
    val cfg2 = ConfigPlane.parse(out)
    assert(cfg2.limits == Limits(15, 60))
    assert(cfg2.trackingItems.map(_.marketHashName) ==
      Seq("Item Alpha (Field-Tested)", "Item Beta"))
    assert(cfg2.trackingItems.head.itemNameid.contains(7178002L))
    // a second render of the same state is byte-identical (stable writeback)
    assert(ConfigPlane.render(out, items) == out)
  }

  test("enabledItems: table rows back to config items via stream->api_id") {
    val s = spark
    import s.implicits._
    val tracked = Seq(
      ("Item A", "histogram", 730, 1, "US", "english", 8, Some(99L), true),
      ("Item B", "priceoverview", 730, 1, "US", "english", 30, None: Option[Long], false))
      .toDF("market_hash_name", "stream", "appid", "currency", "country",
        "language", "poll_interval_sec", "item_nameid", "enabled")
    val items = ConfigPlane.enabledItems(tracked)
    assert(items.length == 1)
    assert(items.head.apiId == "itemordershistogram") // stream mapped back
    assert(items.head.itemNameid.contains(99L))
  }

  test("parse: '#' inside a value is content, not a comment; malformed items discarded") {
    val cfg = ConfigPlane.parse(
      """TRACKING_ITEMS:
        |- market_hash_name: Sticker | Team#1  # trailing comment goes
        |  appid: 730
        |  currency: 1
        |  country: US
        |  language: english
        |  polling-interval-in-seconds: 30
        |  api_id: priceoverview
        |- market_hash_name: Broken Item
        |  appid: 730
        |  api_id: priceoverview
        |""".stripMargin)
    // one valid item survives (non-whitespace-preceded '#' is content,
    // the " # trailing" comment is stripped), the field-less one is
    // dropped instead of failing the whole load
    assert(cfg.trackingItems.map(_.marketHashName) == Seq("Sticker | Team#1"))
  }

  test("render: top-level keys BELOW the items block survive writeback") {
    val withTail = sample + "\nEXTRA_KEY: 42\n"
    val items = Seq(TrackingItem("Item Beta", 730, 1, "US", "english", 30,
      "priceoverview", None))
    val out = ConfigPlane.render(withTail, items)
    assert(out.contains("EXTRA_KEY: 42"))
    assert(out.indexOf("EXTRA_KEY") > out.indexOf("TRACKING_ITEMS"))
    // and the rewrite is still byte-stable
    assert(ConfigPlane.render(out, items) == out)
  }

  test("WritebackGuard: recognises its own echo, not foreign edits") {
    val g = new ConfigPlane.WritebackGuard
    assert(!g.isOwnEcho(sample))
    g.remember(sample)
    assert(g.isOwnEcho(sample))
    assert(!g.isOwnEcho(sample + "\n# human edit"))
  }
}
