"""Seeded input generators for the three benchmark workloads.

Every input the engine sees comes from here, and every expected answer the
benchmark checks against is derived here from the same draws, never from the
engine. One seed always yields byte-identical files (tests/test_gen.py).

  serve      tables staged for the store build + a closed-loop request list
  ingest     poll cycles of raw wire JSON from the four Steam endpoints
  analytics  a TPC-H-like star schema + events/documents/embeddings tables
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
AS_OF = dt.datetime(2024, 6, 1, 0, 0, 0)  # the serve store's "now"
HOUR = dt.timedelta(hours=1)


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _secs(t):
    return int((t - EPOCH).total_seconds())


def _cents(x):
    return int(round(x * 100))


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _write_jsonl(rows, path):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=False, separators=(",", ":")))
            f.write("\n")


def item_names(n):
    wears = ["Factory New", "Minimal Wear", "Field-Tested", "Well-Worn", "Battle-Scarred"]
    return [f"Case {i:03d} | {wears[i % len(wears)]}" for i in range(n)]


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

SERVE_ITEMS = 32        # tracked registry size; the first 28 are enabled
SERVE_ENABLED = 28
SERVE_HIST_DAYS = 60    # hourly price_history depth = 60 date partitions, past
                        # the 32 paths at which a read lists them with a job
SERVE_OVERVIEW_EVERY = dt.timedelta(minutes=30)
SERVE_OVERVIEW_N = 240  # > ReadApi.OverviewLimit, so the cap applies
SERVE_SNAPSHOTS = 48    # hourly histogram / activity snapshots per item
META_WINDOW_S = 3600

# Request mix: exact counts per block of SERVE_BLOCK requests, shuffled per
# block, so every run times the same class composition. Sorted by latency a
# block runs exists/overview (9), orderbook (6), activity (3), then the six
# range or multi-table reads, so the median falls mid-way through the
# orderbook class rather than on a boundary between two classes.
SERVE_MIX = [
    ("overview", 6), ("orderbook", 6), ("activity", 3), ("exists", 3),
    ("history_week", 2), ("history_month", 1), ("history_all", 2), ("meta", 1),
]
SERVE_BLOCK = sum(n for _, n in SERVE_MIX)
SERVE_404_SHARE = 0.3   # share of `exists` requests for unknown/disabled names


def gen_serve(seed, out_dir, n_warm, n_blocks):
    """Stage the serve tables as parquet, write the request list (n_warm
    warm-up requests, then n_blocks blocks of SERVE_MIX), and return the
    expected answer summary of each request, in order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 1)
    names = item_names(SERVE_ITEMS)
    currencies = ["USD", "EUR", "GBP"]

    tracked = pa.table({
        "market_hash_name": names,
        "stream": ["priceoverview"] * SERVE_ITEMS,
        "enabled": [i < SERVE_ENABLED for i in range(SERVE_ITEMS)],
    })

    hist_end = AS_OF.replace(minute=0) - HOUR
    n_hist = SERVE_HIST_DAYS * 24
    h_name, h_time, h_price, h_vol = [], [], [], []
    history = {}
    for name in names:
        p0 = float(rng.uniform(0.5, 400.0))
        steps = rng.normal(0.0, 0.01, n_hist)
        prices = np.round(p0 * np.exp(np.cumsum(steps)), 2)
        prices = np.maximum(prices, 0.03)
        vols = rng.integers(1, 900, n_hist)
        times = [hist_end - (n_hist - 1 - k) * HOUR for k in range(n_hist)]
        history[name] = list(zip(times, prices.tolist(), vols.tolist()))
        h_name += [name] * n_hist
        h_time += times
        h_price += prices.tolist()
        h_vol += vols.tolist()
    _write_parquet(pa.table({
        "market_hash_name": h_name,
        "time": pa.array(h_time, pa.timestamp("us", tz="UTC")),
        "price": pa.array(h_price, pa.float64()),
        "volume": pa.array(h_vol, pa.int32()),
    }), os.path.join(out_dir, "price_history.parquet"))

    overview, histogram, activity = {}, {}, {}
    o_cols = {k: [] for k in ["market_hash_name", "timestamp", "currency",
                              "lowest_price", "median_price", "volume"]}
    g_cols = {k: [] for k in ["market_hash_name", "timestamp", "highest_buy_order",
                              "lowest_sell_order", "buy_order_count",
                              "sell_order_count", "currency"]}
    a_cols = {k: [] for k in ["market_hash_name", "timestamp",
                              "parsed_activities", "activity_count"]}
    for i, name in enumerate(names):
        cur = currencies[i % 3]
        off = dt.timedelta(minutes=int(rng.integers(1, 29)))
        rows = []
        for k in range(SERVE_OVERVIEW_N):
            t = AS_OF - off - k * SERVE_OVERVIEW_EVERY
            lo = round(float(rng.uniform(0.5, 400.0)), 2)
            row = (t, cur, lo, round(lo * 1.05, 2), int(rng.integers(0, 5000)))
            rows.append(row)
            for c, v in zip(o_cols, (name,) + row):
                o_cols[c].append(v)
        overview[name] = rows
        rows = []
        for k in range(SERVE_SNAPSHOTS):
            t = AS_OF - off - k * HOUR
            hb = round(float(rng.uniform(0.5, 300.0)), 2)
            row = (t, hb, round(hb + float(rng.uniform(0.01, 5.0)), 2),
                   int(rng.integers(1, 20000)), int(rng.integers(1, 20000)), cur)
            rows.append(row)
            for c, v in zip(g_cols, (name,) + row):
                g_cols[c].append(v)
        histogram[name] = rows
        rows = []
        for k in range(SERVE_SNAPSHOTS):
            t = AS_OF - off - k * HOUR - dt.timedelta(seconds=30)
            n_ev = int(rng.integers(5, 90))
            evs = [{"price": round(float(rng.uniform(0.5, 400.0)), 2),
                    "currency": cur,
                    "action": "Purchased" if rng.random() < 0.5 else "Listed"}
                   for _ in range(n_ev)]
            rows.append((t, evs))
            a_cols["market_hash_name"].append(name)
            a_cols["timestamp"].append(t)
            a_cols["parsed_activities"].append(evs)
            a_cols["activity_count"].append(n_ev)
        activity[name] = rows

    ts = pa.timestamp("us", tz="UTC")
    _write_parquet(pa.table({**o_cols, "timestamp": pa.array(o_cols["timestamp"], ts),
                             "volume": pa.array(o_cols["volume"], pa.int32())}),
                   os.path.join(out_dir, "price_overview.parquet"))
    _write_parquet(pa.table({**g_cols, "timestamp": pa.array(g_cols["timestamp"], ts),
                             "buy_order_count": pa.array(g_cols["buy_order_count"], pa.int32()),
                             "sell_order_count": pa.array(g_cols["sell_order_count"], pa.int32())}),
                   os.path.join(out_dir, "orders_histogram.parquet"))
    ev_type = pa.list_(pa.struct([("price", pa.float64()), ("currency", pa.string()),
                                  ("action", pa.string())]))
    _write_parquet(pa.table({
        "market_hash_name": a_cols["market_hash_name"],
        "timestamp": pa.array(a_cols["timestamp"], ts),
        "parsed_activities": pa.array(a_cols["parsed_activities"], ev_type),
        "activity_count": pa.array(a_cols["activity_count"], pa.int32()),
    }), os.path.join(out_dir, "orders_activity.parquet"))
    _write_parquet(tracked, os.path.join(out_dir, "tracked.parquet"))

    # request list: endpoint by the fixed mix, item by a seeded Zipf
    enabled = names[:SERVE_ENABLED]
    order = rng.permutation(SERVE_ENABLED)
    weights = 1.0 / np.arange(1, SERVE_ENABLED + 1) ** 1.1
    weights /= weights.sum()
    block = [e for e, n in SERVE_MIX for _ in range(n)]
    eps = []
    while len(eps) < n_warm:
        eps += [block[i] for i in rng.permutation(SERVE_BLOCK)]
    eps = eps[:n_warm]
    for _ in range(n_blocks):
        eps += [block[i] for i in rng.permutation(SERVE_BLOCK)]
    n_ops = len(eps)
    item_idx = order[rng.choice(SERVE_ENABLED, size=n_ops, p=weights)]
    miss = rng.random(n_ops) < SERVE_404_SHARE
    unknown = [f"Unknown Item {k:04d}" for k in range(64)] + names[SERVE_ENABLED:]

    last_ingest = max(max(r[0] for r in overview[n]) for n in names)
    last_ingest = max(last_ingest, max(max(r[0] for r in histogram[n]) for n in names),
                      max(max(r[0] for r in activity[n]) for n in names))
    cutoff = AS_OF - dt.timedelta(seconds=META_WINDOW_S)
    in_window = sum(1 for tab in (overview, histogram, activity)
                    for n in names for r in tab[n] if r[0] >= cutoff)
    meta_expect = f"{SERVE_ENABLED}|{_secs(last_ingest)}|{in_window}"

    ops, expected = [], []
    for k in range(n_ops):
        ep = eps[k]
        name = enabled[item_idx[k]]
        if ep == "exists" and miss[k]:
            name = unknown[int(rng.integers(0, len(unknown)))]
        ops.append({"ep": ep, "item": name})
        expected.append(serve_expect(ep, name, history, overview, histogram,
                                     activity, enabled, meta_expect))
    _write_jsonl(ops, os.path.join(out_dir, "ops.jsonl"))
    with open(os.path.join(out_dir, "serve.json"), "w") as f:
        json.dump({"as_of": AS_OF.strftime("%Y-%m-%d %H:%M:%S"),
                   "meta_window_s": META_WINDOW_S}, f)
    return expected


def serve_expect(ep, name, history, overview, histogram, activity, enabled,
                 meta_expect):
    """The answer summary the JVM must report for one request (format shared
    with graft.bench.Serve.summary)."""
    if ep == "overview":
        rows = sorted(overview[name], key=lambda r: r[0], reverse=True)[:200]
        return f"{len(rows)}|{_secs(rows[0][0])}|{_cents(rows[0][2])}|{_cents(rows[-1][2])}"
    if ep == "orderbook":
        r = max(histogram[name], key=lambda r: r[0])
        return f"{_secs(r[0])}|{_cents(r[1])}|{_cents(r[2])}|{r[3]}"
    if ep == "activity":
        t, evs = max(activity[name], key=lambda r: r[0])
        tail = evs[-50:]
        return f"{_secs(t)}|{len(tail)}|{_cents(tail[0]['price'])}|{_cents(tail[-1]['price'])}"
    if ep.startswith("history_"):
        days = {"history_week": 7, "history_month": 30, "history_all": None}[ep]
        pts = history[name]
        if days is not None:
            lo = AS_OF - dt.timedelta(days=days)
            pts = [p for p in pts if p[0] >= lo]
        return f"{len(pts)}|{_secs(pts[0][0])}|{_secs(pts[-1][0])}|{sum(p[2] for p in pts)}"
    if ep == "meta":
        return meta_expect
    if ep == "exists":
        return "1" if name in enabled else "0"
    raise ValueError(ep)


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

INGEST_ITEMS = 16
INGEST_H0 = 48          # hours of history each item has before the first cycle
INGEST_LATENESS_H = 3   # deltaAppendDedup watermark delay
INGEST_REDELIVER = 2    # history payloads delivered twice in every cycle
INGEST_STALE = 1        # history payloads per cycle that show last poll's view
INGEST_T0 = dt.datetime(2024, 3, 1, 0, 0, 0)
_SYMBOL = {"USD": "$", "EUR": "€", "GBP": "£"}


def _locale_price(x, cur):
    """Steam-style locale formatting of a price: $1,234.56 / 1.234,56€ / £12.34"""
    whole, frac = divmod(_cents(x), 100)
    if cur == "EUR":
        s = f"{whole:,}".replace(",", ".")
        return f"{s},{frac:02d}€"
    s = f"{whole:,}"
    return f"{_SYMBOL[cur]}{s}.{frac:02d}"


def _locale_int(n, cur):
    s = f"{n:,}"
    return s.replace(",", ".") if cur == "EUR" else s


_MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()


def _steam_date(t):
    """Steam's history date, e.g. "Mar 01 2024 05: +0" (locale-independent)."""
    return f"{_MONTHS[t.month - 1]} {t.day:02d} {t.year} {t.hour:02d}: +0"


def _activity_html(price_str, action):
    return ("<div class=\"market_activity_line_item ellipsis\">\n\t"
            "<span class=\"market_activity_placeholder\"></span>\n\t"
            "<span class=\"market_activity_cell market_activity_price \">\n\t\t\t</span>\n\t"
            f"<span class=\"market_activity_cell market_activity_price \">\n\t\t{price_str}\t</span>\n\t"
            f"<span class=\"market_activity_action\">{action}</span>\n</div>\n")


def gen_ingest(seed, out_dir, n_cycles):
    """Write cycles.jsonl (one line per wire payload, tagged with its cycle)
    and return expected per-cycle pushes plus end-of-run store totals."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 2)
    names = item_names(INGEST_ITEMS)
    curs = ["USD", "EUR", "GBP"]
    total_h = INGEST_H0 + n_cycles
    series = {}
    for name in names:
        p0 = float(rng.uniform(0.5, 300.0))
        prices = np.maximum(np.round(p0 * np.exp(np.cumsum(rng.normal(0, 0.01, total_h))), 3), 0.03)
        vols = rng.integers(1, 3000, total_h)
        series[name] = [(INGEST_T0 + k * HOUR, float(prices[k]), int(vols[k]))
                        for k in range(total_h)]

    lines = []
    delivered = set()
    pushes = []        # per cycle: sorted list of "item|secs|price_milli|vol"
    history_points = []  # silver rows offered to the dedup per cycle
    for c in range(n_cycles):
        poll = INGEST_T0 + (INGEST_H0 - 1 + c) * HOUR + dt.timedelta(minutes=5)
        cycle = []
        latest = {}
        stale = set(rng.choice(INGEST_ITEMS, INGEST_STALE, replace=False)) if c > 0 else set()
        twice = set(rng.choice(INGEST_ITEMS, INGEST_REDELIVER, replace=False))
        for i, name in enumerate(names):
            cur = curs[i % 3]
            sym = _SYMBOL[cur]
            upto = INGEST_H0 + c            # points visible in this poll
            if i in stale:
                upto -= 1                   # stale view: one poll late
            pts = series[name][:upto]
            hist = {"success": True, "price_prefix": "" if cur == "EUR" else sym,
                    "price_suffix": sym if cur == "EUR" else "",
                    "prices": [[_steam_date(t), p, _locale_int(v, cur)] for t, p, v in pts]}
            for t, p, v in pts:
                if (name, t) not in delivered:
                    delivered.add((name, t))
                    if name not in latest or t > latest[name][0]:
                        latest[name] = (t, p, v)
            lo = round(float(rng.uniform(0.5, 300.0)), 2)
            ov = {"success": True, "lowest_price": _locale_price(lo, cur),
                  "median_price": _locale_price(lo * 1.04, cur),
                  "volume": _locale_int(int(rng.integers(1, 90000)), cur)}
            hb = int(rng.integers(50, 30000))
            book = {"success": "1",
                    "sell_order_count": _locale_int(int(rng.integers(1, 40000)), cur),
                    "buy_order_count": _locale_int(int(rng.integers(1, 40000)), cur),
                    "highest_buy_order": str(hb), "lowest_sell_order": str(hb + int(rng.integers(1, 500))),
                    "sell_order_table": [{"price": _locale_price((hb + 10 * k) / 100, cur),
                                          "quantity": str(int(rng.integers(1, 50)))} for k in range(5)],
                    "buy_order_table": [{"price": _locale_price((hb - 10 * k) / 100, cur),
                                         "quantity": str(int(rng.integers(1, 50)))} for k in range(5)],
                    "buy_order_graph": [[str((hb - 10 * k) / 100), str(k + 1), f"{k + 1} buy orders"] for k in range(4)],
                    "sell_order_graph": [[str((hb + 10 * k) / 100), str(k + 1), f"{k + 1} sell orders"] for k in range(4)],
                    "price_prefix": "" if cur == "EUR" else sym,
                    "price_suffix": sym if cur == "EUR" else ""}
            act = {"success": "1", "timestamp": _secs(poll),
                   "activity": [_activity_html(
                       f"{sym}{rng.uniform(0.5, 300.0):.2f}" if cur != "EUR"
                       else f"{rng.uniform(0.5, 300.0):.2f}€".replace(".", ","),
                       "Purchased" if rng.random() < 0.5 else "Listed")
                       for _ in range(int(rng.integers(3, 12)))]}
            for ep, body in (("price_history", hist), ("price_overview", ov),
                             ("orders_histogram", book), ("orders_activity", act)):
                payload = json.dumps(body, ensure_ascii=False, separators=(",", ":"))
                rec = {"cycle": c, "endpoint": ep, "item": name,
                       "poll_ts": poll.strftime("%Y-%m-%d %H:%M:%S"), "payload": payload}
                cycle.append(rec)
                if ep == "price_history" and i in twice:
                    cycle.append(rec)   # re-delivered in the same cycle
        lines += cycle
        history_points.append(sum(len(json.loads(r["payload"])["prices"]) for r in cycle
                                  if r["endpoint"] == "price_history"))
        pushes.append(sorted(f"{n}|{_secs(t)}|{int(round(p * 1000))}|{v}"
                             for n, (t, p, v) in latest.items()))
    _write_jsonl(lines, os.path.join(out_dir, "cycles.jsonl"))
    with open(os.path.join(out_dir, "ingest.json"), "w") as f:
        json.dump({"cycles": n_cycles, "lateness": f"{INGEST_LATENESS_H} hours"}, f)
    landed = len(delivered)
    price_milli = sum(int(round(series[n][k][1] * 1000)) for n, k in
                      ((n, int((t - INGEST_T0) / HOUR)) for n, t in delivered))
    return {"pushes": pushes, "history_points": history_points,
            "history_rows": landed, "history_price_milli": price_milli}


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

ANALYTICS_LINEITEM = 60000


def gen_analytics(seed, out_dir, n_lineitem=ANALYTICS_LINEITEM):
    """TPC-H-like tables with the column set and value domains the engine's
    query registry reads (same shape as its sf testdata)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 3)
    n_orders = n_lineitem // 4
    n_cust = max(n_lineitem // 40, 150)
    n_part = max(n_lineitem // 30, 200)
    n_supp = max(n_lineitem // 600, 10)
    n_events = max(n_lineitem // 6, 1000)
    n_users = max(n_events // 66, 15)
    ts = pa.timestamp("us")
    day = np.timedelta64(1, "D")

    def days(lo, hi, n):
        base = np.datetime64(lo)
        span = int((np.datetime64(hi) - base) / day)
        return (base + rng.integers(0, span + 1, n) * day).astype("datetime64[us]")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    w = lambda t, name: _write_parquet(t, os.path.join(out_dir, name + ".parquet"))
    w(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}), "region")
    w(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}), "nation")
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    w(pa.table({"c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}), "customer")
    w(pa.table({"s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_supp)}), "supplier")
    adj = np.array(["blue", "old", "small", "new", "hot", "large", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    w(pa.table({"p_partkey": pa.array(range(n_part), pa.int64()),
                "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                      noun[rng.integers(0, 8, n_part)]),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": types[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}), "part")
    statuses = np.array(["P", "O", "F"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    w(pa.table({"o_orderkey": pa.array(range(n_orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
                "o_orderstatus": statuses[rng.integers(0, 3, n_orders)],
                "o_totalprice": money(1000.0, 500000.0, n_orders),
                "o_orderdate": pa.array(days("1995-01-01", "2001-08-01", n_orders), ts),
                "o_orderpriority": prios[rng.integers(0, 5, n_orders)]}), "orders")
    okeys = np.sort(rng.integers(0, n_orders, n_lineitem))
    lineno = np.zeros(n_lineitem, dtype=np.int32)
    for k in range(1, n_lineitem):
        if okeys[k] == okeys[k - 1]:
            lineno[k] = lineno[k - 1] + 1
    flags = np.array(["A", "N", "R"])
    lstat = np.array(["O", "F"])
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    w(pa.table({"l_orderkey": pa.array(okeys, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_lineitem), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_lineitem), pa.int64()),
                "l_linenumber": pa.array(lineno + 1, pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lineitem), 2),
                "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
                "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
                "l_returnflag": flags[rng.integers(0, 3, n_lineitem)],
                "l_linestatus": lstat[rng.integers(0, 2, n_lineitem)],
                "l_shipdate": pa.array(days("1995-01-02", "2001-11-04", n_lineitem), ts)}),
      "lineitem")
    etypes = np.array(["click", "signup", "error", "view", "purchase"])
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events)).astype("timedelta64[us]"))
    w(pa.table({"event_id": pa.array(range(n_events), pa.int64()),
                "ts": pa.array(ev_ts, ts),
                "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
                "event_type": etypes[rng.integers(0, 5, n_events)],
                "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}), "events")
    vocab = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
             "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
             "the", "value", "vector", "window"]
    langs = ["en"] * 3 + ["zh", "de", "fr", "es"]
    n_docs = 500
    texts = []
    for d in range(n_docs):
        if d >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, d))])   # exact duplicates
        else:
            texts.append(" ".join(vocab[k] for k in rng.integers(0, len(vocab), int(rng.integers(10, 90)))))
    w(pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": [langs[k] for k in rng.integers(0, len(langs), n_docs)],
                "source": [f"src{d % 20}" for d in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64())}), "documents")
    emb = rng.normal(0, 1, (500, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    w(pa.table({"vec_id": pa.array(range(500), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, 500), pa.int32())}), "embeddings")
