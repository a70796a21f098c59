#!/usr/bin/env python3
"""Market-data engine benchmark: serve / ingest / analytics.

    python3 marketbench/run.py --workload serve|ingest|analytics \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark's JVM harness from source (build.py; cached under marketbench/target,
keyed by a hash of the sources). Each run then generates its inputs from
--seed, starts one JVM for the workload, checks every operation's answer
against the generator's ground truth (serve, ingest) or the DuckDB oracle
(analytics), and prints one JSON object as the last line of stdout:
end-to-end metrics untraced (--trace 0), per-layer metrics traced (--trace 1).
See marketbench/README.md for what each workload and metric is for.
"""
import argparse
import collections
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build   # noqa: E402
import gen     # noqa: E402
import stats   # noqa: E402

TARGET = build.TARGET
DEADLINE_S = 170          # every run must end within 180 s
HEAP = "2g"               # -Xms = -Xmx, so the heap is never resized
YOUNG = "256m"            # fixed young generation: GC cadence does not adapt
                          # per run, and peak RSS follows the pages the
                          # workload retains instead of an eden that G1
                          # would grow across most of the heap

# Warm-up and measurement are counted in operations, so every run of one
# seed times the same sample set. Per 10 s of --seconds a run measures 48
# requests, 24 poll cycles, or two passes of the 16-query list. That is
# about the most a run budget of 45 s affords (an ingest cycle is one
# ~0.6 s micro-batch per query), and it leaves 10 or more samples beyond
# the median, the highest percentile the benchmark reports. Serve warms
# up with 16 requests: after 8, each class's first timed requests were
# still 40-90% slower than its last. Longer warm-ups for ingest and
# analytics (8 cycles, two passes) did not narrow their spread over ten
# seeds and cost 4-5 s a run, so they keep 3 cycles and one pass.
SERVE_WARM, SERVE_BLOCKS = 16, 2
INGEST_WARM, INGEST_BLOCK = 3, 24
ANALYTICS_WARM_PASSES, ANALYTICS_PASSES = 1, 2

# The analytics list: the reference's documented analytics (latest-per-key,
# rollup, windowed counts, range series, OHLC, bounded top-k, watermarks,
# the F-parser and wire silvers), then one query from each other query
# family, taken from the family's cheaper half of steady times in the
# engine's batch bench so that a warm pass and two timed passes fit the run
# budget. The graph, search, similarity, sequence, journey and data-quality
# families are left out for the same budget: their cheapest members cost
# 0.4-1 s warm and up to 4 s cold each.
ANALYTICS_QUERIES = [
    "w1_latest_event_per_user", "a8_daily_rollup", "a5_windowed_counts",
    "o2_range_scan", "ts_ohlc", "w2_top200_orders", "a1_watermarks",
    "f1_parse_price", "f5_parse_datetime", "f7_parse_activity", "s8_silver_overview",
    "q3_shipping_priority", "a15_rollup", "mm_decode_wav", "sample_stratified",
    "dedup_exact",
]

JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
              "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def log(msg):
    print(f"[marketbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---------------------------------------------------------------------------
# one JVM run
# ---------------------------------------------------------------------------

def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


def run_jvm(classpath, workload, run_dir, trace, warm, measure, started):
    inp, out, work = (os.path.join(run_dir, d) for d in ("in", "out", "work"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Xmn{YOUNG}",
            "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JAVA_OPENS]
           + ["-cp", classpath, "graft.bench.Main", "--workload", workload,
              "--in", inp, "--out", out, "--work", work, "--cpus", str(cpus()),
              "--trace", "1" if trace else "0", "--warm", str(warm), "--measure", str(measure)])
    logf = open(os.path.join(run_dir, "jvm.log"), "w")
    # two malloc arenas instead of up to 8 per core: native memory, and so
    # peak RSS, no longer depends on how many threads happened to allocate
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True, env=env)
    try:
        p.wait(timeout=max(10.0, DEADLINE_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError("JVM run exceeded the time limit")
    finally:
        logf.close()
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise BenchError(f"JVM exited with {p.returncode}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    return res, read_tsv(os.path.join(out, "ops.tsv"))


def read_tsv(path):
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        head = f.readline().rstrip("\n").split("\t")
        return [dict(zip(head, l.rstrip("\n").split("\t"))) for l in f if l.strip()]


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

def check_serve(ops, expected):
    bad = [o for o in ops if o["answer"] != expected[int(o["op"])]]
    for o in bad[:5]:
        log(f"serve op {o['op']} ({o['kind']}): got {o['answer']!r} "
            f"want {expected[int(o['op'])]!r}")
    return len(bad)


def check_ingest(ops, truth, res):
    bad = 0
    for o in ops:
        want = ";".join(truth["pushes"][int(o["op"])])
        if o["answer"] != want:
            bad += 1
            if bad <= 5:
                log(f"ingest cycle {o['op']}: pushed {o['answer'][:200]!r} want {want[:200]!r}")
    sc = res["store_check"]
    want = {"history_rows": truth["history_rows"],
            "history_price_milli": truth["history_price_milli"]}
    store_ok = all(sc[k] == v for k, v in want.items())
    if not store_ok:
        log(f"ingest store: got {sc} want {want}")
    return bad, store_ok


def _canon_spark(v):
    if isinstance(v, list):
        return tuple(_canon_spark(x) for x in v)
    if isinstance(v, str):
        tag, _, body = v.partition(":")
        if tag == "S":
            return body
        if tag == "D":
            return float(body)
        if tag == "F":
            import numpy as np
            return float(np.float32(body))
        if tag == "N":
            return float(body)
        if tag == "T":
            return ("ts", int(body))
        if tag == "DT":
            return ("date", int(body))
        if tag == "B":
            return body
        raise BenchError(f"unknown value encoding {v[:40]!r}")
    return v


def _canon_duck(v):
    import datetime as dt
    import decimal
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - dt.datetime(1970, 1, 1)
        return ("ts", d.days * 86400_000_000 + d.seconds * 1_000_000 + d.microseconds)
    if isinstance(v, dt.date):
        return ("date", (v - dt.date(1970, 1, 1)).days)
    if isinstance(v, (list, tuple)):
        return tuple(_canon_duck(x) for x in v)
    if isinstance(v, dict):
        return tuple(_canon_duck(x) for x in v.values())
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and a != a and b != b:
        return True
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def check_analytics(ops, run_dir):
    """Compare every distinct result the engine produced with DuckDB's result
    for the query's oracle SQL over the same generated tables."""
    import duckdb
    inp, out = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for fn in sorted(os.listdir(inp)):
        if fn.endswith(".parquet"):
            con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM '{os.path.join(inp, fn)}'")
    verdict, expected = {}, {}
    bad = 0
    for o in ops:
        name, ans = o["kind"], o["answer"]
        if ans.startswith("ERROR"):
            bad += 1
            log(f"analytics {name}: {ans[:200]}")
            continue
        key = f"{name}-{ans}"
        if key not in verdict:
            if name not in expected:
                r = con.sql(oracle[name])
                cols = [c for c in r.columns]
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                expected[name] = ([cols[i] for i in order],
                                  [tuple(_canon_duck(row[i]) for i in order) for row in r.fetchall()])
            with open(os.path.join(out, "results", key + ".jsonl"), encoding="utf-8") as f:
                lines = f.read().split("\n")
            cols = json.loads(lines[0])
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            rows = [json.loads(l) for l in lines[1:] if l]
            got = [tuple(_canon_spark(r[i]) for i in order) for r in rows]
            ecols, erows = expected[name]
            ok = [cols[i] for i in order] == ecols and len(got) == len(erows) and \
                all(_same(g, e) for g, e in zip(got, erows))
            verdict[key] = ok
            if not ok:
                log(f"analytics {name}: result differs from the DuckDB oracle "
                    f"({len(got)} vs {len(erows)} rows)")
        bad += 0 if verdict[key] else 1
    return bad


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end(workload, res, ops):
    plain = [int(o["lat_ns"]) / 1e6 for o in ops if o["phase"] == "plain"]
    if workload == "analytics":
        # The timed ops are 16 different queries, and a percentile across
        # them falls on the gap between two queries' latencies, jumping when
        # their order changes. The typical query latency of a pass is the
        # geometric mean, which weighs each query once; report its median
        # over the timed passes.
        passes = collections.defaultdict(list)
        for o in ops:
            if o["phase"] == "plain":
                passes[int(o["op"]) // 1000].append(math.log(int(o["lat_ns"]) / 1e6))
        p50 = stats.median([math.exp(sum(v) / len(v)) for v in passes.values()])
    else:
        p50 = stats.percentile(plain, 50)
    # bytes the engine wrote to disk per row: the store files that serve's
    # set-up and ingest's cycles landed, or analytics' shuffle and spill
    # files per timed pass per input row
    if workload == "analytics":
        stored = res["disk_bytes_per_pass"] / res["input_rows"]
    else:
        stored = res["store_bytes"] / res["store_rows"]
    return {
        "setup_s": (res["session_s"] + stats.median(res["setup_reps_s"]), "s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
        "throughput": (res["plain_units"] / res["plain_wall_s"], "1/s"),
        "p50_ms": (p50, "ms"),
        "stored_bytes_per_row": (stored, "B"),
    }


# Per-layer metrics: every traced run reports all of them; a layer the
# workload does not exercise reads 0.
API_ENDPOINTS = ["overview", "orderbook", "activity", "history_week", "history_month",
                 "history_all", "meta", "exists"]
SELF_LAYERS = ["op", "api", "store", "streams", "queries", "engine"]


def per_layer(workload, res, ops, run_dir, ingest_truth):
    out = os.path.join(run_dir, "out")
    traced = [o for o in ops if o["phase"] == "traced"]
    n_ops = max(len(traced), 1)
    eng = read_tsv(os.path.join(out, "engine.tsv"))
    op_ids = {o["op"] for o in traced}
    eng = [e for e in eng if e["op"] in op_ids]
    spans = [{"id": int(s["id"]), "parent": int(s["parent"]), "op": int(s["op"]),
              "name": s["name"], "start": int(s["start_ns"]), "end": int(s["end_ns"])}
             for s in read_tsv(os.path.join(out, "spans.tsv"))]
    by_name = collections.defaultdict(list)
    for s in spans:
        by_name[s["name"]].append((s["end"] - s["start"]) / 1e6)

    def med(xs):
        return stats.median(xs) if xs else 0.0

    def tot(k):
        return sum(int(e[k]) for e in eng)

    m = {}
    # engine
    jobs_by_op = collections.defaultdict(list)
    for s in spans:
        if s["name"] == "engine.job":
            jobs_by_op[s["op"]].append((s["start"], s["end"]))
    gaps = [(s["end"] - s["start"] - stats.covered(
        [(max(a, s["start"]), min(b, s["end"])) for a, b in jobs_by_op.get(s["op"], [])
         if min(b, s["end"]) > max(a, s["start"])])) / 1e6
        for s in spans if s["parent"] == 0]
    plan = res.get("plan", {})
    m["engine.jobs_per_op"] = tot("jobs") / n_ops
    m["engine.tasks_per_op"] = tot("tasks") / n_ops
    m["engine.plan_ms"] = plan.get("plan_ms", 0) / max(plan.get("actions", 0), 1)
    m["engine.sched_wait_ms"] = tot("sched_ms") / n_ops
    m["engine.driver_gap_ms"] = med(gaps)
    m["engine.executor_run_ms"] = tot("run_ms") / n_ops
    m["engine.gc_ms"] = tot("gc_ms") / n_ops
    m["engine.shuffle_write_bytes"] = tot("shuffle_bytes") / n_ops
    m["engine.spill_bytes"] = tot("spill_bytes") / n_ops
    # api
    for ep in API_ENDPOINTS:
        m[f"api.{ep}_ms"] = med(by_name.get(f"api.{ep}", []))
    result_rows = res.get("traced_result_rows", 0)
    m["api.rows_scanned_per_row"] = (plan.get("scan_rows", 0) / result_rows
                                     if workload == "serve" and result_rows else 0.0)
    # store
    reads = len(by_name.get("store.read", []))
    m["store.read_partitions_per_call"] = plan.get("scan_partitions", 0) / reads if reads else 0.0
    m["store.read_files_per_call"] = plan.get("scan_files", 0) / reads if reads else 0.0
    m["store.append_ms"] = med(by_name.get("store.append", []))
    st_rows = read_tsv(os.path.join(out, "streams.tsv"))
    delta = res.get("store_delta", {})
    landed = sum(int(r["state_updated"]) for r in st_rows if r["query"] == "store")
    m["store.files_written_per_batch"] = delta.get("files", 0) / n_ops if delta else 0.0
    m["store.bytes_written_per_row"] = delta.get("bytes", 0) / landed if landed else 0.0
    # wire
    w = res.get("wire")
    m["wire.silver_ms_per_krow"] = w["silver_ms"] / (w["payloads"] / 1000.0) if w else 0.0
    m["wire.rows_out_per_row_in"] = w["rows_out"] / w["payloads"] if w else 0.0
    m["wire.unparsed_rows"] = float(w["unparsed"]) if w else 0.0
    # streams
    for k in ["trigger", "add_batch", "query_planning", "wal_commit", "commit_offsets"]:
        m[f"streams.{k}_ms"] = med([int(r[f"{k}_ms"]) for r in st_rows])
    m["streams.jobs_per_batch"] = (sum(int(r["jobs"]) for r in st_rows) / len(st_rows)
                                   if st_rows else 0.0)
    dedup = [r for r in st_rows if r["query"] == "store"]
    m["streams.state_rows"] = med([int(r["state_rows"]) for r in dedup])
    m["streams.late_dropped"] = (sum(int(r["late_dropped"]) for r in dedup) / len(dedup)
                                 if dedup else 0.0)
    points_in = sum(ingest_truth["history_points"][int(o["op"])] for o in traced) \
        if ingest_truth else 0
    m["streams.kept_ratio"] = (sum(int(r["state_updated"]) for r in dedup) / points_in
                               if points_in else 0.0)
    m["streams.push_ms"] = med(by_name.get("streams.push", []))
    # queries
    lat = collections.defaultdict(list)
    for o in traced:
        lat[o["kind"]].append(int(o["lat_ns"]) / 1e6)
    for q in ANALYTICS_QUERIES:
        m[f"queries.{q}_ms"] = med(lat.get(q, [])) if workload == "analytics" else 0.0
    passes = max(len(traced) / len(ANALYTICS_QUERIES), 1) if workload == "analytics" else 0
    m["queries.jobs_total"] = tot("jobs") / passes if passes else 0.0
    m["queries.sample_jobs"] = plan.get("range_exchanges", 0) / passes if passes else 0.0
    m["queries.shuffle_mb_total"] = tot("shuffle_bytes") / 2**20 / passes if passes else 0.0
    # self time per layer and the tracing overhead
    self_ns = stats.self_times(spans)
    layer_ns = collections.defaultdict(int)
    for s in spans:
        layer = "op" if s["parent"] == 0 else s["name"].split(".")[0]
        layer_ns[layer] += self_ns[s["id"]]
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms_per_op"] = layer_ns.get(layer, 0) / 1e6 / n_ops
    # untraced throughput is the mean of the phases before and after the
    # traced one, so warm-up drift across the three cancels
    untraced = (res["plain_units"] + res["plain2_units"]) / (res["plain_wall_s"] + res["plain2_wall_s"])
    m["trace.overhead_ratio"] = untraced / (res["traced_units"] / res["traced_wall_s"])
    return {k: (v, layer_unit(k)) for k, v in m.items()}


def layer_unit(name):
    if "bytes" in name:
        return "B"
    if name.endswith("_mb_total"):
        return "MB"
    if "_ms" in name:
        return "ms"
    if name.endswith(("_ratio", "_per_row", "_per_row_in")):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    classpath = build.classpath(log)
    started = time.time()   # the first run's build has its own allowance
    run_dir = os.path.join(TARGET, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp = os.path.join(run_dir, "in")
    os.makedirs(inp)
    trace = bool(a.trace)
    blocks = max(1, round(a.seconds / 10))
    try:
        truth = None
        if a.workload == "serve":
            warm, measure = SERVE_WARM, blocks * SERVE_BLOCKS * gen.SERVE_BLOCK
            expected = gen.gen_serve(a.seed, inp, warm,
                                        blocks * SERVE_BLOCKS * (3 if trace else 1))
        elif a.workload == "ingest":
            warm, measure = INGEST_WARM, blocks * INGEST_BLOCK
            truth = gen.gen_ingest(a.seed, inp, warm + measure * (3 if trace else 1))
        else:
            gen.gen_analytics(a.seed, inp)
            with open(os.path.join(inp, "queries.txt"), "w") as f:
                f.write("\n".join(ANALYTICS_QUERIES) + "\n")
            warm, measure = ANALYTICS_WARM_PASSES, blocks * ANALYTICS_PASSES
        res, ops = run_jvm(classpath, a.workload, run_dir, trace, warm, measure, started)

        if a.workload == "serve":
            failed = check_serve(ops, expected)
            store_ok = True
        elif a.workload == "ingest":
            failed, store_ok = check_ingest(ops, truth, res)
        else:
            failed = check_analytics(ops, run_dir)
            store_ok = True
        metrics = (per_layer(a.workload, res, ops, run_dir, truth) if trace
                   else end_to_end(a.workload, res, ops))
        result = {"correct": failed == 0 and store_ok and len(ops) > 0,
                  "attempted": len(ops), "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, build.BuildError, stats.TailTooShort) as e:
        log(f"error: {e}")
        sys.exit(2)
