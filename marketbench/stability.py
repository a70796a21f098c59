#!/usr/bin/env python3
"""Stability report for the benchmark's end-to-end metrics.

Collect a set of runs (one run per seed per workload, --trace 0):

    python3 marketbench/stability.py collect --out setA.jsonl \
        --workloads serve,ingest,analytics --seeds 1-10

Report one set, or compare two sets of runs of the same code:

    python3 marketbench/stability.py report setA.jsonl [setB.jsonl]

For each metric x workload the report prints each set's median, quartiles
and spread (interquartile distance / median), and the difference between
the sets' medians as a share of the first. Every metric, setup_s included,
is judged by one rule against its bound in BENCHMARK.json: each set's
spread and the difference between the medians must stay within the bound.
The report exits 1 if any row fails. The bounds in BENCHMARK.json are
read off this output.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def load_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def collect(a):
    cfg = load_config()
    with open(a.out, "a") as out:
        for w in a.workloads.split(","):
            for s in seeds(a.seeds):
                cmd = cfg["command"] + ["--workload", w, "--seed", str(s),
                                        "--seconds", str(cfg["run_seconds"]), "--trace", "0"]
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
                last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "null"
                rec = {"workload": w, "seed": s, "exit": p.returncode,
                       "result": json.loads(last) if p.returncode == 0 else None}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                ok = rec["result"] and rec["result"]["correct"]
                print(f"{w} seed {s}: exit {p.returncode} correct {bool(ok)}", file=sys.stderr)


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r["result"]:
                for k, v in r["result"]["metrics"].items():
                    runs.setdefault((r["workload"], k), []).append(v["value"])
    return runs


def report(a):
    cfg = load_config()
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    sets = [load(p) for p in a.sets]
    print(f"{'workload':10} {'metric':22} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7}" + (f" {'median2':>12} {'spread2':>7} {'diff':>7}" if len(sets) > 1 else "")
          + "  verdict")
    all_ok = True
    for (w, k) in sorted(sets[0]):
        if k not in bounds:
            continue
        b = bounds[k]
        row, notes = [], []
        for i, s in enumerate(sets):
            vals = s.get((w, k), [])
            if len(vals) < 4:
                notes.append(f"set{i + 1}: {len(vals)} runs")
                row.append(None)
                continue
            q1, q2, q3, rel = stats.spread(vals)
            row.append((len(vals), q2, q1, q3, rel))
            if rel > b:
                notes.append(f"spread{i + 1} > bound {b}")
        line = f"{w:10} {k:22}"
        if row[0]:
            n, q2, q1, q3, rel = row[0]
            line += f" {n:3d} {q2:12.4f} {q1:12.4f} {q3:12.4f} {rel:7.3f}"
        if len(row) > 1 and row[0] and row[1]:
            diff = (row[1][1] - row[0][1]) / row[0][1]
            line += f" {row[1][1]:12.4f} {row[1][4]:7.3f} {diff:+7.3f}"
            if abs(diff) > b:
                notes.append(f"medians differ by more than bound {b}")
        all_ok = all_ok and not notes
        print(line + "  " + ("ok" if not notes else "; ".join(notes)))
    return 0 if all_ok else 1


def main():
    ap = argparse.ArgumentParser(description="benchmark stability report")
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--workloads", default="serve,ingest,analytics")
    c.add_argument("--seeds", default="1-10")
    r = sub.add_parser("report")
    r.add_argument("sets", nargs="+")
    a = ap.parse_args()
    sys.exit(collect(a) if a.cmd == "collect" else report(a))


if __name__ == "__main__":
    main()
