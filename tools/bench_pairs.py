#!/usr/bin/env python3
"""Paired marketbench runs of two checkouts of this repo.

    python3 tools/bench_pairs.py BASE_DIR CHANGE_DIR --workload W --seeds 1-8

For each seed it runs `python3 marketbench/run.py --workload W --seed N
--seconds S --trace 0` once in BASE_DIR and once in CHANGE_DIR, one after
the other: base first on odd seeds, change first on even seeds, so a
drift of the host's load falls on both sides alike. Then it prints, for
every end-to-end metric that BENCHMARK.json declares, one row per pair
(base, change, change/base), each side's median and quartiles, the range
of the per-pair ratios, how many pairs the change wins, and every metric
whose change median is worse than the base median by more than the
metric's bound. A run that fails, answers incorrectly or fails
operations is named too. Exits 1 when anything is named, else 0.

--seeds takes a range (1-8) or a list (1,3,5). --seconds defaults to
BENCHMARK.json's run_seconds. BENCHMARK.json is read from CHANGE_DIR.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(checkout, workload, seed, seconds):
    """The last JSON line run.py prints, or None when there is none."""
    p = subprocess.run(
        [sys.executable, "marketbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    sys.stderr.write(f"{checkout} seed {seed}: exit {p.returncode}, no result\n"
                     f"{p.stderr[-2000:]}\n")
    return None


def quartiles(xs):
    if len(xs) < 2:
        return ""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return f"(q1 {q1:.4g}, q3 {q3:.4g})"


def worse_by(base, change, better):
    """How much worse `change` is than `base`, as a fraction of `base`."""
    if base == 0:
        return 0.0
    d = (change - base) / base
    return d if better == "lower" else -d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "analytics"])
    ap.add_argument("--seeds", default="1-8")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    metrics = bench["end_to_end"]

    pairs, named = [], []
    for seed in seeds_of(a.seeds):
        order = ["base", "change"] if seed % 2 else ["change", "base"]
        got = {}
        for side in order:
            got[side] = run(getattr(a, side), a.workload, seed, seconds)
            r = got[side]
            if r is None:
                named.append(f"seed {seed} {side}: no result")
            elif not r.get("correct") or r.get("failed"):
                named.append(f"seed {seed} {side}: correct={r.get('correct')} "
                             f"failed={r.get('failed')}/{r.get('attempted')}")
        if got["base"] and got["change"]:
            pairs.append((seed, got["base"]["metrics"], got["change"]["metrics"]))
            print(f"seed {seed} done ({' then '.join(order)})", flush=True)

    print(f"\n{a.workload}: {len(pairs)} pairs")
    for m in metrics:
        name = m["name"]
        rows = [(s, b[name]["value"], c[name]["value"]) for s, b, c in pairs
                if name in b and name in c]
        if not rows:
            continue
        print(f"\n{name} ({m['unit']}, {m['better']} is better, bound {m['bound']:.0%})")
        for s, b, c in rows:
            ratio = f"{c / b:.3f}" if b else "-"
            print(f"  seed {s}: base {b:.4g}  change {c:.4g}  ratio {ratio}")
        bs, cs = [b for _, b, _ in rows], [c for _, _, c in rows]
        mb, mc = statistics.median(bs), statistics.median(cs)
        ratios = [c / b for _, b, c in rows if b]
        span = f"{min(ratios):.3f}..{max(ratios):.3f}" if ratios else "-"
        wins = sum((c < b) if m["better"] == "lower" else (c > b) for _, b, c in rows)
        print(f"  median: base {mb:.4g} {quartiles(bs)}  change {mc:.4g} {quartiles(cs)}")
        print(f"  ratio range {span}; change better in {wins} of {len(rows)} pairs")
        w = worse_by(mb, mc, m["better"])
        if w > m["bound"]:
            named.append(f"{name}: change median worse by {w:.1%} (bound {m['bound']:.0%})")

    print()
    for n in named:
        print(f"NAMED {n}")
    if not named:
        print("every end-to-end metric within its bound; every run correct")
    return 1 if named else 0


if __name__ == "__main__":
    sys.exit(main())
