#!/usr/bin/env python3
"""Interleaved A/B of the benchmark between two checkouts.

    python3 tools/ab.py --base DIR --change DIR --workload NAME --seeds 1,2,3
                        [--seconds S] [--trace 0|1] [--out FILE.jsonl]

For each seed, runs `python3 perfbench/run.py` once in each checkout,
alternating which checkout goes first (the first seed starts with the
base), so a drift in the host's speed lands on both sides. Then, for
every metric the records carry, prints each side's median and quartiles
and how many seed pairs the change won, in the direction BENCHMARK.json
declares for that metric. Beside the win count, each end-to-end metric
gets a verdict against its BENCHMARK.json bound (a relative share):
"WORSE" when the change's median is worse than the base's by more than
the bound, "unresolved" when the base's IQR/median exceeds the bound (the
runs spread too widely to tell), "ok" otherwise. With --out, every record
is also appended to FILE as one JSON line {"side", "seed", "record"}.

Exits 1 if any run reports "correct": false or "failed" > 0, or ends
without a record; 0 otherwise. The verdicts do not change the exit code.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def directions(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench, {m["name"]: m["better"]
                   for m in bench["end_to_end"] + bench.get("per_layer", [])}


def verdict(base, change, way, bound):
    """ok / WORSE / unresolved for one end-to-end metric (see the module doc)."""
    b, c = statistics.median(base), statistics.median(change)
    lo, hi = quartiles(sorted(base))
    worse = c - b if way == "lower" else b - c
    if worse > bound * abs(b):
        return "WORSE"
    if hi - lo > bound * abs(b):
        return "unresolved"
    return "ok"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated, e.g. 1,2,3")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out")
    a = ap.parse_args()
    bench, better = directions(a.change)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = a.seconds or bench["run_seconds"]
    seeds = [int(s) for s in a.seeds.split(",") if s]
    sides = {"base": a.base, "change": a.change}
    pairs = []  # (base record, change record) per seed that ran on both sides
    bad = []
    for i, seed in enumerate(seeds):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        got = {}
        for side in order:
            r = run(sides[side], a.workload, seed, seconds, a.trace)
            if r is None:
                bad.append(f"{side} seed {seed}: no record")
                continue
            if not r.get("correct") or r.get("failed", 0) > 0:
                bad.append(f"{side} seed {seed}: correct={r.get('correct')} "
                           f"failed={r.get('failed')}/{r.get('attempted')}")
            got[side] = r
            print(f"# {side} seed {seed}: attempted {r.get('attempted')} "
                  f"failed {r.get('failed')} correct {r.get('correct')}", flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, "record": r}) + "\n")
        if len(got) == 2:
            pairs.append((got["base"], got["change"]))
    names = sorted({m for b, _ in pairs for m in b["metrics"]})
    print(f"{'metric':40} {'base median [q1-q3]':>32} {'change median [q1-q3]':>32} "
          f"{'change wins':>11} {'verdict':>10}")
    for m in names:
        got = [(b["metrics"].get(m), c["metrics"].get(m)) for b, c in pairs]
        got = [(b["value"], c["value"]) for b, c in got if b and c]
        if not got:
            continue
        cols = []
        for xs in (sorted(b for b, _ in got), sorted(c for _, c in got)):
            lo, hi = quartiles(xs)
            cols.append(f"{statistics.median(xs):.4g} [{lo:.4g}-{hi:.4g}]")
        way = better.get(m)
        wins = "" if way is None else str(sum(
            1 for b, c in got if (c < b if way == "lower" else c > b))) + f"/{len(got)}"
        judged = "" if m not in bounds else verdict(
            [b for b, _ in got], [c for _, c in got], way, bounds[m])
        print(f"{m:40} {cols[0]:>32} {cols[1]:>32} {wins:>11} {judged:>10}")
    for line in bad:
        print(f"BAD: {line}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
