#!/usr/bin/env python3
"""Paired A/B runs of one perfbench workload in two checkouts.

Usage: python3 tools/bench_ab.py --base DIR --change DIR --workload W
                                 --pairs N --seed0 S [--seconds 8]

Pair i runs `perfbench/run.py --workload W --seed S+i --seconds ...` once in
each checkout, the base first in even pairs and the change first in odd
ones, so both sides of a pair share a seed and a time window and neither
side always runs on a cooler or warmer host. Each checkout builds its own
engine on its first run (perfbench rebuilds only when sources change).

Prints, per end-to-end metric: the median of each side, the base side's
quartiles, and in how many pairs the change was better (the metric's
direction comes from BENCHMARK.json; metrics it does not list count a lower
value as better). Exits 1 when any run failed, printed no result, reported
`correct: false` or a failed operation; a noisy comparison is still exit 0.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, f"exit {r.returncode}, no result line"
    problems = []
    if r.returncode != 0:
        problems.append(f"exit {r.returncode}")
    if not result.get("correct", False):
        problems.append("correct=false")
    if result.get("failed", 0):
        problems.append(f"{result['failed']} failed of {result.get('attempted')}")
    return result, ", ".join(problems)


def directions(*checkouts):
    for c in checkouts:
        path = os.path.join(c, "BENCHMARK.json")
        if os.path.exists(path):
            with open(path) as f:
                spec = json.load(f)
            return {m["name"]: m["better"] for m in spec.get("end_to_end", [])}
    return {}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    a = ap.parse_args()
    sides = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    better = directions(sides["base"], sides["change"])

    runs = {"base": [], "change": []}  # one metrics dict (or None) per pair
    bad = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            result, problem = run_once(sides[side], a.workload, seed, a.seconds)
            metrics = {k: v["value"] for k, v in (result or {}).get("metrics", {}).items()
                       if isinstance(v.get("value"), (int, float))}
            runs[side].append(metrics if result else None)
            if problem:
                bad.append(f"pair {i} seed {seed} {side}: {problem}")
            shown = " ".join(f"{k}={v:g}" for k, v in sorted(metrics.items()))
            print(f"pair {i} seed {seed} {side}: {problem or 'ok'} {shown}",
                  file=sys.stderr, flush=True)

    names = sorted({k for side in runs.values() for m in side if m for k in m})
    print(f"{a.workload}: {a.pairs} pairs, seeds {a.seed0}..{a.seed0 + a.pairs - 1}")
    print(f"{'metric':<14} {'base p50':>12} {'change p50':>12} {'base q1':>12} "
          f"{'base q3':>12}  change better")
    for name in names:
        paired = [(b[name], c[name]) for b, c in zip(runs["base"], runs["change"])
                  if b and c and name in b and name in c]
        if not paired:
            continue
        base = [p[0] for p in paired]
        change = [p[1] for p in paired]
        higher = better.get(name, "lower") == "higher"
        wins = sum(1 for b, c in paired if (c > b if higher else c < b))
        q1, q3 = quartiles(base)
        print(f"{name:<14} {statistics.median(base):>12.4g} {statistics.median(change):>12.4g} "
              f"{q1:>12.4g} {q3:>12.4g}  {wins}/{len(paired)}"
              f" ({'higher' if higher else 'lower'} is better)")
    for line in bad:
        print(f"BAD {line}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
