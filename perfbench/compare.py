#!/usr/bin/env python3
"""Compare two source trees of graft on the benchmark, in pairs.

    python3 perfbench/compare.py --parent ../graft-parent --change . --pairs 10

Both sides are measured with this benchmark's code (only the graft
sources under <tree>/src differ). Each pair runs every workload on both
sides with the same seed, alternating which side runs first. For every
workload and end-to-end metric it prints each side's median and
quartiles, the fraction of pairs the change won (ties count for
neither side) and a verdict:

  unresolved  a side's quartile spread, as a share of its median, is
              wider than the metric's bound
  worse       the change's median is worse than the parent's by more
              than the bound
  better      over at least ten pairs, the change won at least nine
              tenths of them and the medians differ by more than the
              parent's quartile spread
  same        none of the above
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(tree, workload, seed, trace):
    env = dict(os.environ, GRAFT_SRC_ROOT=os.path.abspath(tree))
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    p = subprocess.run(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{tree} {workload} seed {seed} failed:\n{p.stdout[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(metric, parent, change):
    bound, lower = metric["bound"], metric["better"] == "lower"
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    win_frac = wins / len(parent)
    spread = max((pq3 - pq1) / abs(pmed) if pmed else 0.0, (cq3 - cq1) / abs(cmed) if cmed else 0.0)
    worse = (cmed - pmed) / abs(pmed) if pmed else 0.0
    if not lower:
        worse = -worse
    if spread > bound:
        v = "unresolved"
    elif worse > bound:
        v = "worse"
    elif len(parent) >= 10 and win_frac >= 0.9 and abs(cmed - pmed) > (pq3 - pq1):
        v = "better"
    else:
        v = "same"
    return (pq1, pmed, pq3), (cq1, cmed, cq3), win_frac, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="source tree of the parent commit")
    ap.add_argument("--change", required=True, help="source tree of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--first-seed", type=int, default=1000)
    a = ap.parse_args()
    if a.pairs < 10:
        print("note: fewer than ten pairs cannot back a claim", file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in cfg["workloads"]]
    runs = {(side, w): [] for side in ("parent", "change") for w in workloads}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for w in workloads:
            for side in order:
                tree = a.parent if side == "parent" else a.change
                runs[(side, w)].append(run_once(tree, w, seed, 0))
            print(f"pair {i + 1}/{a.pairs} {w} done (first: {order[0]})", file=sys.stderr)
    print(f"{'workload':10} {'metric':14} {'parent q1/med/q3':>32} {'change q1/med/q3':>32} "
          f"{'wins':>5} verdict")
    for w in workloads:
        bad = [r for side in ("parent", "change") for r in runs[(side, w)] if not r["correct"]]
        for m in cfg["end_to_end"]:
            p = [r["metrics"][m["name"]]["value"] for r in runs[("parent", w)]]
            c = [r["metrics"][m["name"]]["value"] for r in runs[("change", w)]]
            pq, cq, win, v = verdict(m, p, c)
            print(f"{w:10} {m['name']:14} {'%.4g/%.4g/%.4g' % pq:>32} {'%.4g/%.4g/%.4g' % cq:>32} "
                  f"{win:5.2f} {v}")
        if bad:
            print(f"{w:10} {len(bad)} runs reported wrong answers")


if __name__ == "__main__":
    main()
