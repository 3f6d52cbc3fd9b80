#!/usr/bin/env python3
"""Interleaved A/B of the perfbench workloads: a base commit against the
working tree.

    python3 tools/perf_ab.py [--base REV] [--pairs 10] [--workload grid_scan ...]
                             [--seed 5] [--seconds 15] [--trace]

The base commit (default: HEAD when the tree has uncommitted changes, else
HEAD's parent) is extracted with `git archive` into the temp dir (--workdir),
so each side builds the connector from its own sources. Pair i runs both
sides back to back, base first on even pairs and the working tree first on
odd ones, so a drift of the shared host hits both sides alike. For each
workload and end-to-end metric it prints each side's median and quartiles,
how many pairs the working tree won (by the metric's direction in
BENCHMARK.json), and whether the medians differ by more than the base's
interquartile range. It then prints each side's median per query kind: each
run's `ms.<kind>` latencies from its result.json, their median scaled by that
run's median host-speed loop (as op_ms is scaled), and the median of those
over the pairs, so a gain can be attributed to the kinds it came from.

With --trace it then runs one traced run (--trace 1) per side at --seconds 1,
where both sides run the same op list (two whole rounds), and prints every
per-layer metric of BENCHMARK.json for base and change.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def extract(rev, workdir):
    sha = git("rev-parse", rev)
    dest = os.path.join(workdir, f"perf_ab_{sha[:12]}")
    if not os.path.isdir(dest):
        os.makedirs(dest)
        archive = subprocess.run(["git", "-C", ROOT, "archive", sha], check=True,
                                 capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return sha, dest


def run(tree, workload, seed, seconds, trace=0):
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=tree, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"no result line from {tree} ({workload}):\n{out.stdout[-2000:]}"
                           f"\n{out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res.get("correct"):
        print(f"  WARNING: {tree} {workload} reported correct=false", flush=True)
    return {k: v["value"] for k, v in res["metrics"].items()}


def kind_ms(tree, workload, seed):
    """Per-kind median latency of the last untraced run, in ms at the
    reference host speed: the run's median host-speed loop scales it."""
    path = os.path.join(tree, "perfbench", "out", f"{workload}-seed{seed}-trace0", "result.json")
    with open(path) as fh:
        detail = json.load(fh)["detail"]
    scale = detail["host_loop_ref_ms"] / detail["host_loop_ms_median"]
    return {k[len("ms."):]: statistics.median(v) * scale
            for k, v in detail.items() if k.startswith("ms.") and v}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", help="base revision (default: HEAD if the tree is dirty, else HEAD^)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload", nargs="+", default=None)
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", action="store_true",
                    help="also print each per-layer metric of one traced run per side (--seconds 1)")
    ap.add_argument("--workdir", default=tempfile.gettempdir(),
                    help="where the base commit is extracted (default: the temp dir)")
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    dirty = git("status", "--porcelain", "--untracked-files=no") != ""
    base_rev = a.base or ("HEAD" if dirty else "HEAD^")
    sha, base_tree = extract(base_rev, a.workdir)
    print(f"base {base_rev} = {sha[:12]} in {base_tree}; change = working tree {ROOT}", flush=True)

    for w in workloads:
        base, change = [], []
        kinds = {"base": [], "change": []}
        for i in range(a.pairs):
            order = [("base", base_tree), ("change", ROOT)]
            if i % 2:
                order.reverse()
            for side, tree in order:
                m = run(tree, w, a.seed, a.seconds)
                (base if side == "base" else change).append(m)
                kinds[side].append(kind_ms(tree, w, a.seed))
                print(f"  {w} pair {i + 1}/{a.pairs} {side}: "
                      + ", ".join(f"{k}={v:.4g}" for k, v in m.items()), flush=True)
        print(f"\n{w}: {a.pairs} pairs, seed {a.seed}, --seconds {a.seconds}")
        print(f"  {'metric':<20} {'base q1/med/q3':>32} {'change q1/med/q3':>32} {'wins':>6}  beyond IQR")
        for metric, direction in (better.items() if a.pairs else ()):
            b = [m[metric] for m in base]
            c = [m[metric] for m in change]
            wins = sum((y < x) if direction == "lower" else (y > x) for x, y in zip(b, c))
            bq, cq = quartiles(b), quartiles(c)
            beyond = abs(cq[1] - bq[1]) > (bq[2] - bq[0])
            fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
            print(f"  {metric:<20} {fmt(bq):>32} {fmt(cq):>32} {wins:>3}/{a.pairs}  {beyond}")
        if a.pairs:
            print(f"  {'kind (ms, scaled)':<20} {'base median':>14} {'change median':>14} {'change/base':>12}")
            for kind in sorted(set().union(*kinds["base"], *kinds["change"])):
                b, c = ([k[kind] for k in kinds[side] if kind in k] for side in ("base", "change"))
                if b and c:
                    mb, mc = statistics.median(b), statistics.median(c)
                    print(f"  {kind:<20} {mb:>14.4g} {mc:>14.4g} {mc / mb:>12.3f}")
        print(flush=True)
        if a.trace:
            traced = {side: run(tree, w, a.seed, 1, trace=1)
                      for side, tree in (("base", base_tree), ("change", ROOT))}
            print(f"{w}: one traced run per side, seed {a.seed}, --seconds 1")
            print(f"  {'metric':<40} {'base':>16} {'change':>16}")
            for m in bench["per_layer"]:
                name = m["name"]
                vals = [traced[side].get(name) for side in ("base", "change")]
                print(f"  {name:<40} " + " ".join(f"{'-' if v is None else f'{v:.6g}':>16}" for v in vals))
            print(flush=True)


if __name__ == "__main__":
    main()
