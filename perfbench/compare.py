#!/usr/bin/env python3
"""Compare two sets of benchmark results (parent vs change).

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records written by `run.py --out` (as
`sweep.py` lays them out). For every workload and metric the tool prints
both sides' median and quartiles, the pair wins of the change (runs
paired by seed), the regression check against the metric's bound in
BENCHMARK.json, "gain" only when the change wins at least 9 of 10 pairs
and the medians differ by more than the base's interquartile range, and
"unresolved" where either side's spread (interquartile range over median)
exceeds the bound and the two sides' runs overlap. Metrics without a
bound in BENCHMARK.json are printed without a verdict. It refuses to compare runs taken with different `nproc`, seeds or
benchmark versions. Exit code 1 when a metric regresses past its bound.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if "workload" in r and "result" in r:
            runs.append(r)
    if not runs:
        sys.exit(f"compare: no run records in {d}")
    return runs


def values(run):
    """A run's metrics: every end-to-end candidate the harness measured
    (its median), or, for a traced run, the per-layer metrics it printed."""
    if run["trace"]:
        return {k: v["value"] for k, v in run["result"]["metrics"].items()}
    return {k: v["median"] for k, v in run["end_to_end"].items()}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def identity(runs, side):
    keys = {(r["env"]["nproc"], r["env"]["benchmark_version"]) for r in runs}
    if len(keys) != 1:
        sys.exit(f"compare: {side} mixes nproc/benchmark versions {sorted(keys)}")
    return keys.pop()


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    base, new = load(sys.argv[1]), load(sys.argv[2])
    ib, inew = identity(base, "base"), identity(new, "change")
    if ib != inew:
        sys.exit(f"compare: refusing: nproc/benchmark version differ: base {ib}, change {inew}")
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    regressed = False
    for w in sorted({r["workload"] for r in base} | {r["workload"] for r in new}):
        for traced in (False, True):
            b = {r["seed"]: r for r in base if r["workload"] == w and r["trace"] == traced}
            n = {r["seed"]: r for r in new if r["workload"] == w and r["trace"] == traced}
            if not b and not n:
                continue
            if set(b) != set(n):
                sys.exit(f"compare: refusing: {w} seeds differ: base {sorted(b)}, change {sorted(n)}")
            seeds = sorted(b)
            print(f"== {w}{' (traced)' if traced else ''}: {len(seeds)} paired runs")
            print(f"  {'metric':34} {'base q1/med/q3':>28} {'change q1/med/q3':>28} "
                  f"{'wins':>6} {'delta':>8}  verdict")
            vb, vn = ({s: values(r) for s, r in side.items()} for side in (b, n))
            for k in vb[seeds[0]]:
                # a candidate BENCHMARK.json does not gate is compared without a bound
                m = metrics.get(k, {"better": "lower"})
                xb = [vb[s][k] for s in seeds]
                xn = [vn[s][k] for s in seeds]
                lower = m["better"] == "lower"
                wins = sum((y < x) if lower else (y > x) for x, y in zip(xb, xn))
                qb, qn = quartiles(xb), quartiles(xn)
                delta = (qn[1] - qb[1]) / qb[1] if qb[1] else 0.0
                worse = delta if lower else -delta
                bound = m.get("bound")
                verdict = ""
                if bound is not None:
                    spreads = [(q[2] - q[0]) / q[1] if q[1] else 0.0 for q in (qb, qn)]
                    separated = (max(xn) < min(xb)) if lower else (min(xn) > max(xb))
                    if worse > bound:
                        verdict, regressed = "REGRESSION", True
                    elif wins >= 9 * len(seeds) / 10 and worse < 0 and \
                            abs(qn[1] - qb[1]) > qb[2] - qb[0]:
                        verdict = "gain"
                    elif k != "setup_s" and max(spreads) > bound and not separated:
                        verdict = "unresolved"
                    else:
                        verdict = "flat"
                fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
                print(f"  {k:34} {fmt(qb):>28} {fmt(qn):>28} {wins:>3}/{len(seeds):<2} "
                      f"{delta:+8.1%}  {verdict}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
