#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize the spread.

    python3 perfbench/sweep.py --out DIR [--workloads a,b] [--seeds 1-10] [--trace 0|1]

Each run's full record goes to DIR/<workload>-<seed>[-trace].json (the
harness's --out file). The summary gives, per workload and end-to-end
metric, the median over the seeds and the spread: the distance between
the first and third quartile as a share of the median, the statistic the
bounds in BENCHMARK.json are set against.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    p = argparse.ArgumentParser()
    p.add_argument("--out", required=True)
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", default="0")
    a = p.parse_args()
    os.makedirs(a.out, exist_ok=True)
    suffix = "-trace" if a.trace == "1" else ""
    for w in a.workloads.split(","):
        values = {}
        for s in seeds(a.seeds):
            path = os.path.join(a.out, f"{w}-{s}{suffix}.json")
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", a.trace, "--out", path],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = (r.stdout.strip().splitlines() or ["{}"])[-1]
            res = json.loads(last) if last.startswith("{") else {}
            print(f"{w} seed {s}: exit {r.returncode} correct={res.get('correct')} "
                  f"failed={res.get('failed')}/{res.get('attempted')} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()
                           if a.trace == "0"), flush=True)
            for k, v in res.get("metrics", {}).items():
                values.setdefault(k, []).append(v["value"])
        if a.trace == "1":
            continue
        for m in bench["end_to_end"]:
            xs = values.get(m["name"], [])
            if len(xs) < 2:
                continue
            med, sp = spread(xs)
            verdict = "ok" if sp < m["bound"] / 3 else "WIDE"
            print(f"  {w} {m['name']}: median {med:.4g} {m['unit']}, spread {sp:.3f} "
                  f"(bound {m['bound']}, {verdict}) n={len(xs)}")


if __name__ == "__main__":
    main()
