#!/usr/bin/env python3
"""Check how steady the end-to-end metrics are across seeds.

    python3 perfbench/steady.py [--runs 10] [--sets 1] [--first-seed 1] [workload ...]

Runs each workload once per seed, untraced, and prints for every
end-to-end metric its median and the spread: the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of the
median. A metric is steady when its spread stays below a third of its
bound in BENCHMARK.json; setup_s is held to the same rule. With
--sets 2 or more, each set takes the next --runs seeds, and every
metric's median must also agree with the first set's within its bound,
in the direction that would count as worse.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run_set(spec, workload, seeds):
    """Metric values of one run per seed; None if a run did not finish."""
    values = {m["name"]: [] for m in spec["end_to_end"]}
    ok = True
    for seed in seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            print(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return None, False
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"] or res["failed"]:
            print(f"{workload} seed {seed}: correct={res['correct']} failed={res['failed']}")
            ok = False
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
        print(f"{workload} seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    return values, ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    steady = True
    medians = {}
    for s in range(a.sets):
        for w in names:
            first = a.first_seed + s * a.runs
            values, ok = run_set(spec, w, range(first, first + a.runs))
            if values is None:
                return 1
            steady = steady and ok
            for m in spec["end_to_end"]:
                xs = values[m["name"]]
                med = statistics.median(xs)
                q = statistics.quantiles(xs, n=4)
                spread = (q[2] - q[0]) / med
                good = spread < m["bound"] / 3
                line = (f"set {s + 1} {w:8s} {m['name']:16s} median {med:10.4g} {m['unit']:5s} "
                        f"spread {spread:6.3f} bound/3 {m['bound'] / 3:6.3f} "
                        f"{'ok' if good else 'WIDE'}")
                if s > 0:
                    base = medians[(w, m["name"])]
                    worse = (med - base) / base if m["better"] == "lower" else (base - med) / base
                    agrees = worse <= m["bound"]
                    good = good and agrees
                    line += f"  vs set 1 {worse:+7.3f} {'ok' if agrees else 'DRIFT'}"
                else:
                    medians[(w, m["name"])] = med
                steady = steady and good
                print(line, flush=True)
    return 0 if steady else 2


if __name__ == "__main__":
    sys.exit(main())
