#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BEFORE_DIR AFTER_DIR

Each directory holds result files written by run.py (perfbench/results/
of two checkouts, say). Results are grouped by workload and trace mode;
for every metric the median of each side and their ratio are printed.
Runs are only paired when their data fingerprint and nproc agree: two
sides measured on different data or a different core count are refused
(exit 2).
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        if path.endswith(".observed.json"):
            continue
        with open(path) as f:
            r = json.load(f)
        out.setdefault((r["workload"], bool(r["trace"])), []).append(r)
    return out


def identity(runs):
    return {json.dumps(r["fingerprint"], sort_keys=True) for r in runs}, \
        {r["env"]["nproc"] for r in runs}


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 1
    before, after = load(argv[1]), load(argv[2])
    for key in sorted(set(before) & set(after)):
        fa, na = identity(before[key])
        fb, nb = identity(after[key])
        if len(fa | fb) != 1 or len(na | nb) != 1:
            print(f"{key[0]}: refusing to compare: fingerprints {sorted(fa | fb)}, "
                  f"nproc {sorted(na | nb)}")
            return 2
        print(f"== {key[0]} ({'traced' if key[1] else 'untraced'}): "
              f"{len(before[key])} vs {len(after[key])} runs")
        names = sorted(set(before[key][0]["metrics"]) & set(after[key][0]["metrics"]))
        for n in names:
            a = statistics.median(r["metrics"][n]["value"] for r in before[key])
            b = statistics.median(r["metrics"][n]["value"] for r in after[key])
            ratio = f"{b / a:7.3f}" if a else "      -"
            print(f"  {n:34s} {a:12.5g} {b:12.5g} {ratio} {before[key][0]['metrics'][n]['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
