#!/usr/bin/env python3
"""Self-test of the benchmark: each workload once, traced, at minimum length.

    python3 perfbench/selftest.py

Asserts, for every workload:
  - every metric named in BENCHMARK.json (end-to-end and per-layer) is
    emitted with its unit;
  - no operation failed (ops_failed_frac is 0) and the correctness gate
    passed;
  - the span file exists and every span's parent resolves to a span;
  - for suite, the sidecar names a dominant layer for every query.
It also checks that a directory holding only BENCHMARK.json and the
benchmark's own files makes the runner fail without printing a result.
Exits 0 when every check holds.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
failures = []


def check(cond, msg):
    if not cond:
        failures.append(msg)
        print("FAIL", msg)


def run(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    check(out.returncode == 0, f"{workload}: exit {out.returncode}: {out.stderr[-1500:]}")
    if out.returncode != 0:
        return None
    lines = out.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    check(set(last) == {"correct", "attempted", "failed", "metrics"},
          f"{workload}: last line keys {sorted(last)}")
    detail = json.loads(lines[-2])
    with open(os.path.join(ROOT, detail["result_file"])) as f:
        return json.load(f)


def spans_resolve(path):
    with open(path) as f:
        spans = [json.loads(x) for x in f if x.strip()]
    ids = {s["id"] for s in spans}
    dangling = [s["id"] for s in spans if s["parent"] and s["parent"] not in ids]
    roots = [s["id"] for s in spans if not s["parent"]]
    kinds = {s["id"].rstrip("0123456789.") for s in spans}
    return spans, dangling, roots, kinds


def bare_checkout():
    """BENCHMARK.json and the benchmark's sources, without the engine."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bare = os.path.join(BENCH, "work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    skip = shutil.ignore_patterns("target", "work", "results")
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p), ignore=skip)
    out = subprocess.run(spec["command"] + ["--workload", spec["workloads"][0]["name"],
                                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    check(out.returncode != 0, "bare checkout: runner exited 0")
    check('"metrics"' not in out.stdout, "bare checkout: runner printed a result")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    bare_checkout()
    for w in [x["name"] for x in spec["workloads"]]:
        res = run(w)
        if res is None:
            continue
        for name, unit in wanted.items():
            got = res["metrics"].get(name)
            check(got is not None and got["unit"] == unit,
                  f"{w}: metric {name} missing or not in {unit}: {got}")
        check(res["detail"].get("ops_failed_frac") == 0, f"{w}: ops_failed_frac "
              f"{res['detail'].get('ops_failed_frac')}, failures {res['failures'][:5]}")
        check(res["correct"] and res["failed"] == 0, f"{w}: correctness gate failed")
        spans_path = os.path.join(BENCH, "results", os.path.basename(
            f"{w}-{res['env']['scale']}-s1-t1.json.spans.jsonl"))
        check(os.path.exists(spans_path), f"{w}: no span file")
        if os.path.exists(spans_path):
            spans, dangling, roots, kinds = spans_resolve(spans_path)
            check(not dangling, f"{w}: spans with unresolved parents: {dangling[:5]}")
            check(roots == ["run"], f"{w}: span roots {roots[:5]}")
            check({"op", "job", "stage"} <= kinds, f"{w}: span kinds {sorted(kinds)}")
        if w == "suite":
            queries = {n for n, v in res["op_ms"].items() if "cold" in v}
            check(queries and queries <= set(res["dominant_layer"]),
                  f"suite: dominant layer missing for {sorted(queries - set(res['dominant_layer']))}")
    print("selftest:", "ok" if not failures else f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
