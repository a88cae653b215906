#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload suite|serve|ingest --seed N \
        --seconds S --trace 0|1

Builds the engine and the harness from source with sbt on first use
(cached under perfbench/target, keyed by a digest of the sources), runs
the workload in one JVM, and prints a detail line and then, as the last
line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. The full result, with the environment it ran in, is kept in
perfbench/results/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
RESULTS = os.path.join(BENCH, "results")
RUN_LIMIT_S = 170   # the whole run, build excluded, must end within 180 s
BUILD_LIMIT_S = 840
HEAP = "3g"
SCALE = "sf0.001"   # the bundled data set under perfbench/data


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    # keep what sbt writes inside the checkout: no hsperfdata file, no
    # boot lock, no server socket, and native stubs and temp files under
    # target/ rather than the home or the system temp directory
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -XX:-UsePerfData"
                       f" -Djna.tmpdir={os.path.join(TARGET, 'jna')}"
                       f" -Djava.io.tmpdir={tmp} -Dsbt.boot.lock=false"
                       " -Dsbt.server.autostart=false").strip()
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    env["TMPDIR"] = tmp
    return env


def build(digest):
    """Compile with sbt unless the launch spec of these sources exists."""
    spec = os.path.join(TARGET, "launch.txt")
    stamp = os.path.join(TARGET, "launch.digest")
    if os.path.exists(spec) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return spec
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        try:
            rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           BENCH, out, BUILD_LIMIT_S, sbt_env())
        except FileNotFoundError:
            die(3, "sbt not found on PATH")
    if rc != 0 or not os.path.exists(spec):
        with open(log) as f:
            tail = f.read()[-3000:]
        die(3, f"build failed (exit {rc}); see {log}\n{tail}")
    with open(stamp, "w") as f:
        f.write(digest)
    return spec


def run_group(cmd, cwd, out, limit, env=None):
    """Run a command in its own process group; kill the group on timeout
    and wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def cpu_times():
    """Aggregate CPU time counters (/proc/stat), or None where there are none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two
    readings: a run on a busy host reads slower by about this much."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else None


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["suite", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the observed output hashes instead of checking them")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec_json = json.load(f)
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(2, f"no engine sources here ({need} is missing)")
    data = os.path.join(BENCH, "data", SCALE)
    if not os.path.isdir(data):
        die(2, f"no data set {SCALE}")

    digest = source_digest()
    spec = build(digest)
    with open(spec) as f:
        lines = [x for x in f.read().splitlines() if x.strip()]
    classpath, flags = lines[0], lines[1:]

    tag = f"{a.workload}-{SCALE}-s{a.seed}-t{a.trace}"
    work = os.path.join(BENCH, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(RESULTS, tag + ".json")
    for stale in (out, out + ".spans.jsonl"):
        if os.path.exists(stale):
            os.remove(stale)
    expected = os.path.join(BENCH, "expected", SCALE + ".json")

    load_start = os.getloadavg()
    cpu_start = cpu_times()
    t0 = time.time()
    # no hsperfdata file in the system temp dir: the run writes only here
    cmd = ["java", *flags, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--work", work, "--out", out,
           "--expected", expected, "--record", "1" if a.record else "0",
           "--fingerprint", os.path.join(TARGET, f"fingerprint-{SCALE}.json")]
    log = os.path.join(BENCH, "work", tag + ".log")
    with open(log, "w") as jvm_out:
        rc = run_group(cmd, BENCH, jvm_out, RUN_LIMIT_S)
    wall = time.time() - t0
    shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        die(4, f"run exceeded {RUN_LIMIT_S}s and was stopped; see {log}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        die(4, f"harness exited {rc}; see {log}\n{tail}")

    with open(out) as f:
        res = json.load(f)
    res["env"].update({
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "cpu_steal_frac": steal_frac(cpu_start, cpu_times()),
        "nproc": os.cpu_count(), "git_commit": git_commit(), "source_digest": digest,
        "scale": SCALE, "heap": HEAP, "run_wall_s": wall})
    with open(out, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)

    wanted = spec_json["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            die(5, f"metric {m['name']} missing or not in {m['unit']}: {got}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": res["detail"],
                      "failures": res["failures"][:10], "env": res["env"],
                      "fingerprint": res["fingerprint"], "result_file": os.path.relpath(out, ROOT)}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
