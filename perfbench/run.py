#!/usr/bin/env python3
"""Benchmark of the graft engine from outside: dashboard requests, the
daily COUNTER cycle and the corpus dedup pipeline.

    python3 perfbench/run.py --workload api_dashboard --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the engine and this
harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Inputs are generated from the seed (gen.py)
and cached under perfbench/.work/data. The last line of stdout is the
result: {"correct", "attempted", "failed", "metrics"} — end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. See NOTES.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks
import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")

# workload -> (input kind, input size)
WORKLOADS = {
    "api_dashboard": ("events", 300_000),
    "counter_batch": ("events", 60_000),
    "corpus_pipeline": ("corpus", 15_000),
}
HEAP = "-Xmx3g"
RUN_LIMIT_S = 175     # a run (build excluded) must end within this
BUILD_LIMIT_S = 850


def declared_metrics():
    """(end-to-end units, per-layer units) by name, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]}
                 for k in ("end_to_end", "per_layer"))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Everything the build compiles, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, cwd, env, limit_s, log_path):
    """Run cmd in its own process group; kill the group at the limit."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(limit_s, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=20):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(tree):
    """Compile engine + harness with sbt unless this tree is already built.
    Returns (classpath, jvm options)."""
    out = os.path.join(WORK, "build")
    stamp, launch = os.path.join(out, "tree"), os.path.join(out, "launch.txt")
    if os.path.exists(stamp) and os.path.exists(launch):
        with open(stamp) as f:
            if f.read().strip() == tree:
                return read_launch(launch)
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "sbt.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "compile", "launcher"], BENCH, env, BUILD_LIMIT_S, log)
    built = os.path.join(BENCH, "target", "launch.txt")
    if rc != 0 or not os.path.exists(built):
        fail(f"build failed (rc={rc}):\n{tail(log)}")
    shutil.copy(built, launch)
    with open(stamp, "w") as f:
        f.write(tree + "\n")
    return read_launch(launch)


def read_launch(path):
    with open(path) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    # the harness sets its own heap; everything else comes from the build
    return lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[min(len(s), max(1, math.ceil(q * len(s)))) - 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {BENCH}; run from a full checkout")

    e2e_units, layer_units = declared_metrics()
    tree = tree_hash()
    cp, jvm_opts = build(tree)
    t_start = time.monotonic()

    kind, size = WORKLOADS[a.workload]
    data, gen_s = gen.generate(os.path.join(WORK, "data"), kind, a.seed, size)

    out = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", HEAP, *jvm_opts, f"-Djava.io.tmpdir={out}/tmp", "-cp", cp,
           "perfbench.Main", "--workload", a.workload, "--data", data,
           "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--seed", str(a.seed), "--cores", str(cores)]
    log = os.path.join(out, "jvm.log")
    budget = RUN_LIMIT_S - (time.monotonic() - t_start) - 15
    rc = run_bounded(cmd, ROOT, os.environ, budget, log)
    if rc != 0:
        fail(f"workload run failed (rc={rc}):\n{tail(log)}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    plain = res["plain"]
    lat = plain["lat_ms"]
    if not lat:
        fail(f"no operation completed: {plain['errors']}")
    t_check = time.monotonic()
    report = checks.run(a.workload, data, res)
    check_s = time.monotonic() - t_check

    attempted, failed = plain["attempted"], plain["failed"]
    if res["traced"]:
        attempted += res["traced"]["window"]["attempted"]
        failed += res["traced"]["window"]["failed"]
    failed = min(attempted, failed + report["wrong"])

    if a.trace:
        traced = res["traced"]
        metrics = dict(traced["layers"])
        t_lat = traced["window"]["lat_ms"]
        metrics["trace.overhead_frac"] = (
            statistics.median(t_lat) / statistics.median(lat) - 1 if t_lat else 0.0)
        metrics["spark.storage_held_mb"] = res["storage_held_bytes"] / 2**20
        units = layer_units
    else:
        metrics = {
            "setup_s": statistics.median(res["setup_s"]),
            "op_p50_ms": statistics.median(lat),
            "items_per_s": plain["items"] / plain["wall_s"],
        }
        units = e2e_units
    missing = set(units) - set(metrics)
    if missing:
        fail(f"metrics missing: {sorted(missing)}")

    try:
        load = os.getloadavg()
    except OSError:
        load = None
    stamp = {"tree": tree, "nproc": cores, "loadavg": load, "seed": a.seed,
             "workload": a.workload, "seconds": a.seconds, "trace": a.trace,
             "input_size": size, "gen_s": gen_s, "check_s": check_s,
             "samples": len(lat), "op_p90_ms": quantile(lat, 0.9),
             "setup_s_all": res["setup_s"],
             "latency_ms_by_kind": res["checks"].get("latency_ms_by_kind"),
             "checks": report["details"], "errors": plain["errors"],
             "storage_held_rdds": res["storage_held_rdds"]}
    result = {"correct": report["wrong"] == 0 and failed == 0,
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                          for k in units}}
    with open(os.path.join(out, "artifact.json"), "w") as f:
        json.dump({"stamp": stamp, "result": result}, f, indent=1)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
