#!/usr/bin/env python3
"""Benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from the checkout's sources (once per
source state, into .bench_build/), then runs the workload in a fresh JVM
with one task slot per processor. A run starts two JVMs in turn: one that
generates (or finds cached) the inputs, then one that sets up cold from
process start (setup_s) and measures. Prints one line per metric (name, value,
unit, sample count) and, as the last line, one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer metrics
(the traced run also writes a spans file under .bench_build/traces/).
Exits non-zero, without a result line, when the run cannot be made, and
with code 1 when an output disagrees with its reference.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170  # all JVMs of one run, after the build
BUILD_TIMEOUT_S = 700  # with one run (170 s) inside the 900 s a first run may take

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def source_stamp():
    h = hashlib.sha256()
    for f in sorted(source_files()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    return env


def build():
    """Compiles once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "build-stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (sbt compile)")
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        die("build timed out")
    if proc.returncode != 0:
        sys.stderr.write(out[-6000:])
        die("build failed")
    lines = [ln.strip() for ln in out.splitlines()
             if "sbt-target" in ln and ".jar" in ln and not ln.startswith("[")]
    if not lines:
        sys.stderr.write(out[-3000:])
        die("no classpath in the build output")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def stop(proc):
    """Stops a child and everything it started, then waits for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def run_jvm(cp, settings, args, slots, mode, deadline):
    """Runs one benchmark JVM to its end; returns its result JSON."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(BUILD, "results", f"{args.workload}-{args.seed}-{mode}.json")
    if os.path.exists(out):
        os.remove(out)
    # a fixed heap: the collector's pace, and so the throughput, does not
    # depend on how far the heap happened to grow
    cmd = [java, f"-Xms{settings['driver_heap']}", f"-Xmx{settings['driver_heap']}",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--slots", str(slots), "--mode", mode,
            "--out", out, "--root", BUILD,
            "--settings", os.path.join(HERE, "settings.json")]
    # few malloc arenas, so native memory does not depend on how many
    # threads happened to allocate; Spark's scratch space stays in the
    # checkout whatever the caller's environment says
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS", "LOCAL_DIRS")}
    env["MALLOC_ARENA_MAX"] = "2"
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop(proc)
        die(f"{args.workload} run timed out")
    stop(proc)
    if not os.path.exists(out):
        die(f"{args.workload} {mode} JVM wrote no result (exit {proc.returncode})")
    with open(out) as f:
        res = json.load(f)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no engine sources (src/main/scala/graft) in this checkout")
    if not os.path.exists(spec_file):
        die("no BENCHMARK.json in this checkout")
    with open(spec_file) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    slots = len(os.sched_getaffinity(0))  # what nproc reports

    cp = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    prep = run_jvm(cp, settings, args, slots, "prepare", deadline)
    # what the previous run and the input generation wrote reaches the disk
    # now, not during the timed segment
    os.sync()
    res = run_jvm(cp, settings, args, slots, "run", deadline)
    res["info"]["input_generation_s"] = prep["info"]["input_generation_s"]
    res["correct"] = res["correct"] and prep["correct"]
    res["mismatches"] += prep["mismatches"]

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layers"] if args.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        got = source.get(m["name"])
        if got is None:
            die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        print(f"{m['name']:<36} {got['value']:>18.6f} {m['unit']:<8} samples={got['samples']}")
    for k, v in res["info"].items():
        print(f"# {k}: {v}")
    for msg in res["mismatches"]:
        print(f"# MISMATCH: {msg}")
    failed = int(res["failed"])
    correct = bool(res["correct"]) and failed == 0
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
