#!/usr/bin/env python3
"""Forecast-pipeline benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload panel_local --seed 1 --seconds 18 --trace 0

The first run builds the library and the benchmark from source with sbt (the
benchmark's own build in perfbench/ depends on the repository's build) and
caches the runtime classpath under .bench_build/. Each run then starts one JVM
that generates a seeded panel, sets up, repeats warm cycles of forecasting
calls for --seconds and checks every output. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are BENCHMARK.json's end_to_end ones, with --trace 1 its
per_layer ones.
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
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every input of the build, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def driver_memory():
    """Heap for the driver JVM: half the machine's memory in whole GiB,
    clamped to [2, 8] (the rule the repository's test suite runs under)."""
    kib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    return f"{min(8, max(2, kib // 2097152))}g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def build():
    """Compile with sbt unless the cached classpath matches the sources.
    Returns (classpath, jvm options)."""
    stamp = build_stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    opts_file = os.path.join(BUILD_DIR, "java-options.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), open(opts_file).read().split("\n")
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in sbt_opts:
        env["SBT_OPTS"] = (sbt_opts + " -Dsbt.offline=true").strip()
    log("building the library and the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] build failed with code {proc.returncode}")
    target = os.path.join(HERE, "target")
    classpath = open(os.path.join(target, "runtime-classpath.txt")).read().strip()
    options = open(os.path.join(target, "java-options.txt")).read()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(opts_file, "w") as f:
        f.write(options)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath, options.split("\n")


def wanted_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer" if trace else "end_to_end"]


def run_jvm(args, classpath, options):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    jvm = [o for o in options if o and not o.startswith("-Xmx")]
    cmd = [java, f"-Xmx{driver_memory()}", *jvm, "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores()), "--start-ms", str(int(time.time() * 1000)),
           "--work-dir", BUILD_DIR]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s and was stopped")
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] benchmark JVM exited with code {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        raise SystemExit("[perfbench] benchmark JVM printed no result")
    return json.loads(lines[-1])


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] {need} not found: run from the root of a checkout "
                             "of the library")
    wanted = wanted_metrics(args.trace)
    classpath, options = build()
    result = run_jvm(args, classpath, options)

    values = result.get("metrics", {})
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing and result["correct"]:
        raise SystemExit(f"[perfbench] metrics missing from a correct run: {missing}")
    # a failed call can leave a metric unmeasured; the failed run still reports
    out = {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
           "failed": int(result["failed"]),
           "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in wanted}}
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
