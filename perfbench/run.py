#!/usr/bin/env python3
"""Benchmark of the crawl engine: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload crawl_drain --seed 0 --seconds 5 --trace 0

Run it from the root of a checkout. It builds the engine and the benchmark
from source with sbt (once per source state), runs one JVM with
`local[<nproc>]` and as many shuffle partitions, checks the outputs, and
prints every metric of the mode as the last line of stdout:
the end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`.
Units come from BENCHMARK.json. A failed check exits non-zero.

`epoch_full` is not a BENCHMARK.json workload; run it by name for the
out-stage-dominated epoch over Bench's sf0.1 input, whose golden counts it
checks at seed 0. One run of it takes minutes (see README.md).

All state, shuffle and temporary files live in `.bench_work/` of the
checkout, wiped before and after the run; traced runs write their spans and
per-job-group task metrics to `.bench_out/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench-build.json")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("epoch_full", "crawl_drain", "c5_queries")
# a run must end within 180 s once built; epoch_full's sf0.1 epoch takes minutes
JVM_SECONDS = {"epoch_full": 900}
JVM_SECONDS_DEFAULT = 170

# build.sbt's forked-run flags: Spark 4 on JDK 17 needs the module opens
# spark-submit would inject; ParallelGC is the collector the engine is tuned
# for; the heap follows SPARK_DRIVER_MEM.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile engine + benchmark with sbt; returns the runtime classpath."""
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            b = json.load(fh)
        if b.get("stamp") == stamp:
            return b["classpath"]
    env = dict(os.environ)
    # offline: the toolchain's caches hold every dependency
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    # `export` prints the classpath as one line: our classes dir, then jars
    cps = [l.strip() for l in lines if l.startswith(HERE) and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    classpath = cps[-1]
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    stamp = source_stamp()
    classpath = build(stamp)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    jvm_flags = [f"-Xmx{heap()}", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
                 "-Dspark.sql.session.timeZone=UTC"]
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += jvm_flags + [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-cp", classpath,
                        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--work", WORK, "--out", OUT, "--cores", str(cores),
                        "--data", os.path.join(HERE, "data", "sf0.01")]
    # the benchmark measures the defaults users get: no engine knob is set
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}

    result = info = None
    stderr_log = os.path.join(OUT, f"stderr-{a.workload}.log")
    try:
        with open(stderr_log, "w") as err:
            t0 = time.monotonic()
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                 text=True)
            timed_out = threading.Event()

            def kill():
                timed_out.set()
                p.kill()
            limit = JVM_SECONDS.get(a.workload, JVM_SECONDS_DEFAULT)
            timer = threading.Timer(limit, kill)
            timer.start()
            try:
                for line in p.stdout:
                    if line.startswith("PERFBENCH_RESULT "):
                        result = json.loads(line[len("PERFBENCH_RESULT "):])
                    elif line.startswith("PERFBENCH_INFO "):
                        info = json.loads(line[len("PERFBENCH_INFO "):])
                    else:
                        sys.stdout.write(line)
            finally:
                if p.poll() is None:
                    p.kill()
                p.wait()
                timer.cancel()
                jvm_wall = time.monotonic() - t0
            if timed_out.is_set():
                result = None
                print(f"perfbench: run exceeded {limit} s", file=sys.stderr)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    if result is None:
        with open(stderr_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"no result (exit code {p.returncode})")
    print(json.dumps({"run": {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cores, "master": f"local[{cores}]", "shuffle_partitions": cores,
        "jvm_flags": jvm_flags, "commit": commit(), "source_sha256": stamp,
        "state_and_local_dir": WORK, "wiped_before_and_after": True,
        "engine_knobs_unset": True, "jvm_wall_s": round(jvm_wall, 3), **(info or {})}}))

    metrics = {}
    for m in wanted:
        v = result["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            print(f"perfbench: metric {m['name']} missing or not finite: {v}", file=sys.stderr)
            sys.exit(1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    extra = set(result["metrics"]) - {m["name"] for m in wanted}
    if extra:
        print(f"perfbench: metrics not in BENCHMARK.json: {sorted(extra)}", file=sys.stderr)
        sys.exit(1)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] and p.returncode == 0 else 1)


if __name__ == "__main__":
    main()
