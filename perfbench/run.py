#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload mixed-verify --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source file has changed. Each run starts one JVM
(perfbench.Main) that makes the workload's inputs from the seed, warms up,
measures for --seconds, checks every output against the generator's goldens
and writes a raw record; this script turns the record into metrics
(metrics.py) and prints them as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. Everything a run writes stays under
.bench_build/ in the checkout; the run's window labels (nproc, load average,
CPU calibration before and after) and the raw record are kept there beside
the metrics, in runs/<workload>-<seed>-<trace>.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("mixed-verify", "pdf-verify")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
# Spark's JVM options for JDK 17 (the engine's build.sbt sets the same list
# for its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def _terminate(signum, _frame):
    # turn SIGTERM/SIGINT into an exception, so the JVM child is stopped
    # and waited for by the `finally` below
    raise SystemExit(128 + signum)


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a fixed order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Compile engine and benchmark if any source changed; return the classpath."""
    files = sources()
    missing = [f for f in files[:4] if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("not a checkout of the engine (missing %s)" % (missing or ["src/main/scala"]))
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in proc.stdout:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    if args.seed < 0:
        fail("--seed must be >= 0")
    if not 1 <= args.seconds <= 60:
        fail("--seconds must be within [1, 60]")

    cp = build()
    started = time.time()
    cpus = max(1, min(4, os.cpu_count() or 1))
    work = os.path.join(OUT, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    runs = os.path.join(OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    raw_path = os.path.join(runs, "%s-%d-%d.raw.json" % (args.workload, args.seed, args.trace))
    if os.path.exists(raw_path):
        os.remove(raw_path)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx" + HEAP, "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dderby.system.home=" + tmp,
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.streaming.numRecentProgressUpdates=1000",
            "-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), work, str(cpus), raw_path])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S - (time.time() - started))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded its time limit")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(raw_path):
        fail("benchmark JVM exited with code %d" % code)
    with open(raw_path) as fh:
        raw = json.load(fh)
    res = metrics.result(raw, args.trace == 1, cpus)
    labels = dict(raw["labels"], errors=raw["errors"], workload=args.workload,
                  seed=args.seed, trace=args.trace)
    labels.update(metrics.end_to_end(raw)[1])
    if args.trace:
        labels.update(metrics.per_layer(raw, cpus)[1])
    with open(os.path.join(runs, "%s-%d-%d.json" % (args.workload, args.seed, args.trace)),
              "w") as fh:
        json.dump({"labels": labels, "result": res}, fh, indent=1)
    print(json.dumps({"labels": labels}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
