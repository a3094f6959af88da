#!/usr/bin/env python3
"""The repo benchmark: log append, reads beside a writer, and analytics.

    python3 logbench/run.py --workload log_append --seed 1 --seconds 10 --trace 0

Builds the program from source (logbench/build.py), runs one workload in a
fresh JVM against the real stack, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (see
BENCHMARK.json and logbench/design.json). Every run gets a fresh directory
under .bench_build/runs for the log, Spark's local dirs and the artifact
caches (java.io.tmpdir), deleted at the end; traced runs keep their spans
in .bench_build/traces.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("log_append", "log_read_mix", "analytics_batch")
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit (same set as the sbt build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def metric_units(trace):
    """Name -> unit of the metrics BENCHMARK.json lists for this mode: the
    end-to-end ones untraced, the per-layer ones traced."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        raise SystemExit("run: BENCHMARK.json is missing")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like an exception: subprocess.run kills and reaps
    # the JVM, and the run directory is still deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    runs = os.path.join(build.OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    try:
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        result_file = os.path.join(run_dir, "result.json")
        jars = os.path.join(build.spark_jars(), "*")
        cmd = (["java"]
               + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
               # A fixed heap size and young generation keep G1 from sizing
               # either by how a run happened to go; the heap is not
               # pre-touched, so rss_peak_mb grows with what the program
               # touches (old generation, humongous arrays, off-heap).
               + ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC",
                  "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
                  "-XX:ParallelGCThreads=2",
                  "-XX:ConcGCThreads=1",
                  "-Djava.io.tmpdir=" + tmp,
                  "-Dlog4j2.configurationFile=" + os.path.join(build.ROOT, "logbench", "log4j2.properties"),
                  "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  "-cp", classes + os.pathsep + jars,
                  "logbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--run-dir", run_dir, "--result", result_file,
                  "--trace-dir", os.path.join(build.OUT, "traces")])
        try:
            rc = subprocess.run(cmd, cwd=build.ROOT, timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run: {args.workload} exceeded {RUN_TIMEOUT_S} s")
        if rc != 0 or not os.path.exists(result_file):
            raise SystemExit(f"run: {args.workload} exited with code {rc}")
        with open(result_file) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # BENCHMARK.json is the one list of metrics. Untraced, a run reports
    # every end-to-end metric; traced, a per-layer metric the workload did
    # not emit is a layer it does not touch and reads 0. A name the run
    # emits that the list lacks is an error either way.
    units = metric_units(args.trace)
    metrics = result["layers" if args.trace else "e2e"]
    unknown = sorted(set(metrics) - set(units))
    missing = [] if args.trace else sorted(set(units) - set(metrics))
    if unknown or missing:
        raise SystemExit(f"run: metrics differ from BENCHMARK.json: {unknown + missing}")
    out = {}
    for name, unit in units.items():
        value = metrics.get(name, 0.0)
        if math.isnan(value):
            raise SystemExit(f"run: {name} has no samples")
        # A failed op misses every latency limit: a percentile that lands on
        # one reads +inf, which JSON cannot carry.
        out[name] = {"value": value if math.isfinite(value) else 1e12, "unit": unit}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": out}))
    if not result["correct"]:
        sys.exit(1)  # a failed output check fails the run


if __name__ == "__main__":
    main()
