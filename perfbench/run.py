#!/usr/bin/env python3
"""Run one workload of the engine benchmark.

    python3 perfbench/run.py [--heap 3g] --workload build|query|rare|update \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source (`perfbench/build.py`) into `$CARGO_TARGET_DIR` (default
`.bench_build`), runs the workload in one JVM with a fixed heap and one
Spark task slot per core, and prints each metric with its unit and sample
count. The last stdout line is the result object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

with every `end_to_end` metric of BENCHMARK.json under `--trace 0` and every
`per_layer` metric under `--trace 1`. The full record of the run (every
series, the host probes, the checks) is written to
`<build dir>/results/<workload>-seed<seed>-trace<t>.json`, and a traced
run's spans, one JSON line each, to `...-trace1-spans.jsonl`.
"""
import argparse
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
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("build", "query", "rare", "update")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_flags(heap, work):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    return flags + [
        # fixed, pre-touched heap: no heap growth or first-touch faults inside
        # the timed section
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseTransparentHugePages", "-XX:+AlwaysPreTouch",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
    ]


def wanted_metrics(trace):
    """The metric names of the result line, and the workloads that must
    measure every one of them (those BENCHMARK.json lists)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([m["name"] for m in spec["per_layer" if trace else "end_to_end"]],
            {w["name"] for w in spec["workloads"]})


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--heap", default="3g")
    a = ap.parse_args()

    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build_dir = os.path.abspath(os.path.join(ROOT, build_dir))
    try:
        classpath = build.build(build_dir)
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    names, listed = wanted_metrics(a.trace)

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    launched_ms = int(time.time() * 1000)
    cmd = ["java"] + jvm_flags(a.heap, work) + ["-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work,
           "--launched-ms", str(launched_ms), "--spans", stem + "-spans.jsonl"]
    # a stopped benchmark stops its JVM too (the finally below)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {a.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: {a.workload} exited with code {proc.returncode}")
    record = json.loads(lines[-1])

    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    host = record["host"]
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} heap={a.heap} "
          + " ".join(f"{k}={v}" for k, v in sorted(host.items())))
    for name, m in record["metrics"].items():
        print(f"{name:<44} {m['value']:>16.6g} {m['unit']:<6} n={m['samples']}")
    for p in record["problems"]:
        print("FAILED: " + p)
    print(f"attempted={record['attempted']} failed={record['failed']}")

    missing = [n for n in names if n not in record["metrics"]]
    if missing and a.workload in listed:
        sys.exit(f"perfbench: {a.workload} did not measure {', '.join(missing)}")
    # a workload run by hand reports what it measures (build: no p90)
    names = [n for n in names if n not in missing]
    result = {
        "correct": bool(record["correct"]),
        "attempted": int(record["attempted"]),
        "failed": int(record["failed"]),
        "metrics": {n: {"value": record["metrics"][n]["value"], "unit": record["metrics"][n]["unit"]}
                    for n in names},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
