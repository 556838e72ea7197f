#!/usr/bin/env python3
"""Per-layer tables: run each workload untraced and traced with one seed and
write `perfbench/results/<workload>.md`.

    python3 perfbench/trace_report.py [--seed 7] [--seconds 20] [workload ...]

Each table lists the untraced end-to-end metrics, every per-layer series of
the traced run, how far the traced spans add up to the untraced wall time,
and the tracing overhead (traced op latency over untraced).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    with open(os.path.join(build_dir, "results", f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def val(rec, name):
    m = rec["metrics"].get(name)
    return m["value"] if m else None


def rows(metrics, names):
    out = ["| metric | value | unit | samples |", "|---|---:|---|---:|"]
    for n in names:
        m = metrics[n]
        out.append(f"| `{n}` | {m['value']:.6g} | {m['unit']} | {m['samples']} |")
    return out


def coverage(workload, plain, traced):
    """Per-layer span sums against the untraced wall time, and the tracing
    overhead."""
    out = ["| check | value |", "|---|---:|"]
    untraced = val(plain, "op_mean_ms")
    traced_op = val(traced, "op_mean_ms")
    if workload == "build":
        # phase walls (SQL executions and bare jobs inside buildAndCommit,
        # unioned) plus the index.open span, per build
        spans = val(traced, "trace.build_layers_ms")
        out.append(f"| mean of build phase walls + index.open span (ms) | {spans:.1f} |")
    else:
        spans = sum(val(traced, f"search.{l}_ms") or 0 for l in ("parse", "plan", "execute"))
        out.append(f"| mean of parse+plan+execute spans (ms) | {spans:.1f} |")
    out.append(f"| untraced mean op wall (ms) | {untraced:.1f} |")
    out.append(f"| layer span sum / untraced wall | {spans / untraced:.3f} |")
    out.append(f"| tracing overhead, traced op / untraced op - 1 | {traced_op / untraced - 1:+.3f} |")
    return out


def report(workload, seed, seconds):
    plain = run(workload, seed, seconds, 0)
    traced = run(workload, seed, seconds, 1)
    host = " ".join(f"{k}={v}" for k, v in sorted(traced["host"].items()))
    lines = [f"# `{workload}` per-layer table", "",
             f"`python3 perfbench/trace_report.py --seed {seed} --seconds {seconds} {workload}`", "",
             f"Host: {host}", "",
             f"Checks: untraced {plain['attempted']} attempted / {plain['failed']} failed; "
             f"traced {traced['attempted']} attempted / {traced['failed']} failed.", "",
             "## Span coverage and tracing overhead", ""]
    lines += coverage(workload, plain, traced)
    lines += ["", "## End to end (untraced run)", ""]
    lines += rows(plain["metrics"], [n for n in plain["metrics"] if not n.startswith(("search.", "query."))])
    layered = [n for n in traced["metrics"]
               if n.split(".")[0] in ("index", "analysis", "codec", "build", "search", "trace", "ladder")]
    lines += ["", "## Per layer (traced run)", ""]
    lines += rows(traced["metrics"], layered)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", f"{workload}.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = a.workloads or [w["name"] for w in json.load(fh)["workloads"]]
    for w in names:
        report(w, a.seed, a.seconds)


if __name__ == "__main__":
    main()
