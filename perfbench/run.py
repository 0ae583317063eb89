#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage, from the repository root:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (perfbench/build.py), runs the
workload in one JVM at local[nproc], and prints as its last line one JSON
object: correct, attempted, failed and the metrics BENCHMARK.json lists for
the mode (end_to_end with --trace 0, per_layer with --trace 1), with units.
Everything it writes stays under .bench_build/ in the current directory; a
traced run leaves its span file and per-layer table in .bench_build/trace/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_SECONDS = 170
# The workloads graftbench.Main implements. BENCHMARK.json lists the ones a
# regression check runs; stream_paced is left out of it (perfbench/README.md,
# "Choices and limits") but runs the same way.
WORKLOADS = ("stream_paced", "stream_drain", "catalog")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload: {args.workload}")
    build.build()

    scratch = os.path.abspath(os.path.join(build.OUT, "run"))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    result = os.path.join(scratch, "result.json")
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + build.jvm_flags(scratch, args.workload)
           + ["-cp", build.classpath(), "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", scratch, "--data", os.path.abspath(build.DATA),
              "--expected", os.path.abspath(build.EXPECTED),
              "--cpus", str(cpus), "--out", result])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"benchmark JVM failed: {rc}")

    with open(result) as f:
        res = json.load(f)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}
    if args.trace:
        write_trace(args, scratch, metrics)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def write_trace(args, scratch, metrics):
    """Keep the span file and write the per-layer table of a traced run."""
    out = os.path.join(build.OUT, "trace")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
    for name in os.listdir(scratch):
        if name.startswith("spans-"):
            shutil.move(os.path.join(scratch, name), stem + ".spans.jsonl")
    width = max(len(k) for k in metrics)
    table = "\n".join(f"{k:<{width}}  {v['value']:>16.3f}  {v['unit']}" for k, v in metrics.items())
    with open(stem + ".layers.txt", "w") as f:
        f.write(table + "\n")
    print(table, file=sys.stderr)


if __name__ == "__main__":
    main()
