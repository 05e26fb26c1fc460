"""Benchmark entry point.

    python3 perfbench/run.py --workload <jx_serve|batch_jobs> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout that holds the ``activedata_etl_spark``
package. Inputs are the read-only sf0.1 tables the package reads by
default (``$SPARK_GRAFT_SF_DIR`` overrides); the seed picks every
generated input.

Each run gets a private directory under ``.perfbench_runs/`` in the
checkout, whose ``tmp`` and ``spark-local`` subdirectories become the
workload's ``TMPDIR`` and ``SPARK_LOCAL_DIRS``, so no index, scratch
parquet or shuffle file carries over from an earlier run. The workload
runs in a child process started in its own session; this process waits
for it, kills whatever is left of its process group, removes the private
directory and prints the result JSON as the last line of stdout.

Exit status is 0 only when the workload ran; a wrong output still exits
0 with ``"correct": false``. Without the package it exits 2, and without
the input tables 1, in both cases printing no result.
"""

from __future__ import annotations

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
sys.path.insert(0, ROOT)

from perfbench.spec import (DRIVER_MEM, END_TO_END,  # noqa: E402
                            PER_LAYER, WORKLOADS)

#: Every run must end within 180 s.
CHILD_TIMEOUT_S = 165


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _fresh_dir(path: str) -> str:
    os.makedirs(path)
    if os.listdir(path):
        raise SystemExit(f"perfbench: {path} is not empty")
    return path


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cwd = os.getcwd()
    if not os.path.isfile(os.path.join(cwd, "activedata_etl_spark",
                                       "__init__.py")):
        print("perfbench: no activedata_etl_spark package in the current "
              "directory; run from the root of a checkout", file=sys.stderr)
        return 2

    runs = os.path.join(cwd, ".perfbench_runs")
    run_dir = _fresh_dir(os.path.join(
        runs, f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"))
    tmp = _fresh_dir(os.path.join(run_dir, "tmp"))
    local = _fresh_dir(os.path.join(run_dir, "spark-local"))
    out_dir = os.path.join(cwd, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")

    cpus = _cpus()
    env = {**os.environ,
           "TMPDIR": tmp, "SPARK_LOCAL_DIRS": local,
           "SPARK_GRAFT_CPUS": str(cpus),
           "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
           "PYTHONHASHSEED": "0",
           # the JVM's temp and perf-data files stay in the run
           "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} "
                                "-XX:-UsePerfData "
                                + os.environ.get("JAVA_TOOL_OPTIONS", ""),
           # the JVM heap starts at its pinned size, so peak memory does
           # not depend on when the collector chose to grow it
           "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xms{DRIVER_MEM} "
                                  "pyspark-shell",
           "PYTHONPATH": cwd + os.pathsep + os.environ.get("PYTHONPATH", "")}
    env.pop("OMP_NUM_THREADS", None)
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", cwd, "--out-dir", out_dir, "--result", result_path]
    child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                             start_new_session=True)
    try:
        child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {args.workload} exceeded {CHILD_TIMEOUT_S}s",
              file=sys.stderr)
    finally:
        # the JVM and Python workers share the child's process group
        _kill_group(child.pid)
        child.wait()
        deadline = time.monotonic() + 15
        while _group_alive(child.pid) and time.monotonic() < deadline:
            time.sleep(0.1)

    try:
        with open(result_path) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = None
    shutil.rmtree(run_dir, ignore_errors=True)
    if not os.listdir(runs):
        os.rmdir(runs)
    if res is None or child.returncode != 0:
        print(f"perfbench: {args.workload} failed "
              f"(exit {child.returncode})", file=sys.stderr)
        return 1

    names = PER_LAYER if args.trace else END_TO_END
    for p in res["problems"]:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={cpus} driver_mem={DRIVER_MEM} "
          f"correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']}")
    for n in names:
        m = res["metrics"][n]
        print(f"#   {n:<40} {m['value']:>14.4f} {m['unit']:<8} "
              f"n={m['samples']}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": res["metrics"][n]["value"],
                        "unit": res["metrics"][n]["unit"]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
