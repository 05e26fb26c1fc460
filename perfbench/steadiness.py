"""Records how steady the benchmark is, into ``perfbench/records/``.

    python3 perfbench/steadiness.py spread <workload> <seed>...
        one run per seed; writes spread-<workload>.json with
        every end-to-end value and its quartile spread
        ((Q3 - Q1) / median, as statistics.quantiles(n=4) gives them)
    python3 perfbench/steadiness.py warmup <workload> <seed> <seconds>
        one long run; writes warmup-<workload>.json with ops/s over each
        sixth of the timed sequence, in start order
    python3 perfbench/steadiness.py trace <workload> <seed>
        a traced and an untraced run on one seed; writes
        trace-<workload>.json with every per-layer metric and the tracing
        overhead (traced over untraced ops/s, and the same for rows/s:
        ingested rows on batch_jobs, page rows on jx_serve)

Run from the root of a checkout, like run.py. Runs are sequential.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDS = os.path.join(HERE, "records")
SECONDS = 15  # BENCHMARK.json run_seconds


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def _write(name: str, obj: dict) -> None:
    os.makedirs(RECORDS, exist_ok=True)
    with open(os.path.join(RECORDS, name), "w") as f:
        json.dump(obj, f, indent=1)
        f.write("\n")


def spread(workload: str, seeds: list[int]) -> None:
    runs = {s: _run(workload, s, SECONDS, 0) for s in seeds}
    names = next(iter(runs.values()))["metrics"]
    out = {"workload": workload, "seconds": SECONDS, "seeds": seeds,
           "correct": all(r["correct"] for r in runs.values()),
           "metrics": {}}
    for n in names:
        vals = [runs[s]["metrics"][n]["value"] for s in seeds]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out["metrics"][n] = {"median": med, "iqr_over_median":
                             (q3 - q1) / med, "values": vals}
        print(f"{workload:<14} {n:<16} median {med:14.4f} "
              f"spread {(q3 - q1) / med:.4f}")
    _write(f"spread-{workload}.json", out)


def warmup(workload: str, seed: int, seconds: int) -> None:
    _run(workload, seed, seconds, 0)
    with open(os.path.join(".perfbench_out",
                           f"{workload}-{seed}-t0-ops.json")) as f:
        ops = sorted((o for o in json.load(f) if o.get("start") is not None),
                     key=lambda o: o["start"])
    n_slices = 6
    size = len(ops) // n_slices
    slices = []
    for i in range(n_slices):
        part = ops[i * size:(i + 1) * size]
        span = max(o["start"] + o["ms"] / 1000.0 for o in part) \
            - part[0]["start"]
        slices.append({"ops": len(part), "ops_per_s": len(part) / span})
    _write(f"warmup-{workload}.json", {"workload": workload, "seed": seed,
                                       "seconds": seconds, "slices": slices})
    for s in slices:
        print(s)


def trace(workload: str, seed: int) -> None:
    untraced = _run(workload, seed, SECONDS, 0)
    traced = _run(workload, seed, SECONDS, 1)
    out = {"workload": workload, "seed": seed, "seconds": SECONDS}
    for m in ("ops_per_s", "rows_per_s"):
        rate = traced["metrics"][f"trace.{m}"]["value"]
        base = untraced["metrics"][m]["value"]
        out.update({f"untraced_{m}": base, f"traced_{m}": rate,
                    f"traced_over_untraced_{m}": rate / base})
        print(workload, f"traced/untraced {m}", rate / base)
    out["per_layer"] = {k: v["value"] for k, v in traced["metrics"].items()}
    _write(f"trace-{workload}.json", out)


if __name__ == "__main__":
    cmd, wl, *rest = sys.argv[1:]
    if cmd == "spread":
        spread(wl, [int(s) for s in rest])
    elif cmd == "warmup":
        warmup(wl, int(rest[0]), int(rest[1]))
    elif cmd == "trace":
        trace(wl, int(rest[0]))
    else:
        raise SystemExit(__doc__)
