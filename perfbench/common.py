"""Shared pieces of the benchmark workloads: run context, statistics,
process-tree memory sampling, spans and Spark status counters.

Everything here observes the engine from outside: it wraps calls into
the package's public entry points and reads Spark's status tracker and
the JVM's management beans; nothing reaches into engine internals.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Ctx:
    """What a workload needs to know about its run."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    root: str        # checkout root (holds the activedata_etl_spark package)
    sf_dir: str      # read-only input tables
    out_dir: str     # where trace artifacts are written


@dataclass
class Result:
    """One run's outcome; ``metrics`` maps name → (value, unit, samples)."""

    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)

    def put(self, name: str, value: float, unit: str,
            samples: int = 1) -> None:
        self.metrics[name] = (float(value), unit, int(samples))

    def fail(self, why: str) -> None:
        self.correct = False
        if len(self.problems) < 20:
            self.problems.append(why)

    def to_json(self) -> dict:
        return {"correct": self.correct, "attempted": self.attempted,
                "failed": self.failed, "problems": self.problems,
                "metrics": {k: {"value": v, "unit": u, "samples": n}
                            for k, (v, u, n) in self.metrics.items()}}


def write_artifact(ctx: Ctx, kind: str, obj) -> None:
    """``<out_dir>/<workload>-<seed>-<kind>.json``; kinds are ``spans``
    (traced runs) and ``t<trace>-ops``, one record per timed op."""
    name = f"{ctx.workload}-{ctx.seed}-{kind}.json"
    with open(os.path.join(ctx.out_dir, name), "w") as f:
        json.dump(obj, f)


def ops_sequence_length(seconds: int, nominal_ops_per_s: float,
                        minimum: int) -> int:
    """Length of a run's timed op sequence. It is fixed by ``--seconds``
    and a per-workload nominal rate, never by the clock, so both commits
    of a comparison time exactly the same operations."""
    return max(minimum, round(seconds * nominal_ops_per_s))


# ---------------------------------------------------------------- memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_pss_kb(pid: int) -> int:
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class PssSampler:
    """Samples the PSS of a process tree on a thread; keeps the peak."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb(self.pid))
            self._stop.wait(self.interval)

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, tree_pss_kb(self.pid))
        return self.peak_kb / 1024.0


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``; bookkeeping files (``.crc``,
    ``_SUCCESS``) count as bytes, not as files."""
    nbytes = nfiles = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                nbytes += os.path.getsize(os.path.join(base, f))
            except OSError:
                continue
            nfiles += f.endswith(".parquet")
    return nbytes, nfiles


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans (name, start, end, parent, op). Disabled tracers
    record nothing, so the untraced run pays one attribute check per
    boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": stack[-1] if stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> list[dict]:
        """Each span with ``self`` = duration minus the time its direct
        children cover (children of one span never overlap: one thread)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                           + s["end"] - s["start"])
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            out.append({**s, "dur": dur,
                        "self": dur - child_time.get(s["id"], 0.0)})
        return out

    def self_ms_by(self, key) -> dict:
        """Sum of self times in ms, grouped by ``key(span)``."""
        acc: dict = {}
        for s in self.self_times():
            k = key(s)
            if k is not None:
                acc[k] = acc.get(k, 0.0) + s["self"] * 1000.0
        return acc


# ---------------------------------------------------------------- spark

class SparkCounters:
    """Spark jobs/stages/tasks per job group, and JVM GC time, read from
    ``statusTracker()`` and the JVM's GC beans — both work with the UI
    disabled."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext

    @contextmanager
    def group(self, group_id: str):
        """Tag the Spark jobs started inside with ``group_id``; nests."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, prev)

    def counts(self, group_id: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group_id)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    tasks += sinfo.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def gc_ms(self) -> float:
        beans = (self.spark._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return float(sum(b.getCollectionTime() for b in beans))

    def persisted_rdds(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())


def session_with_timing(res_times: dict):
    """Build the engine's session; records ``session_s``."""
    t0 = time.perf_counter()
    from activedata_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    res_times["session_s"] = time.perf_counter() - t0
    return spark
