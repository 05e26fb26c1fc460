"""batch_jobs: the ETL and extension-operator role, and the write side of
the stores it reads.

One in-process Spark session (``local[$SPARK_GRAFT_CPUS]``) runs one
thread of ops from seven families. An op of the six registry families
is ``QUERIES[name](spark, sf)`` — the build, which includes any Spark
jobs the query function launches — followed by a full materialization
into Spark's ``noop`` sink (a ``count()`` could prune the columns the job
computes). An op of the ``ingest`` family is one whole day's batch
(``ingest.py``).

Phases:

1. set-up: the session, one build of every job, which runs the
   existence-cached index builds into the run's private TMPDIR, and the
   ingest stores' initial build;
2. warm-up: every registry job once, untimed, its result written to
   parquet under the run's TMPDIR (the first ingest batch is no slower
   than later ones, so it needs none);
3. timed passes: every family once per pass, each pass in a seeded order;
4. checks, after memory sampling has stopped: every job's warm-up result
   is read back and compared with its DuckDB oracle through
   ``parity.compare``, and the ingest probes and stores are checked
   (``Ingest.check``).
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time
from statistics import median

from perfbench.common import (PssSampler, SparkCounters, Tracer, dir_usage,
                              session_with_timing, write_artifact)
from perfbench.ingest import Ingest
from perfbench.spec import FAMILIES

#: Nominal seconds of one timed pass; ``--seconds`` sets the pass count.
PASS_S = 7
INGEST = ("ingest", None)


def run(ctx, res) -> None:
    sampler = PssSampler(os.getpid()).start()
    rng = random.Random(ctx.seed)
    jobs = [(fam, q) for fam, qs in FAMILIES.items() for q in qs]
    ops = jobs + [INGEST]
    tmp = os.environ["TMPDIR"]
    tracer = Tracer(ctx.trace)

    times: dict = {}
    t_setup = time.perf_counter()
    spark = session_with_timing(times)
    from activedata_etl_spark.queries import ORACLES, QUERIES

    t0 = time.perf_counter()
    for _, q in jobs:
        QUERIES[q](spark, ctx.sf_dir)
    ingest = Ingest(spark, ctx.sf_dir, ctx.seed, os.path.join(tmp, "ingest"),
                    tracer)
    t1 = time.perf_counter()
    ingest.setup()
    print(f"perfbench: job builds {t1 - t0:.1f}s, ingest set-up "
          f"{time.perf_counter() - t1:.1f}s", file=sys.stderr)
    times["index_build_s"] = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_setup
    counters = SparkCounters(spark)

    def one(fam, q, op):
        if q is None:
            with counters.group(op):
                return ingest.batch(op, ctx.trace)
        with tracer.span(f"{fam}.queries.build", op), \
                counters.group(op + ":build"):
            df = QUERIES[q](spark, ctx.sf_dir)
        with tracer.span(f"{fam}.run", op), counters.group(op):
            df.write.format("noop").mode("overwrite").save()
        return None

    # warm-up: every job once, its result kept as parquet for the checks
    out = os.path.join(tmp, "results")
    t0 = time.perf_counter()
    for fam, q in rng.sample(jobs, len(jobs)):
        res.attempted += 1
        with counters.group(f"warm:{q}"):
            QUERIES[q](spark, ctx.sf_dir).write.parquet(os.path.join(out, q))
    print(f"perfbench: warm-up {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)

    passes = max(1, round(ctx.seconds / PASS_S))
    seq = [o for _ in range(passes) for o in rng.sample(ops, len(ops))]
    lat, per_op = [], []
    ingest_s, ingest_days = 0.0, []
    gc0 = counters.gc_ms() if ctx.trace else 0.0
    t_run = time.perf_counter()
    for i, (fam, q) in enumerate(seq):
        op = f"op{i}"
        res.attempted += 1
        a = time.perf_counter()
        try:
            day = one(fam, q, op)
        except Exception as e:  # noqa: BLE001 - any op failure voids the run
            res.failed += 1
            res.fail(f"{q or fam}: {type(e).__name__}: {e}")
            continue
        b = time.perf_counter()
        if day is not None:
            ingest_s += b - a
            ingest_days.append(day)
        lat.append((b - a) * 1000.0)
        per_op.append({"op": op, "family": fam, "query": q,
                       "start": a - t_run, "ms": (b - a) * 1000.0})
    wall = time.perf_counter() - t_run
    gc1 = counters.gc_ms() if ctx.trace else 0.0
    res.put("peak_pss_mb", sampler.stop(), "MB")

    # checks: outside the timed region and the memory sample
    from activedata_etl_spark.parity import compare, duck_connect

    t0 = time.perf_counter()
    con = duck_connect(ctx.sf_dir)
    cache = os.path.join(ctx.root, ".perfbench_cache")
    for _, q in jobs:
        try:
            r = compare(q, spark.read.parquet(os.path.join(out, q)),
                        _oracle(con, cache, ctx.sf_dir, ORACLES.get(q)), con)
        except Exception as e:  # noqa: BLE001
            res.failed += 1
            res.fail(f"{q}: {type(e).__name__}: {e}")
            continue
        if not r.ok:
            res.failed += 1
            res.fail(str(r))
    t1 = time.perf_counter()
    day_rows, bytes_per_row, problems = ingest.check(con)
    con.close()
    print(f"perfbench: job checks {t1 - t0:.1f}s, ingest checks "
          f"{time.perf_counter() - t1:.1f}s", file=sys.stderr)
    for p in problems:
        res.failed += 1
        res.fail(p)

    res.put("setup_s", setup_s, "s")
    res.put("ops_per_s", len(lat) / wall, "1/s", len(lat))
    # registry jobs only: with the ingest batches, far above every job,
    # the median falls on the upper edge of a cluster of jobs instead of
    # inside it; rows_per_s measures the ingest batches' time
    jobs_ms = [p["ms"] for p in per_op if p["family"] != "ingest"]
    res.put("op_p50_ms", median(jobs_ms), "ms", len(jobs_ms))
    res.put("rows_per_s", sum(day_rows[d] for d in ingest_days) / ingest_s,
            "rows/s", len(ingest_days))

    if ctx.trace:
        res.put("setup.session_s", times["session_s"], "s")
        res.put("setup.index_build_s", times["index_build_s"], "s")
        _families(res, tracer, counters, per_op)
        ingest.per_layer(res, [p["op"] for p in per_op
                               if p["family"] == "ingest"], counters)
        res.put("ingest.stored_bytes_per_row", bytes_per_row, "B")
        res.put("cache.persisted_rdds", counters.persisted_rdds(), "count")
        res.put("scratch.dirs", sum(os.path.isdir(os.path.join(tmp, d))
                                    for d in os.listdir(tmp)), "count")
        res.put("scratch.mb", dir_usage(tmp)[0] / 2**20, "MB")
        res.put("jvm.gc_ms_per_op", (gc1 - gc0) / max(len(lat), 1), "ms",
                len(lat))
        res.put("trace.ops_per_s", len(lat) / wall, "1/s", len(lat))
        res.put("trace.rows_per_s",
                sum(day_rows[d] for d in ingest_days) / ingest_s, "rows/s",
                len(ingest_days))
        write_artifact(ctx, "spans", tracer.self_times())
    write_artifact(ctx, f"t{int(ctx.trace)}-ops", per_op)
    spark.stop()


def _oracle(con, cache: str, sf_dir: str, sql: str | None) -> str | None:
    """SQL reading ``sql``'s result from a DuckDB file under ``cache``,
    which the first run in a checkout computes. An oracle's result depends
    only on its SQL and the read-only input tables, both in the key, so
    later runs skip about 10 s of DuckDB work; nothing of the engine's
    enters the cache."""
    if sql is None:
        return None
    import duckdb

    key = hashlib.sha256(
        f"{duckdb.__version__}\0{sf_dir}\0{sql}".encode()).hexdigest()[:20]
    path = os.path.join(cache, f"{key}.duckdb")
    if not os.path.exists(path):
        os.makedirs(cache, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        con.execute(f"ATTACH '{tmp}' AS w")
        con.execute(f"CREATE TABLE w.result AS {sql}")
        con.execute("CHECKPOINT w")
        con.execute("DETACH w")
        os.replace(tmp, path)
    con.execute(f"ATTACH IF NOT EXISTS '{path}' AS o{key} (READ_ONLY)")
    return f"SELECT * FROM o{key}.result"


def _families(res, tracer, counters, per_op) -> None:
    self_ms = tracer.self_ms_by(lambda s: (s["name"], s["op"]))
    for fam in FAMILIES:
        ops = [p["op"] for p in per_op if p["family"] == fam]
        n = max(len(ops), 1)
        build = [counters.counts(op + ":build") for op in ops]
        whole = [counters.counts(op) for op in ops]
        res.put(f"{fam}.queries.build_ms",
                sum(self_ms.get((f"{fam}.queries.build", op), 0.0)
                    for op in ops) / n, "ms", len(ops))
        res.put(f"{fam}.queries.build_spark_jobs",
                sum(c["jobs"] for c in build) / n, "count", len(ops))
        res.put(f"{fam}.run_ms",
                sum(self_ms.get((f"{fam}.run", op), 0.0) for op in ops) / n,
                "ms", len(ops))
        res.put(f"{fam}.spark.tasks",
                sum(w["tasks"] for w in whole) / n, "count", len(ops))
