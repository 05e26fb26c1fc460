"""The ``ingest`` family of batch_jobs: the write side of the storage
layers the registry jobs read.

``events`` arrives one whole day per batch into a rollover layout, and
the day's seeded slice of ``documents`` and ``embeddings`` into a
MinHash dedup index and a PQ index. Batches are whole days because
``rollover_write`` overwrites whole day partitions: a sub-day slice
would silently drop the day's earlier rows.

``setup`` builds the first ``SETUP_DAYS`` days with ``build_index``,
``build_pq_index`` and ``rollover_write``. Each ``batch`` then runs

1. ``etl.stamp_provenance`` + ``etl.rollover_write``;
2. ``dedup_index.append_to_index`` + ``pq.append_pq_codes``;
3. ``dedup_index.pairs_against_index`` (the ingest-time duplicate check);
4. the visibility probe: ``etl.read_rollover`` of the day is counted and
   ``pq.pq_index_topk`` answers for 5 of the day's vectors;

and every ``COMPACT_EVERY``-th batch also ``dedup_index.compact_index``.
``check`` runs after the timed phase: it compares each probe with
DuckDB's count of the day, and the stores with a from-scratch build.
"""

from __future__ import annotations

import os
import random

from perfbench.common import dir_usage

SETUP_DAYS = 2
COMPACT_EVERY = 2
N_DAYS = 30
#: Multipliers coprime to N_DAYS: ``day = (id * a + b) % N_DAYS`` with a
#: and b drawn from the seed cuts ``documents`` and ``embeddings`` into 30
#: seeded slices, in an expression Spark and DuckDB evaluate alike.
COPRIME = (7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47)
#: Spans of one batch, named as the per-layer metrics (``ingest.<name>``).
LAYERS = ("etl.rollover_write_ms", "dedup_index.append_ms", "pq.append_ms",
          "dedup_index.pairs_against_ms", "visibility.probe_ms")
STORES = ("events", "dedup", "pq")


def _slicing(seed: int, id_col: str) -> str:
    rng = random.Random(f"{seed}:{id_col}")
    return (f"(({id_col} * {rng.choice(COPRIME)} + {rng.randrange(N_DAYS)})"
            f" % {N_DAYS})")


def source_counts(con, sf_dir: str, seed: int) -> dict:
    """Rows per arrival day of each source, counted by DuckDB."""
    out = {}
    for name, table, day in (
            ("events", "events",
             "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))"),
            ("docs", "documents", _slicing(seed, "doc_id")),
            ("vecs", "embeddings", _slicing(seed, "vec_id"))):
        out[name] = dict(con.execute(
            f"SELECT CAST({day} AS INTEGER), COUNT(*) FROM "
            f"read_parquet('{sf_dir}/{table}.parquet') GROUP BY 1").fetchall())
    return out


def _snapshot(path: str) -> dict:
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                continue
    return out


class Ingest:
    def __init__(self, spark, sf_dir: str, seed: int, store: str, tracer):
        from pyspark.sql import functions as F

        from activedata_etl_spark.io import load_table

        self.spark, self.tracer, self.store = spark, tracer, store
        self.sf_dir, self.seed = sf_dir, seed
        self.paths = {k: os.path.join(store, k) for k in STORES}
        day0 = F.to_date(F.lit("2024-01-01"))
        self.events = load_table(spark, sf_dir, "events").withColumn(
            "day", F.datediff(F.to_date("ts"), day0))
        self.docs = load_table(spark, sf_dir, "documents").withColumn(
            "day", F.expr(_slicing(seed, "doc_id")))
        self.vecs = load_table(spark, sf_dir, "embeddings").withColumn(
            "day", F.expr(_slicing(seed, "vec_id")))
        self.next_day = SETUP_DAYS
        self.n_batches = 0
        self.probes: list[tuple[int, int, int]] = []  # (day, rows, hits)
        self.layer = {k: [] for k in STORES}  # (bytes, files) per batch
        self.compact_new_bytes: list[int] = []

    def _day(self, df, cmp):
        from pyspark.sql import functions as F

        return df.filter(cmp(F.col("day"))).drop("day")

    def _stamp(self, df, tag):
        from pyspark.sql import functions as F

        from activedata_etl_spark.sources import etl

        return etl.stamp_provenance(df, f"events/{tag}", F.col("event_id"))

    def setup(self) -> None:
        from activedata_etl_spark.ext import dedup_index as DI
        from activedata_etl_spark.ext import pq as PQ
        from activedata_etl_spark.sources import etl

        def early(c):
            return c < SETUP_DAYS

        etl.rollover_write(self._stamp(self._day(self.events, early), "setup"),
                           self.paths["events"], "ts")
        DI.build_index(self._day(self.docs, early), "doc_id", "text",
                       self.paths["dedup"])
        PQ.build_pq_index(self._day(self.vecs, early), "vec_id", "embedding",
                          self.paths["pq"])

    def batch(self, op: str, trace: bool) -> int:
        """Ingest the next day; returns the day."""
        from activedata_etl_spark.ext import dedup_index as DI
        from activedata_etl_spark.ext import pq as PQ
        from activedata_etl_spark.sources import etl

        d = self.next_day
        if d >= N_DAYS:
            raise RuntimeError("the run asks for more days than exist")
        self.next_day += 1
        self.n_batches += 1
        before = {k: dir_usage(p) for k, p in self.paths.items()} \
            if trace else None
        span, paths, spark = self.tracer.span, self.paths, self.spark

        def today(c):
            return c == d

        ev, docs, vecs = (self._day(x, today)
                          for x in (self.events, self.docs, self.vecs))
        with span("etl.rollover_write_ms", op):
            etl.rollover_write(self._stamp(ev, f"day={d}"), paths["events"],
                               "ts")
        with span("dedup_index.append_ms", op):
            DI.append_to_index(docs, "doc_id", "text", paths["dedup"])
        with span("pq.append_ms", op):
            PQ.append_pq_codes(vecs, "vec_id", "embedding", spark, paths["pq"])
        with span("dedup_index.pairs_against_ms", op):
            DI.pairs_against_index(docs, "doc_id", "text", spark,
                                   paths["dedup"]).collect()
        with span("visibility.probe_ms", op):
            got = etl.read_rollover(spark, paths["events"],
                                    f"2024-01-{d + 1:02d}",
                                    f"2024-01-{d + 2:02d}").count()
            hits = PQ.pq_index_topk(vecs.limit(5), "vec_id", "embedding",
                                    spark, paths["pq"]).collect()
        self.probes.append((d, got, len(hits)))
        if self.n_batches % COMPACT_EVERY == 0:
            old = _snapshot(paths["dedup"])
            with span("dedup_index.compact_ms", op):
                DI.compact_index(spark, paths["dedup"])
            self.compact_new_bytes.append(sum(
                s for p, s in _snapshot(paths["dedup"]).items()
                if p not in old))
        if trace:
            for k, p in paths.items():
                nb, nf = dir_usage(p)
                self.layer[k].append((nb - before[k][0], nf - before[k][1]))
        return d

    def check(self, con) -> tuple[dict, float, list[str]]:
        """Untimed, after the last batch: compact, then return (source rows
        per ingested day, stored bytes per ingested row, problems found
        comparing each probe with DuckDB and the stores with a
        from-scratch build)."""
        from activedata_etl_spark.ext import dedup_index as DI
        from activedata_etl_spark.ext import pq as PQ
        from activedata_etl_spark.sources import etl

        spark, last = self.spark, self.next_day
        src = source_counts(con, self.sf_dir, self.seed)
        rows = {d: sum(s.get(d, 0) for s in src.values())
                for d in range(last)}
        problems = []
        for d, got, hits in self.probes:
            want = src["events"].get(d, 0)
            if got != want or not hits:
                problems.append(f"ingest day {d}: rollover has {got} of "
                                f"{want} rows, topk answered {hits} rows")

        DI.compact_index(spark, self.paths["dedup"])
        stored = sum(dir_usage(p)[0] for p in self.paths.values())
        fresh = os.path.join(self.store, "dedup_fresh")
        DI.build_index(self._day(self.docs, lambda c: c < last), "doc_id",
                       "text", fresh)

        def pairs(path):
            return {(r[0], r[1]) for r in
                    DI.near_dup_pairs_from_index(spark, path).collect()}

        inc, scratch = pairs(self.paths["dedup"]), pairs(fresh)
        if inc != scratch:
            problems.append(f"dedup index pairs differ from a fresh build: "
                            f"{len(inc)} vs {len(scratch)}")
        n_vecs = sum(n for d, n in src["vecs"].items() if d < last)
        n_codes = (PQ.read_pq_codes(spark, self.paths["pq"])
                   .select("id").distinct().count())
        if n_codes != n_vecs:
            problems.append(f"pq index holds {n_codes} vectors, "
                            f"ingested {n_vecs}")
        per_day = {r["__period__"].day - 1: r["count"] for r in
                   etl.read_rollover(spark, self.paths["events"])
                   .groupBy("__period__").count().collect()}
        want = {d: n for d, n in src["events"].items() if d < last}
        if per_day != want:
            problems.append("rollover day counts differ from the source")
        return rows, stored / sum(rows.values()), problems

    def per_layer(self, res, ops: list[str], counters) -> None:
        """``ingest.*`` per-layer metrics: per-batch means over the timed
        batches ``ops``."""
        n = max(len(ops), 1)
        mine = [s for s in self.tracer.self_times() if s["op"] in ops]
        for name in LAYERS:
            res.put(f"ingest.{name}",
                    sum(s["self"] for s in mine if s["name"] == name)
                    * 1000.0 / n, "ms", len(ops))
        compact = [s["self"] for s in mine
                   if s["name"] == "dedup_index.compact_ms"]
        res.put("ingest.dedup_index.compact_ms",
                sum(compact) * 1000.0 / max(len(compact), 1), "ms",
                len(compact))
        res.put("ingest.compact.bytes_rewritten",
                sum(self.compact_new_bytes)
                / max(len(self.compact_new_bytes), 1), "B",
                len(self.compact_new_bytes))
        for k, vals in self.layer.items():
            nb = len(vals)
            res.put(f"ingest.{k}.bytes_per_batch", sum(v[0] for v in vals)
                    / max(nb, 1), "B", nb)
            res.put(f"ingest.{k}.files_per_batch", sum(v[1] for v in vals)
                    / max(nb, 1), "count", nb)
        pa = [s["self"] for s in mine
              if s["name"] == "dedup_index.pairs_against_ms"]
        half = len(pa) // 2
        if half:
            res.put("ingest.pairs_against.late_over_early",
                    (sum(pa[half:]) / (len(pa) - half))
                    / (sum(pa[:half]) / half), "ratio", len(pa))
        res.put("ingest.spark.jobs_per_batch",
                sum(counters.counts(op)["jobs"] for op in ops) / n, "count",
                len(ops))
