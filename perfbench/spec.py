"""Names and fixed settings of the benchmark; ``BENCHMARK.json`` lists the
same metric names. Importing this module imports nothing from the engine,
so ``run.py`` can refuse a checkout without the package cleanly."""

from __future__ import annotations

#: Pinned JVM heap: well below the 15 GB of the 4-core reference box,
#: so the page cache and other tenants never decide the run's memory.
DRIVER_MEM = "3g"

WORKLOADS = ("jx_serve", "batch_jobs")

#: (name, unit) of the end-to-end metrics; every workload reports each.
END_TO_END = {
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "rows_per_s": "rows/s",
}

JX_CLASSES = ("answer", "page")
JX_LAYERS = {
    "service.overhead_ms": "ms",
    "plans.validate.ms": "ms",
    "plans.query.run.ms": "ms",
    "plans.format.ms": "ms",
    "service.encode.ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "jvm.gc_ms_per_op": "ms",
    "rows_per_op": "count",
}

#: batch_jobs: one registry query from each of six families, plus the
#: ``ingest`` family (one daily batch, see ``ingest.py``); the timed
#: sequence runs each once per pass, in a seeded order. The set is what
#: fits a run of about 75 s; README.md lists what is left out.
FAMILIES = {
    "relational": ("tpch_q5_local_supplier_volume",),
    "events": ("events_sessionize_30m",),
    "dedup": ("dedup_minhash_bands",),
    "similarity": ("sim_ann_multiprobe_bulk",),
    "text": ("text_bm25_topk",),
    "nested_etl": ("etl_manifest_pruned_read",),
}
FAMILY_LAYERS = {
    "queries.build_ms": "ms",
    "queries.build_spark_jobs": "count",
    "run_ms": "ms",
    "spark.tasks": "count",
}

INGEST_LAYERS = {
    "etl.rollover_write_ms": "ms",
    "dedup_index.append_ms": "ms",
    "pq.append_ms": "ms",
    "dedup_index.pairs_against_ms": "ms",
    "visibility.probe_ms": "ms",
    "dedup_index.compact_ms": "ms",
    "compact.bytes_rewritten": "B",
    "dedup.bytes_per_batch": "B",
    "pq.bytes_per_batch": "B",
    "events.bytes_per_batch": "B",
    "dedup.files_per_batch": "count",
    "pq.files_per_batch": "count",
    "events.files_per_batch": "count",
    "pairs_against.late_over_early": "ratio",
    "spark.jobs_per_batch": "count",
}

COMMON_LAYERS = {
    "setup.session_s": "s",
    "setup.register_views_s": "s",
    "setup.index_build_s": "s",
    "jvm.gc_ms_per_op": "ms",
    "trace.ops_per_s": "1/s",
    "trace.rows_per_s": "rows/s",
}

#: Per-layer metrics; every workload reports every one (0 for a layer it
#: never calls).
PER_LAYER = {
    **COMMON_LAYERS,
    **{f"{c}.{k}": u for c in JX_CLASSES for k, u in JX_LAYERS.items()},
    **{f"{f}.{k}": u for f in FAMILIES for k, u in FAMILY_LAYERS.items()},
    **{f"ingest.{k}": u for k, u in INGEST_LAYERS.items()},
    "ingest.stored_bytes_per_row": "B",
    "cache.persisted_rdds": "count",
    "scratch.dirs": "count",
    "scratch.mb": "MB",
}
