"""ETL dataflow templates: the reference's pipeline surface on Spark.

Reference shape (SURVEY.md §3.1): SQS todo → fetch S3 gz-JSON block →
pure-python transform → write child block with hierarchical etl key
(``activedata_etl/__init__.py :: etl2key``) stamping provenance
(``doc.etl = {id, source: {...}, timestamp, ...}``) → notify next stage →
separate worker bulk-loads Elasticsearch rollover indexes routed by doc
date (``pyLibrary/env/rollover_index.py``).

Spark restatement:

- block/batch        → DataFrame (partition = block)
- etl key chain      → ``etl`` struct column (provenance travels WITH rows)
- S3 re-blocking     → shuffle / partitioned write
- rollover index     → ``write.partitionBy(<date>)`` parquet layout;
                       partition pruning replaces index selection
- idempotent re-run  → deterministic partition overwrite (dynamic mode):
                       re-processing a block replaces exactly its output
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def etl2key(etl: dict) -> str:
    """Serialize a provenance chain to the reference's hierarchical block
    key: child ids PREPENDED dot-separated, so ``{"id": 2, "source":
    {"id": 7, "source": {"id": "t1"}}}`` → ``"t1.7.2"`` (reference:
    activedata_etl/__init__.py etl2key — ids accumulate left-to-right
    from root source to leaf transform)."""
    parts: list[str] = []
    node = etl
    while node is not None:
        parts.append(str(node["id"]))
        node = node.get("source")
    return ".".join(reversed(parts))


def key2etl(key: str) -> dict:
    """Inverse of etl2key: ``"t1.7.2"`` → nested source chain."""
    parts = key.split(".")
    node: dict | None = None
    for p in parts:
        pid: int | str = int(p) if p.isdigit() else p
        node = {"id": pid} if node is None else {"id": pid, "source": node}
    return node


def stamp_provenance(df: DataFrame, source_key: str, id_col,
                     revision: str = "dev") -> DataFrame:
    """Attach the reference's ``etl`` provenance struct to every row.

    ``id_col`` must be a deterministic per-row expression (the reference
    uses position-in-block; at Spark scale a stable natural key is safer
    than monotonically_increasing_id, which depends on partition layout).
    ``timestamp`` is stamped with a *column* so re-runs are comparable;
    callers wanting wall-clock pass their own.
    """
    etl = F.struct(
        id_col.alias("id"),
        F.lit(source_key).alias("source_key"),
        F.lit(revision).alias("revision"),
    )
    return df.withColumn("etl", etl)


#: Sidecar in a rollover root holding its read schema; the underscore
#: keeps it out of Spark's file listing.
ROLLOVER_SCHEMA = "_graft_schema.ddl"


def rollover_write(df: DataFrame, path: str, date_col: str, unit: str = "day") -> None:
    """Date-partitioned parquet write = the rollover index.

    Dynamic partition overwrite keeps re-runs idempotent per period —
    the Spark analog of routing docs into per-week indexes and replacing
    re-ETL'd blocks by `_id`. The read schema goes to the
    ``ROLLOVER_SCHEMA`` sidecar so :func:`read_rollover` opens the store
    without a Spark job. A store that already held rows without a
    sidecar, or with another schema, keeps (or gets) none: it may mix
    schemas, so it reads by inference as before.
    """
    import os

    from ..io import note_schema

    side = os.path.join(path, ROLLOVER_SCHEMA)
    schemas = {}
    if os.path.isfile(side):
        with open(side) as f:
            schemas["rollover"] = f.read()
    fresh = not os.path.isdir(path)
    out = df.withColumn("__period__",
                        F.date_trunc(unit, F.col(date_col)).cast("date"))
    (out.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("__period__")
     .parquet(path))
    if fresh or schemas:
        note_schema(schemas, "rollover", out, fresh, ("__period__",))
    if "rollover" in schemas:
        with open(side + ".tmp", "w") as f:
            f.write(schemas["rollover"])
        os.replace(side + ".tmp", side)
    elif os.path.isfile(side):
        os.remove(side)


def read_rollover(spark: SparkSession, path: str,
                  start: str | None = None, end: str | None = None) -> DataFrame:
    """Read a rollover layout with period pruning — the query service's
    'only open indexes overlapping the where-clause time range'
    (pyLibrary/env/rollover_index.py). The filter is on the partition
    column so only matching directories are scanned (PartitionFilters in
    the plan; asserted in tests). The open itself runs no Spark job when
    the store carries its schema sidecar."""
    import os

    from ..io import open_stored

    side = os.path.join(path, ROLLOVER_SCHEMA)
    rec = None
    if os.path.isfile(side):
        with open(side) as f:
            rec = f.read()
    df = open_stored(spark, path, rec)
    if start:
        df = df.filter(F.col("__period__") >= start)
    if end:
        df = df.filter(F.col("__period__") < end)
    return df


def snapshot_diff(old: DataFrame, new: DataFrame, key_cols: list[str],
                  compare_cols: list[str]) -> DataFrame:
    """CDC-style diff of two table snapshots: one row per changed key
    with ``change`` ∈ {added, removed, changed}.

    The comparison never moves row bodies: both sides reduce to
    (key, md5-of-compare-columns) projections, the full-outer join
    shuffles only keys+hashes, and 'changed' is a hash inequality. At
    100 TB this is the nightly "what moved between snapshots" primitive
    — the shuffle is O(keys), and with both snapshots written bucketed
    on the key it degrades to a zipper join with no shuffle at all.
    md5 over a '|'-joined cast-to-string of the compare columns keeps
    the fingerprint engine-portable (oracle recomputes it)."""
    def fingered(df: DataFrame, tag: str) -> DataFrame:
        fp = F.md5(F.concat_ws("|", *[F.col(c).cast("string")
                                      for c in compare_cols]))
        return df.select(*key_cols, fp.alias(f"__fp_{tag}__"))

    o, n = fingered(old, "o"), fingered(new, "n")
    j = o.join(n, key_cols, "full_outer")
    return (j.withColumn(
        "change",
        F.when(F.col("__fp_o__").isNull(), F.lit("added"))
         .when(F.col("__fp_n__").isNull(), F.lit("removed"))
         .when(F.col("__fp_o__") != F.col("__fp_n__"), F.lit("changed")))
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change"))


def scd2_merge(history: DataFrame, snap: DataFrame, key_cols: list[str],
               compare_cols: list[str], version: int) -> DataFrame:
    """Fold one snapshot into an SCD-type-2 history table — the
    dimension-versioning primitive a warehouse runs per load:
    ``history`` rows are (keys..., fp, valid_from, valid_to) with
    valid_to NULL marking the open version; applying snapshot
    ``version`` closes open rows whose fingerprint changed or whose key
    disappeared (valid_to = version) and opens rows for added/changed
    keys (valid_from = version).

    Same scale shape as :func:`snapshot_diff`: row bodies never move —
    the open slice and the snapshot reduce to (key, md5) projections,
    one full-outer join on the key decides every case, and closed
    history passes through untouched (at 100 TB: partition history by
    valid_to IS NULL so the closed mass is never even read)."""
    fp = F.md5(F.concat_ws("|", *[F.col(c).cast("string")
                                  for c in compare_cols]))
    snap_fp = snap.select(*key_cols, fp.alias("__new__"))
    open_rows = history.filter(F.col("valid_to").isNull())
    closed = history.filter(F.col("valid_to").isNotNull())
    j = open_rows.join(snap_fp, key_cols, "full_outer")
    had, has = F.col("fp").isNotNull(), F.col("__new__").isNotNull()
    same = had & has & (F.col("fp") == F.col("__new__"))
    survived = j.filter(same).select(
        *key_cols, "fp", "valid_from", F.lit(None).cast("int").alias("valid_to"))
    now_closed = j.filter(had & ~same).select(
        *key_cols, "fp", "valid_from",
        F.lit(version).cast("int").alias("valid_to"))
    opened = j.filter(has & ~same).select(
        *key_cols, F.col("__new__").alias("fp"),
        F.lit(version).cast("int").alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"))
    return closed.unionByName(now_closed).unionByName(survived) \
        .unionByName(opened)


def retention_sweep(path: str, cutoff: str) -> list[str]:
    """Drop rollover periods OLDER than ``cutoff`` (ISO date string) —
    the retention policy every date-partitioned store runs (the
    reference's ecosystem aged out rollover indexes the same way; here
    a period is a partition directory, so expiry is a directory delete,
    no rewrite). Returns the removed period values.

    Deletion is per-period atomic (whole directories); readers racing a
    sweep see each period either fully present or fully gone — the same
    contract as the idempotent per-period overwrite. Partition values
    parse from the directory names, so nothing is scanned."""
    import os
    import shutil

    removed = []
    for d in sorted(os.listdir(path)):
        if not d.startswith("__period__="):
            continue
        period = d.split("=", 1)[1]
        if period < cutoff:
            shutil.rmtree(os.path.join(path, d))
            removed.append(period)
    return removed
