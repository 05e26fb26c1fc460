"""Table loading for the testdata star schema + extension tables.

The reference's ETL surface reads gz JSON-lines blocks from S3 and writes
to Elasticsearch rollover indexes (reference: pyLibrary/aws/s3.py,
pyLibrary/env/rollover_index.py — see SURVEY.md §2.1). Our engine
standardizes on Parquet: columnar scan + predicate pushdown + partition
pruning replace the inverted index, and `spark.read.parquet` on a
date-partitioned layout replaces index rollover.
"""

from __future__ import annotations

import os
import re
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import ensure_runtime_confs

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-session memo of loaded tables: DataFrames are immutable lazy plans, so
# handing back the same object is safe and skips repeated parquet footer /
# schema reads when many queries touch the same table. Keyed weakly by
# session so a stopped session's entries are collectable.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _apply_bounds(df: DataFrame, bounds: dict[str, tuple]) -> DataFrame:
    for col, (lo, hi) in bounds.items():
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
    return df


def load_parquet(spark: SparkSession, path: str,
                 bounds: dict[str, tuple] | None = None) -> DataFrame:
    """Manifest-aware parquet read — THE standard load path.

    ``bounds`` is an optional conjunctive range predicate
    ``{col: (lo, hi)}`` (inclusive; ``None`` = unbounded side) that is
    always APPLIED to the result, so the contract is exactly
    ``read(path).filter(bounds)``. When a persisted per-file manifest
    exists next to the data (sources/layout.write_manifest) and covers a
    bounded column, the read opens ONLY the files whose stat ranges
    intersect the bounds — z-order/manifest pruning through the normal
    read path, no opt-in helper (VERDICT r4 #3). Pruning is one-sided
    (may admit a file with no matching rows, never drops one with), so
    applying the exact predicate on top preserves equivalence."""
    ensure_runtime_confs(spark)
    if bounds:
        from .sources import layout

        mpath = layout.manifest_path(path)
        if os.path.isdir(mpath):
            manifest = spark.read.parquet(mpath)
            usable = {c: b for c, b in bounds.items()
                      if f"min_{c}" in manifest.columns}
            if usable:
                files = layout.prune_files_multi(manifest, usable)
                base = (spark.read.parquet(*files) if files
                        else spark.read.parquet(path).filter(F.lit(False)))
                return _apply_bounds(base, bounds)
        return _apply_bounds(spark.read.parquet(path), bounds)
    return spark.read.parquet(path)


def schema_record(df: DataFrame, partition_cols=()) -> str | None:
    """DDL record of the schema a parquet read of ``df``'s files
    returns, for the meta file of the store that writes them: the data
    columns only. The partition columns are left out, so a read still
    infers them from the directory names exactly as it would without a
    record. DDL carries no nullability; a parquet read makes every
    column nullable anyway. None (no record) when a nested field name or
    a type would not survive the DDL round trip."""
    from pyspark.sql.types import (ArrayType, MapType, StructType,
                                   UserDefinedType)

    def plain(t) -> bool:
        if isinstance(t, StructType):
            return all(re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", f.name) and
                       plain(f.dataType) for f in t.fields)
        if isinstance(t, ArrayType):
            return plain(t.elementType)
        if isinstance(t, MapType):
            return plain(t.keyType) and plain(t.valueType)
        return not isinstance(t, UserDefinedType)

    fields = [f for f in df.schema.fields if f.name not in partition_cols]
    if not all(plain(f.dataType) for f in fields):
        return None
    return ", ".join("`{}` {}".format(f.name.replace("`", "``"),
                                      f.dataType.simpleString())
                     for f in fields)


def note_schema(schemas: dict, table: str, df: DataFrame, replaces: bool,
                partition_cols=()) -> None:
    """Update a store's ``{table: schema_record}`` map after writing
    ``df`` to ``table``. ``replaces``: the write left only ``df``'s files
    (an overwrite, or the table's first files). An append whose schema
    differs from the record leaves a mixed table, which then reads by
    inference, as it would without records."""
    rec = schema_record(df, partition_cols)
    if rec is not None and (replaces or schemas.get(table) == rec):
        schemas[table] = rec
    else:
        schemas.pop(table, None)


def open_stored(spark: SparkSession, path: str,
                record: str | None = None) -> DataFrame:
    """Open a parquet table the engine wrote. With its
    :func:`schema_record` the open runs no Spark job, where schema
    inference runs one to read a footer; without a record (a store
    written before records existed, or one holding mixed schemas) it
    reads as ``spark.read.parquet`` does."""
    if record is None:
        return spark.read.parquet(path)
    return spark.read.schema(record).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str,
               bounds: dict[str, tuple] | None = None) -> DataFrame:
    """Read one testdata table, normalizing types where parquet physical
    types don't map cleanly onto Spark SQL types.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS) which Spark rejects;
    with ``spark.sql.legacy.parquet.nanosAsLong`` it reads as LongType
    nanoseconds, converted here to a microsecond timestamp. The conversion is
    lossless for this data (sub-microsecond digits are zero — FIXTURES.md)
    and uses integer division so no precision is lost at ~1.7e18 magnitudes.

    ``bounds`` routes through the manifest-aware load_parquet (see
    there); events is excluded from manifest pruning because its ``ts``
    is normalized AFTER the read, so raw file stats and user-visible
    values disagree — bounds still apply as plain filters.
    """
    try:
        per_session = _TABLE_CACHE.setdefault(spark, {})
    except TypeError:  # un-weakref-able session double (tests/mocks)
        per_session = {}
    if bounds and name != "events":
        from .sources import layout

        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(layout.manifest_path(path)):
            # pruned reads are file-subset-specific — never cached
            return load_parquet(spark, path, bounds)
        # no manifest → keep the cached scan, bounds apply as filters
    key = (os.path.abspath(sf_dir), name)
    df = per_session.get(key)
    if df is None:
        ensure_runtime_confs(spark)
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        per_session[key] = df
    return _apply_bounds(df, bounds) if bounds else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def parallelize_narrow_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Widen a scan that has fewer splits than cores so per-row CPU work
    (regex kits, hashing, UDF batches) spreads across the executor.

    Parquet splits at row-group boundaries: a single-row-group file (or a
    gz JSON blob) scans as ONE task no matter how heavy the map work is,
    and neither Catalyst nor AQE will widen it. The round-robin shuffle
    here is cheap exactly when it triggers (input is at most a few splits
    ⇒ small); at real scale sources have splits ≫ cores and this is a
    no-op — it can never shuffle big data.
    """
    from .session import default_parallelism

    target = min_parts or default_parallelism()
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def describe_columns(df: DataFrame) -> DataFrame:
    """Column metadata catalog — the reference's queryable ``meta.columns``
    (``vendor/jx_elasticsearch/meta.py :: ColumnList``): per column its
    name, type, exact cardinality and null count, computed in ONE
    aggregate pass then unpivoted (no per-column jobs)."""
    # quote input names and key the stat aliases POSITIONALLY: a column
    # literally named "n.name" (legal — the dotted-output tests make
    # them) must neither parse as struct access nor leak its dot into a
    # generated alias (r12 full-suite catch: a foreign temp view with a
    # dotted column crashed every later unpinned catalog scan)
    aggs = []
    for i, (name, dtype) in enumerate(df.dtypes):
        src = F.col("`" + name.replace("`", "``") + "`")
        aggs.append(F.countDistinct(src).alias(f"__card_{i}"))
        aggs.append((F.count(F.lit(1)) - F.count(src)).alias(f"__nulls_{i}"))
    stats = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(name).alias("column"),
            F.lit(dtype).alias("dtype"),
            F.col(f"__card_{i}").alias("cardinality"),
            F.col(f"__nulls_{i}").alias("n_nulls"),
        )
        for i, (name, dtype) in enumerate(df.dtypes)
    ])
    return stats.select(F.explode(rows).alias("c")).select("c.*")


def meta_tables(spark: SparkSession) -> DataFrame:
    """``meta.tables`` as a jx-queryable frame (r12 — VERDICT r11 #5):
    one row per catalog-visible table/view, the reference's
    ``{"from": "meta.tables"}`` surface. Driver-built (the catalog
    listing IS driver state) and a few rows — never a data scan."""
    rows = [(t.name, t.tableType.lower(), bool(t.isTemporary))
            for t in spark.catalog.listTables()]
    return spark.createDataFrame(
        rows, "table string, type string, is_temporary boolean")


def meta_columns(spark: SparkSession) -> DataFrame:
    """``meta.columns`` as a jx-queryable frame: the per-table column
    catalogs (:func:`describe_columns` — name/dtype/exact NDV/nulls)
    unioned with a literal ``table`` column. Built LAZILY over every
    catalog view, but a query that pins the table (``{"eq": {"table":
    "nation"}}``) costs only that table's one aggregate pass: the
    filter pushes through the union, constant-folds against each
    child's literal, and PropagateEmptyRelation deletes every other
    child's scan from the plan (test_jx pins this with an explain
    assert). An unpinned ``meta.columns`` scan really does catalog
    everything — same cost as the reference's full-catalog refresh."""
    out = None
    for t in spark.catalog.listTables():
        try:
            df = spark.table(t.name)
        except Exception:
            continue  # dropped concurrently / unreadable provider
        if df.isStreaming:
            # a streaming temp view (readStream-backed) taints the
            # WHOLE union as streaming even when a pinned filter would
            # prune it — UnsupportedOperationChecker rejects the batch
            # collect before the optimizer runs (r12 full-suite catch:
            # a leftover stream view crashed every later catalog scan).
            # NDV/null stats are not batch-computable on a stream; the
            # view still appears in meta.tables, which never scans.
            continue
        # map columns are not countDistinct-able (unorderable) — they'd
        # fail ANALYSIS for the whole union even when pruned; keep the
        # catalog total by excluding them per-table
        cols = [c for c, dt in df.dtypes if not dt.startswith("map<")]
        if not cols:
            continue
        # quote: a view column named "n.name" must not parse as a path
        d = (describe_columns(
                df.select(*[F.col("`" + c.replace("`", "``") + "`")
                            for c in cols]))
             .select(F.lit(t.name).alias("table"),
                     "column", "dtype", "cardinality", "n_nulls"))
        out = d if out is None else out.unionByName(d)
    if out is None:
        return spark.createDataFrame(
            [], "table string, column string, dtype string, "
                "cardinality bigint, n_nulls bigint")
    return out


def describe_columns_nested(df: DataFrame, exact: bool = True) -> DataFrame:
    """Nested-path column catalog — the reference ColumnList's remaining
    behavior (``vendor/jx_elasticsearch/meta.py``: per-index columns
    include struct/array LEAF paths with their nested depth, so
    ``meta.columns`` answers for ``task.artifacts.name`` the same as for
    a top-level field). :func:`describe_columns` walks ``df.dtypes``
    (top level only); this walks the full schema.

    Per leaf dot-path: (column, dtype, nested_depth, cardinality,
    n_nulls, n_values) where ``nested_depth`` counts the array hops on
    the path (the reference's "nested" level), ``n_values`` counts
    non-null leaf values at leaf multiplicity (one per array element —
    ES nested-doc counting), ``n_nulls`` counts null leaf values among
    EXISTING elements/rows (a missing array contributes no elements,
    matching the reference: no nested doc, no value).

    One job: every leaf projects its values as array<string> (scalar →
    singleton, k array hops → flatten), one explode stacks (column,
    value), one groupBy counts — no per-column jobs. The leaf LIST comes
    from the schema (driver-side, no data probe), LEFT-joined so an
    all-empty leaf keeps its catalog row with zero counts (same contract
    as describe_columns_refresh's all-NULL columns). Exact countDistinct
    = one (column, v)-keyed distinct shuffle; ``exact=False`` is the
    100 TB form — per-leaf NDV from the portable md5-HLL registers
    (functions/hll.py: map-side-reduced to ≤256 register rows per leaf,
    no distinct shuffle anywhere), output column ``raw_est`` REPLACING
    ``cardinality`` (the refresh-path contract: callers apply linear
    counting below 2.5·m; an all-empty leaf has raw_est NULL)."""
    from pyspark.sql import types as T

    leaves: list[tuple] = []

    def walk(dt, path, expr, depth):
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                child = f"{path}.{f.name}" if path else f.name
                walk(f.dataType, child, expr.getField(f.name), depth)
        elif isinstance(dt, T.ArrayType):
            # dot-path through an array maps over elements (FlatList
            # semantics): the expression shape is already the nested
            # array of leaf values, only the depth count advances
            walk(dt.elementType, path, expr, depth + 1)
        else:
            if depth == 0:
                vals = F.array(expr.cast("string"))
            else:
                vals = expr
                for _ in range(depth - 1):
                    # a NULL inner array would null the whole flatten
                    # (losing the siblings' values); drop it first — a
                    # missing nested array contributes no elements,
                    # same rule as the top level
                    vals = F.flatten(
                        F.filter(vals, lambda a: a.isNotNull()))
                vals = F.coalesce(
                    F.transform(vals, lambda x: x.cast("string")),
                    F.array().cast("array<string>"))
            leaves.append((path, dt.simpleString(), depth, vals))

    for f in df.schema.fields:
        walk(f.dataType, f.name, F.col(f"`{f.name}`"), 0)

    stacked = df.select(F.explode(F.array(*[
        F.struct(F.lit(p).alias("column"), vals.alias("vals"))
        for p, _, _, vals in leaves])).alias("c")).select("c.*")
    elems = stacked.select("column", F.explode("vals").alias("v"))
    aggs = [(F.count(F.lit(1)) - F.count("v")).alias("n_nulls"),
            F.count("v").alias("n_values")]
    if exact:
        aggs.insert(0, F.countDistinct("v").alias("cardinality"))
    counts = elems.groupBy("column").agg(*aggs)
    base = df.sparkSession.createDataFrame(
        [(p, t, d) for p, t, d, _ in leaves],
        "column string, dtype string, nested_depth int")
    zero = F.lit(0).cast("bigint")
    ndv_col = [F.coalesce("cardinality", zero).alias("cardinality")]
    out = base.join(counts, "column", "left")
    if not exact:
        from .functions import hll

        regs = hll.hll_registers(
            elems.filter(F.col("v").isNotNull()), ["column"], "v")
        out = out.join(hll.hll_estimate(regs, ["column"])
                       .select("column", "n_buckets", "n_zero", "raw_est"),
                       "column", "left")
        # raw_est + (n_buckets, n_zero) so callers can apply linear
        # counting in the low-cardinality regime — the hll_estimate /
        # describe_columns_refresh contract (ln stays out of hashable
        # outputs)
        ndv_col = [F.col("n_buckets"), F.col("n_zero"), F.col("raw_est")]
    return out.select("column", "dtype", "nested_depth", *ndv_col,
                      F.coalesce("n_nulls", zero).alias("n_nulls"),
                      F.coalesce("n_values", zero).alias("n_values"))


def describe_columns_refresh(df: DataFrame,
                             columns: list[str] | None = None,
                             exact_audit: bool = True) -> DataFrame:
    """Scheduled-maintenance companion to :func:`describe_columns`
    (VERDICT r7 #8): per-column NDV from portable md5-HLL registers
    (functions/hll.py) over ONE stacked (column, value) projection —
    values hash once, map-side-reduce to ≤256 register rows per column.
    Two small aggregations consume the stacked projection (row/null
    counts; registers), each fully map-side-combining — no per-column
    jobs, and with ``exact_audit=False`` no distinct shuffle anywhere.

    ``exact_audit=True`` (the default, meant for the gate/test scales)
    ADDS an exact ``countDistinct`` per column — a full distinct
    shuffle, exactly the cost the register path exists to avoid — so
    the estimate can be audited in-row. At 100 TB pass ``False``: the
    registers alone are the refresh (tiny, mergeable across shards/days
    via hll.append_registers / hll_merge), and ``exact_ndv`` is NULL.

    Values hash through CAST AS STRING, engine-reproducible for
    integer/string columns (normalize floats/timestamps explicitly
    before refreshing them). ``raw_est`` is the raw-regime estimate;
    callers apply linear counting below 2.5·m client-side, same
    contract as hll.hll_estimate (ln() stays out of hashable outputs).
    An all-NULL column keeps its catalog row (counts present, register
    fields NULL — no data, no estimate), via a LEFT join from counts.

    Output: (column, n_rows, n_nulls, exact_ndv, n_buckets, n_zero,
    harmonic_scaled, raw_est)."""
    from .functions import hll

    cols = columns or [n for n, _ in df.dtypes]
    stacked = df.select(F.explode(F.array(*[
        F.struct(F.lit(n).alias("column"),
                 F.col(n).cast("string").alias("v"))
        for n in cols])).alias("c")).select("c.*")
    regs = hll.hll_registers(
        stacked.filter(F.col("v").isNotNull()), ["column"], "v")
    est = hll.hll_estimate(regs, ["column"])
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("v")).cast("bigint").alias("n_nulls"),
        (F.countDistinct("v") if exact_audit else F.lit(None))
        .cast("bigint").alias("exact_ndv"),
    ]
    counts = stacked.groupBy("column").agg(*aggs)
    return counts.join(est, "column", "left")


# View name → where its data lives, so the jx front-end can re-resolve a
# `from` clause through the manifest-aware load path when the query's
# `where` carries range bounds (plans/query._from). ("table", sf_dir,
# name) entries keep table-specific normalization (events.ts); ("path",
# p) entries are plain parquet dirs (register_parquet_table).
_VIEW_SOURCES: dict[str, tuple] = {}


# Attached-index NAME → base directory, recorded by
# service.attach_indexes (and available to library callers). Extension
# ops that need a persisted index's FILES (the stable-order prefix
# index reads positioned rows + the frozen order, not a single view)
# resolve through this registry — the jx surface never accepts raw
# filesystem paths, only names an operator explicitly attached.
_INDEX_PATHS: dict[str, str] = {}


def register_index_path(name: str, path: str) -> None:
    _INDEX_PATHS[name] = path


def index_path(name: str) -> str | None:
    return _INDEX_PATHS.get(name)


def scan_view(spark: SparkSession, name: str,
              bounds: dict[str, tuple] | None = None) -> DataFrame | None:
    """Re-resolve a registered view through the manifest-aware load path
    (None if the view wasn't registered through this module)."""
    src = _VIEW_SOURCES.get(name)
    if src is None:
        return None
    if src[0] == "table":
        return load_table(spark, src[1], src[2], bounds=bounds)
    return load_parquet(spark, src[1], bounds=bounds)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
        _VIEW_SOURCES[name] = ("table", sf_dir, name)
    return dfs


def register_parquet_table(spark: SparkSession, name: str,
                           path: str) -> DataFrame:
    """Register an arbitrary parquet dir (a user layout, a persisted
    index) as a queryable view. If a manifest sits next to it
    (layout.write_manifest), jx queries with range predicates on
    manifest'd columns read only the files they can touch."""
    df = load_parquet(spark, path)
    df.createOrReplaceTempView(name)
    _VIEW_SOURCES[name] = ("path", path)
    return df
