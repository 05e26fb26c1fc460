"""jx QueryOp → DataFrame planner.

Mirrors the reference's query lifecycle (SURVEY.md §3.2/§3.3) with Spark
as the backend: normalize the JSON clause set
(``vendor/jx_base/query.py :: QueryOp.wrap``), lower expressions
(plans/expressions.py), then compose relational ops:

    from → where → edges/groupby + select-aggregates → window → sort → limit

Supported clauses: ``from`` (view name or nested sub-query dict),
``select`` (expr / list / aggregates), ``where``, ``groupby``, ``edges``
(default | set | range | time domains, dense output), ``window``,
``sort``, ``skip``, ``limit``. Output ``format`` is handled by plans/format.py
(list/table/cube are presentations of the same DataFrame).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions import aggs as A
from ..functions.exact import davg, dsum
from ..operators import domains as D
from ..operators import windows as W
from .expressions import compile_expr, variable

_AGG_NAMES = {
    "count", "sum", "add", "min", "minimum", "max", "maximum", "avg",
    "average", "mean", "median", "percentile", "cardinality", "union",
    "stats", "first", "last", "one",
}


def run_formatted(spark: SparkSession, q: dict[str, Any]):
    """Service-style entry: run the query and return it in the requested
    ``format`` (list | table | cube) — the reference's HTTP API contract.
    Collects, so: final human-sized results only."""
    from . import format as FMT

    df = run(spark, q)
    if df.isStreaming:
        # a readStream-backed view: drain everything currently available
        # (AvailableNow), then present — the service's continuous-query
        # role with batch-equivalent answers (streaming/stream.py)
        from ..streaming.stream import drain_available_now

        df = drain_available_now(df)
    fmt = q.get("format", "list")
    if fmt == "list":
        return FMT.to_list(df)
    if fmt == "table":
        return FMT.to_table(df)
    if fmt == "cube":
        edges = [_normalize_edge(e)["name"] for e in _listify(q.get("edges"))]
        sel = [s["name"] for s in _normalize_selects(q.get("select"))]
        return FMT.to_cube(df, edges, sel)
    raise ValueError(f"unknown format: {fmt!r}")


def run(spark: SparkSession, q: dict[str, Any],
        allow_stream_drain: bool = True,
        plan_only: bool = False) -> DataFrame:
    """Execute a jx query dict against registered temp views.

    ``allow_stream_drain=False`` (the service's format=explain probe)
    suppresses the AvailableNow drains a streaming source would
    otherwise trigger for edges/sort/limit — the explain contract is
    "analyze + optimize, execute NOTHING", so a plan that needs a drain
    raises at analysis instead of running an arbitrarily large drain.

    ``plan_only=True`` extends that contract to the extension operators
    whose builders eagerly materialize (checkpoint and disk stages,
    see ``staging``): under plan-only the op returns its LAZY plan, so an explain on op:prefix_filter_pairs
    reports the real join plan instead of executing it. Implies
    ``allow_stream_drain=False``."""
    if plan_only:
        from ..staging import plan_only as _plan_only

        with _plan_only():
            return run(spark, q, allow_stream_drain=False, plan_only=False)
    if "cursor" in q:
        # cursor paging is a SERVICE feature: the service translates the
        # cursor into _cursor_where and emits the next cursor in
        # meta.cursor, which a DataFrame cannot carry. Silently ignoring
        # the clause would return the first page for every request —
        # wrong data, no error — so refuse loudly here.
        raise ValueError(
            "cursor paging is resolved by the HTTP service (POST /query);"
            " the library path returns a DataFrame and cannot emit the"
            " next cursor — build the predicate with"
            " plans.cursor.cursor_predicate and pass it as 'where'")
    df = _from(spark, q["from"], bounds=_range_bounds(q.get("where")))
    if "where" in q:
        df = df.filter(compile_expr(q["where"]))

    selects = _normalize_selects(q.get("select"))
    edges = [_normalize_edge(e) for e in _listify(q.get("edges"))]
    groupby = [_normalize_edge(g) for g in _listify(q.get("groupby"))]

    if edges or groupby:
        if df.isStreaming and edges and allow_stream_drain:
            # dense edge completion is a multi-stage plan (axis
            # completion + join-back) that Structured Streaming cannot
            # run as one complete-mode aggregation — drain the stream
            # (AvailableNow, parquet spill) FIRST and aggregate the
            # batch result: same batch-equivalent answer the service
            # contract promises for every format. Plain groupby stays
            # streaming (single aggregation, memory sink handles it).
            from ..streaming.stream import drain_available_now

            df = drain_available_now(df)
        df = _aggregate(spark, df, selects, edges or groupby, dense=bool(edges))
        for wspec in _listify(q.get("window")):
            df = _window(df, wspec)
    elif selects and any(s.get("aggregate") for s in selects):
        df = df.agg(*[_agg_column(s).alias(s["name"]) for s in selects])
        for wspec in _listify(q.get("window")):
            df = _window(df, wspec)
    else:
        # window is a SIBLING of select (reference QueryOp): its values
        # resolve against the source row, so compute windows BEFORE the
        # projection and carry their names through it.
        wnames = []
        for wspec in _listify(q.get("window")):
            df = _window(df, wspec)
            wnames.append(wspec["name"])
        if selects:
            # a select may (re)name a window column — or pull every
            # column via "." — so only auto-carry window names the
            # projection doesn't already produce (else: ambiguous dup)
            produced: set[str] = set()
            for s in selects:
                if s.get("value") == ".":
                    produced.update(df.columns)
                else:
                    produced.add(s["name"])
                    # a dotted name "a.b" emits the TOP-LEVEL struct column
                    # "a" (_nest_named): record that head too, else a window
                    # named "a" is still auto-carried → ambiguous duplicate
                    produced.add(s["name"].partition(".")[0])
                    # a select whose VALUE is the window's name consumed it
                    # (possibly renamed/nested) — carrying the original too
                    # would duplicate the data under both names
                    if isinstance(s.get("value"), str):
                        produced.add(s["value"])
            df = df.select(*_nest_named(df, selects),
                           *[F.col(n) for n in wnames if n not in produced])
    if "_cursor_where" in q:
        # keyset-cursor predicate (service-internal, see plans/cursor.py
        # — validate rejects it from clients as an unknown clause):
        # applied AFTER the projection so it resolves OUTPUT sort keys
        # (select aliases included), before sort/limit. Catalyst pushes
        # the filter through the Project to the scan, which is the whole
        # point of keyset paging.
        df = df.filter(compile_expr(q["_cursor_where"]))
    if df.isStreaming and allow_stream_drain \
            and ({"sort", "skip", "limit"} & q.keys()):
        # Structured Streaming rejects sort/limit outside complete-mode
        # aggregation — drain the stream (AvailableNow) first, then
        # order/page the batch result. This is what lets the service's
        # default row cap apply to a streaming view like any other.
        from ..streaming.stream import drain_available_now

        df = drain_available_now(df)
    if "sort" in q:
        df = df.orderBy(*[_sort_col(s) for s in _listify(q["sort"])])
    if "skip" in q:
        # offset paging (the service's skip/limit contract). Spark lowers
        # sort+offset+limit to one distributed top-(skip+limit) with the
        # first `skip` rows dropped on the driver side of the take — sane
        # for page-sized skips, degenerate for deep paging (use a
        # sort-key predicate cursor there, same as the reference).
        df = df.offset(int(q["skip"]))
    if "limit" in q:
        df = df.limit(int(q["limit"]))
    return df


# --- normalization (jx_base/query.py :: _normalize_*) --------------------

def _listify(v) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def _range_bounds(where) -> dict[str, tuple]:
    """Conservatively extract conjunctive range bounds ``{col: (lo,hi)}``
    from a jx where dict — the manifest-pruning hint for _from. Only
    shapes that are PROVABLY implied by the filter contribute (top-level
    AND of gt/gte/lt/lte/eq on a plain column vs a scalar literal);
    anything else extracts nothing, which is always safe: bounds only
    narrow the file list, the full predicate still applies after the
    scan. Strict bounds (gt/lt) extract as their inclusive relaxation —
    one-sided-safe for pruning."""
    out: dict[str, tuple] = {}

    def scalar(v):
        if isinstance(v, dict) and set(v) == {"literal"}:
            v = v["literal"]
        return v if isinstance(v, (int, float, str)) and not isinstance(
            v, bool) else None

    def visit(e) -> None:
        if not isinstance(e, dict) or len(e) != 1:
            return
        (op, args), = e.items()
        if op == "and" and isinstance(args, list):
            for sub in args:
                visit(sub)
            return
        if op not in ("gt", "gte", "lt", "lte", "eq"):
            return
        if isinstance(args, dict) and len(args) == 1:
            (col, v), = args.items()
        elif (isinstance(args, list) and len(args) == 2
              and isinstance(args[0], str)):
            col, v = args
            # pair form is expr-vs-expr: a bare string on the value side
            # is a COLUMN reference under compile_expr, not a literal —
            # e.g. {"lt": ["ts", "other_ts"]}. Extracting it as a string
            # bound would prune files against the NAME and silently drop
            # matching rows. Only {"literal": ...} or a non-string scalar
            # may contribute a bound here (dict form is unaffected: its
            # value side is always a constant).
            if isinstance(v, str):
                return
        else:
            return
        if not isinstance(col, str) or "." in col or (v := scalar(v)) is None:
            return
        lo, hi = out.get(col, (None, None))
        if op in ("gt", "gte", "eq"):
            lo = v if lo is None else max(lo, v)
        if op in ("lt", "lte", "eq"):
            hi = v if hi is None else min(hi, v)
        out[col] = (lo, hi)

    visit(where)
    return out


def _from(spark: SparkSession, frum,
          bounds: dict[str, tuple] | None = None) -> DataFrame:
    """Resolve the ``from`` clause: view name, nested query dict, or a
    DEEP path ``"table.arraycol"`` (jx deep query — es52/deep.py; child
    table in jx_sqlite): explode the array, carrying parent columns.

    ``bounds`` (extracted from the query's where by _range_bounds) routes
    a plain table name through io.scan_view — the manifest-aware load
    path — so a range query over a z-ordered layout opens only the files
    it can touch. The full where still applies in run(), so this is
    plan-shape only, never semantics."""
    if isinstance(frum, dict):
        if "op" in frum:  # extension operator (plans/extensions.py)
            from .extensions import run_op

            return run_op(spark, frum)
        return run(spark, frum)  # nested query (jx's having / sub-select)
    # the reference's queryable catalog: meta.columns / meta.tables are
    # virtual tables, resolved BEFORE deep-path splitting ("meta" is not
    # a view; the dot is part of the name, es52/meta.py's convention)
    if frum == "meta.tables":
        from ..io import meta_tables

        return meta_tables(spark)
    if frum == "meta.columns":
        from ..io import meta_columns

        return meta_columns(spark)
    if bounds and isinstance(frum, str) and "." not in frum:
        from ..io import scan_view

        df = scan_view(spark, frum, bounds=bounds)
        if df is not None:
            return df
    if "." in frum:
        from ..operators.nested import unnest

        # multi-hop deep path ("t.orders.items"): explode each child
        # array in turn, parent columns staying in scope at every level —
        # the reference walks arbitrarily deep nested docs the same way.
        parts = frum.split(".")
        df = spark.table(parts[0])
        for hop in parts[1:]:
            parents = [c for c in df.columns if c != hop]
            df = unnest(df, hop, parents)
        return df
    return spark.table(frum)


def _normalize_selects(select) -> list[dict]:
    if select is None:
        return []
    out = []
    for s in _listify(select):
        if isinstance(s, str):
            out.append({"name": s, "value": s})
        elif not ({"name", "value", "aggregate"} & set(s)):
            # a bare expression dict (e.g. {"leaves": "."}) IS the value
            out.append({"name": "value", "value": s})
        else:
            s = dict(s)
            v = s.get("value")
            s.setdefault("name", v if isinstance(v, str) else "value")
            out.append(s)
    return out


def _normalize_edge(e) -> dict:
    if isinstance(e, str):
        return {"name": e, "value": e, "domain": {"type": "default"}}
    e = dict(e)
    e.setdefault("name", e["value"] if isinstance(e.get("value"), str) else "edge")
    e.setdefault("domain", {"type": "default"})
    return e


def _nest_named(df: DataFrame, selects: list[dict]) -> list[Column]:
    """Select-clause shaping: ``"."`` = whole doc; dotted output names
    build nested structs (``{"name": "a.b", "value": x}`` →
    column ``a`` = struct(b: x)) — jx_base/query.py _normalize_select."""
    from ..operators.nested import leaf_paths

    flat: list[tuple[str, Column]] = []
    leaf_cols: list[Column] = []  # leaves stay FLAT dotted names, never re-nested
    for s in selects:
        v = s.get("value")
        if v == ".":
            flat.extend((c, F.col(c)) for c in df.columns)
        elif isinstance(v, dict) and set(v) == {"leaves"}:
            if v["leaves"] != ".":
                raise ValueError("leaves of a sub-path: use nested.leaves directly")
            leaf_cols.extend(F.col(p).alias(p) for p in leaf_paths(df.schema))
        else:
            col = compile_expr(v)
            if "default" in s:  # jx: missing value → select.default
                col = F.coalesce(col, F.lit(s["default"]))
            flat.append((s["name"], col))
    return leaf_cols + _nest_from_pairs(flat)


def _partition_path(name: str) -> tuple[str, str, str]:
    r"""``name.partition(".")`` honoring mo_dots escapes: the head is
    unescaped (``a\.b.c`` → head ``a.b``, rest ``c``); the rest keeps its
    escapes for the recursive call."""
    from .expressions import _UNESC_DOT

    m = _UNESC_DOT.search(name)
    if not m:
        return name.replace("\\.", "."), "", ""
    return name[:m.start()].replace("\\.", "."), ".", name[m.end():]


def _nest_from_pairs(pairs: list[tuple[str, Column]]) -> list[Column]:
    grouped: dict[str, list[tuple[str, Column]] | Column] = {}
    order: list[str] = []
    for name, col in pairs:
        head, dot, rest = _partition_path(name)
        if head not in grouped:
            order.append(head)
            grouped[head] = [] if dot else col
        if dot:
            grouped[head].append((rest, col))
    out = []
    for head in order:
        v = grouped[head]
        if isinstance(v, list):
            out.append(F.struct(*_nest_from_pairs(v)).alias(head))
        else:
            out.append(v.alias(head))
    return out


def _sort_col(s) -> Column:
    if isinstance(s, str):
        return variable(s).asc_nulls_first()  # jx: missing sorts first
    c = compile_expr(s["value"])
    return c.desc_nulls_last() if s.get("sort", 1) == -1 else c.asc_nulls_first()


# --- aggregates ----------------------------------------------------------

def _agg_column(s: dict) -> Column:
    col = _agg_column_raw(s)
    if "default" in s:  # jx: empty group / all-missing → select.default
        col = F.coalesce(col, F.lit(s["default"]))
    return col


def _agg_column_raw(s: dict) -> Column:
    agg = s["aggregate"]
    v = compile_expr(s["value"]) if s.get("value") not in (None, ".") else F.lit(1)
    if agg not in _AGG_NAMES:
        raise ValueError(f"unknown aggregate: {agg!r}")
    if agg == "count":
        return F.count(F.lit(1)) if s.get("value") in (None, ".") else F.count(v)
    if agg in ("sum", "add"):
        return dsum(v)
    if agg in ("min", "minimum"):
        return F.min(v)
    if agg in ("max", "maximum"):
        return F.max(v)
    if agg in ("avg", "average", "mean"):
        return davg(v)
    if agg == "median":
        return A.median(v)
    if agg == "percentile":
        return A.percentile(v, s.get("percentile", 0.5))
    if agg == "cardinality":
        return A.cardinality(v)
    if agg == "union":
        return A.union_(v)
    if agg == "stats":
        return _stats_struct(v)
    raise ValueError(f"aggregate {agg!r} needs an explicit sort — use the "
                     "library API (functions.aggs.first_/last_) instead")


def _stats_struct(v: Column) -> Column:
    """jx ``stats``: full moment struct in one aggregate expression
    (each moment appears once; Catalyst de-duplicates the shared
    partial aggregates)."""
    n = F.count(v)
    s1 = F.sum(v.cast("decimal(38,6)")).cast("double")
    s2 = F.sum((v * v).cast("decimal(38,6)")).cast("double")
    mean = s1 / n
    var = (s2 / n) - (mean * mean)
    return F.struct(
        n.alias("count"),
        s1.alias("sum"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        mean.alias("mean"),
        var.alias("variance"),
        F.sqrt(var).alias("std"),
    )


#: Cap on ``default`` edge-domain cardinality in dense mode — the
#: reference caps default domains at the top observed values (jx
#: DefaultDomain limit) instead of enumerating an unbounded observed
#: distinct; overridable per edge via ``domain.limit``. Without it a
#: dense multi-edge query over high-cardinality columns cross-joins an
#: unbounded cell grid (VERDICT r7 #2).
DEFAULT_DOMAIN_LIMIT = 1000


def _observed_parts(df: DataFrame, val: Column,
                    cap: int) -> tuple[list, bool, bool]:
    """Top-``cap`` observed values for a ``default`` edge domain, ranked
    by (frequency DESC, value ASC) — the deterministic tie-break keeps
    the domain engine-reproducible. One TakeOrdered job over the grouped
    counts; ``cap + 2`` rows also detect a tail (> cap distinct values)
    and observed NULLs, which decide whether the overflow part exists.
    The collect is DOMAIN-sized (≤ cap + 2 scalars), never data-sized."""
    rows = (df.groupBy(val.alias("__v__"))
            .agg(F.count(F.lit(1)).alias("__f__"))
            .orderBy(F.col("__v__").isNull().asc(),
                     F.col("__f__").desc(), F.col("__v__").asc())
            .limit(cap + 2).collect())
    nonnull = [r["__v__"] for r in rows if r["__v__"] is not None]
    has_null = any(r["__v__"] is None for r in rows)
    return nonnull[:cap], has_null, len(nonnull) > cap


def _aggregate(spark: SparkSession, df: DataFrame, selects: list[dict],
               edges: list[dict], dense: bool) -> DataFrame:
    keys, domains = [], []
    any_allow = False  # any edge with a NULL-keyed overflow part
    for e in edges:
        dom = e["domain"]
        val = compile_expr(e["value"])
        name = e["name"]
        # jx allowNulls: rows whose edge value is missing OR outside the
        # domain land in a NULL-keyed overflow part appended to the domain
        # (es52/decoders.py); without it those rows drop from the output.
        allow = bool(e.get("allowNulls")) and dense
        any_allow |= allow
        if dom["type"] == "set":
            parts = [p if not isinstance(p, dict) else p["value"]
                     for p in dom["partitions"]]
            if allow:
                val = F.when(val.isin(*parts), val)
            keys.append(val.alias(name))
            if dense:
                dframe = D.set_domain(spark, name, parts)
                domains.append(D.with_null_part(dframe, name) if allow else dframe)
        elif dom["type"] == "default":
            if dense:
                # default domain = top-N observed values by frequency,
                # the reference's DefaultDomain cap; values past the cap
                # (and NULL/missing) merge into the NULL overflow part.
                # Under the cap — the overwhelmingly common case — the
                # output is identical to the uncapped observed distinct.
                cap = int(dom.get("limit", DEFAULT_DOMAIN_LIMIT))
                if cap < 1:
                    raise ValueError(
                        f"edge {name!r}: domain.limit must be >= 1")
                from ..staging import is_plan_only

                if is_plan_only():
                    # explain contract: the frequency probe is a real
                    # scan — under plan-only, key on the raw value and
                    # derive the domain lazily from the agg result (the
                    # representative, execute-nothing plan shape)
                    keys.append(val.alias(name))
                    domains.append(("observed", allow))
                    continue
                parts, has_null, has_tail = _observed_parts(df, val, cap)
                include_null = allow or has_null or has_tail
                any_allow |= include_null
                if parts:
                    keys.append(F.when(val.isin(*parts), val).alias(name))
                else:  # empty/all-null source: NULL key of val's type
                    keys.append(F.when(F.lit(False), val).alias(name))
                domains.append(("observed", include_null))
            else:
                keys.append(val.alias(name))
        elif dom["type"] == "range":
            # bins anchor at MIN, not zero: the dense domain enumerates
            # min, min+i, … so the bucket key must be
            # floor((v−min)/i)·i+min — identical to the old 0-anchored
            # form whenever min is a multiple of interval (every prior
            # query), but a min like 1 with interval 2 mis-binned every
            # row to a key the domain never contains (caught by the
            # edges-over-extension-op composition test).
            bucket = (F.floor((val - dom["min"]) / dom["interval"])
                      * dom["interval"] + dom["min"]).cast("double")
            if allow:
                bucket = F.when((val >= dom["min"]) & (val < dom["max"]), bucket)
            keys.append(bucket.alias(name))
            if dense:
                dframe = (
                    D.range_domain(spark, name, dom["min"], dom["max"], dom["interval"])
                    .select(F.col(name).cast("double").alias(name)))
                domains.append(D.with_null_part(dframe, name) if allow else dframe)
        elif dom["type"] == "duration":
            lo_s, hi_s, iv_s = (D.parse_duration_seconds(dom[k])
                                for k in ("min", "max", "interval"))
            # min-anchored like the range domain (same latent mis-bin)
            bucket = (F.floor((val - lo_s) / iv_s) * iv_s + lo_s).cast("bigint")
            if allow:
                bucket = F.when((val >= lo_s) & (val < hi_s), bucket)
            keys.append(bucket.alias(name))
            if dense:
                dframe = D.duration_domain(spark, name, lo_s, hi_s, iv_s)
                domains.append(D.with_null_part(dframe, name) if allow else dframe)
        elif dom["type"] == "time":
            unit = dom.get("interval", "day")
            keys.append(F.date_trunc(unit, val).alias(name))
            if dense:
                bounds = df.select(
                    F.date_trunc(unit, F.min(val)).alias("lo"),
                    F.date_trunc(unit, F.max(val)).alias("hi"))
                dframe = D.time_domain_from_bounds(bounds, name, f"1 {unit}")
                domains.append(D.with_null_part(dframe, name) if allow else dframe)
        else:
            raise ValueError(f"unknown domain type: {dom['type']!r}")

    agg_cols = [_agg_column(s).alias(s["name"]) for s in selects if s.get("aggregate")]
    agged = df.groupBy(*keys).agg(*agg_cols) if agg_cols else df.groupBy(*keys).count()

    if dense:
        zero = [s["name"] for s in selects if s.get("aggregate") == "count"]
        # a multi-edge dense cube is the CROSS PRODUCT of the edge domains
        # (every cell combination, even empty) — not per-edge completion.
        # Edges with a `default` domain use their CAPPED observed values
        # (distinct non-null keys of the agg result — already remapped to
        # the top-N parts — plus the overflow part when it exists), so
        # the cross join is complete over them AND bounded: no edge
        # contributes more than its domain.limit cells.
        names = [e["name"] for e in edges]
        dom_frames = []
        for name, dom in zip(names, domains):
            if isinstance(dom, tuple):  # ("observed", include_null)
                dframe = (agged.select(name)
                          .filter(F.col(name).isNotNull()).distinct())
                dom_frames.append(D.with_null_part(dframe, name)
                                  if dom[1] else dframe)
            else:
                dom_frames.append(dom)
        if dom_frames:
            full = dom_frames[0]
            for d_ in dom_frames[1:]:
                full = full.crossJoin(d_)
            agged = D._complete(full, agged, names, zero_fill=zero,
                                null_safe=any_allow)
    return agged


def _window(df: DataFrame, spec: dict) -> DataFrame:
    """jx window clause: {name, value, aggregate, edges, sort, range}."""
    part = [compile_expr(e) for e in _listify(spec.get("edges"))]
    order = [_sort_col(s) for s in _listify(spec.get("sort"))]
    w = W.spec(part, order or None)
    rng = spec.get("range")
    agg = spec.get("aggregate")
    # offset/rank functions take NO frame: Spark rejects an explicit one
    # for lag/lead (found by the corpus case two_windows_different_frames
    # — lag with a sort crashed under the blanket running frame), and a
    # frame is meaningless for the rank family.
    frameless = agg in ("lag", "lead", "ntile", "rank", "dense_rank",
                        "row_number") or agg is None
    if frameless:
        if rng:
            raise ValueError(
                f"window aggregate {agg!r} does not take a range frame")
    elif rng:
        w = W.sliding(w, rng.get("min", 0), rng.get("max", 0))
    elif order:
        w = W.running(w)
    v = compile_expr(spec["value"]) if spec.get("value") else F.lit(1)
    if "where" in spec:  # jx window where: non-matching rows feed nothing
        v = F.when(compile_expr(spec["where"]), v)
    if agg == "count":
        col = F.count(v).over(w)
    elif agg in ("sum", "add"):
        col = F.sum(v.cast("decimal(18,6)")).over(w).cast("double")
    elif agg in ("min", "minimum"):
        col = F.min(v).over(w)
    elif agg in ("max", "maximum"):
        col = F.max(v).over(w)
    elif agg in ("avg", "average", "mean"):
        col = (F.sum(v.cast("decimal(18,6)")).over(w).cast("double") / F.count(v).over(w))
    elif agg == "row_number" or agg is None:
        col = F.row_number().over(w)
    elif agg == "rank":
        col = F.rank().over(w)
    elif agg == "dense_rank":
        col = F.dense_rank().over(w)
    elif agg == "lag":
        col = F.lag(v, spec.get("offset", 1)).over(w)
    elif agg == "lead":
        col = F.lead(v, spec.get("offset", 1)).over(w)
    elif agg == "ntile":
        col = F.ntile(int(spec.get("buckets", 4))).over(w)
    elif agg in ("first", "first_value"):
        col = F.first(v, ignorenulls=bool(spec.get("ignore_nulls"))).over(w)
    elif agg in ("last", "last_value"):
        col = F.last(v, ignorenulls=bool(spec.get("ignore_nulls"))).over(w)
    elif agg in ("percentile", "median"):
        p = 0.5 if agg == "median" else spec.get("percentile", 0.5)
        col = W.exact_percentile_over(v, w, p)
    else:
        raise ValueError(f"unsupported window aggregate: {agg!r}")
    return df.withColumn(spec["name"], col)
