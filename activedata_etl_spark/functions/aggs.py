"""jx aggregate semantics as Spark aggregate Column builders.

The reference accepts these names in ``select.aggregate`` (canonical list in
``vendor/jx_base/query.py :: canonical_aggregates``; python accumulators in
``vendor/jx_python/windows.py``; ES lowering in
``vendor/jx_elasticsearch/es52/aggs.py``): count, sum, min/max, avg, median,
percentile, cardinality, stats, union, first/last, one.

Float-valued aggregates route through the exact-decimal pattern
(``functions/exact.py``) so results are order-independent. The ``stats``
aggregate follows the reference's zero-moment design
(``vendor/mo_math/stats.py :: ZeroMoment``): accumulate raw moments
Z0..Z4 — which ARE partial-aggregatable, exactly why the reference chose
them — then derive mean/variance/skew/kurtosis. We accumulate the moments
exactly (decimal sums) and derive with textually identical arithmetic on
both engine and oracle, so the IEEE result is bit-equal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .exact import davg, dsum, sql_davg, sql_dsum


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def sorted_percentiles(df: DataFrame, keys: list[str], col: str,
                       ps: dict[str, float]) -> DataFrame:
    """Exact interpolated percentiles via a per-group sort instead of
    Spark's hashmap-based ``Percentile`` aggregate.

    ``F.percentile`` accumulates a value→count map per group and merges
    maps at the final reduce — on a near-unique DOUBLE column that map
    holds every value, so the last merge is single-threaded over the whole
    group AND memory-bound (measured 2.6× slower at sf0.1; at 100 TB it
    OOMs outright). Here the heavy lifting is a partitioned window sort —
    Tungsten spill-able, codegen'd — and the pick is a filter+sum of at
    most two rows per requested percentile. The interpolation is
    lo·(1−f) + hi·f, bit-identical to DuckDB ``percentile_cont``
    (verified; ≤2 IEEE terms, so the sum is order-independent).

    Scale note: one task per group for the sort — right when groups are
    many or group sizes are bounded; for percentiles over a *single* giant
    group, range-repartition + per-range counts is the scale path.
    """
    d = df.select(*keys, col).filter(F.col(col).isNotNull())
    from pyspark.sql import Window
    w = Window.partitionBy(*keys).orderBy(col)
    cw = Window.partitionBy(*keys)
    d = (d.withColumn("__rn__", F.row_number().over(w) - 1)
          .withColumn("__n__", F.count(F.lit(1)).over(cw)))
    aggs = []
    for alias, p in ps.items():
        tgt = (F.col("__n__") - 1) * F.lit(float(p))
        lo, hi = F.floor(tgt), F.ceil(tgt)
        frac = tgt - lo.cast("double")
        wgt = (F.when(F.col("__rn__") == lo,
                      F.when(lo == hi, F.lit(1.0)).otherwise(1.0 - frac))
                .when(F.col("__rn__") == hi, frac))
        aggs.append(F.sum(F.col(col) * wgt).alias(alias))
    return d.groupBy(*keys).agg(*aggs)


def histogram_percentiles(df: DataFrame, keys: list[str], col: str,
                          ps: dict[str, float]) -> DataFrame:
    """Exact interpolated percentiles for LOW-cardinality columns via a
    value histogram: groupBy(keys, value) count — fully partial-
    aggregatable, so the shuffle carries one row per distinct value, not
    per input row — then order statistics over the cumulative counts.
    The k-th value v_k covers sorted positions [cum−cnt, cum); the
    percentile picks v_lo/v_hi by position and interpolates lo·(1−f)+hi·f
    (bit-identical to DuckDB percentile_cont, verified).

    Complements ``sorted_percentiles``: histogram when distinct(col) is
    small (the 100 TB path — no per-group state beyond the value set),
    sort when values are near-unique."""
    from pyspark.sql import Window
    h = (df.filter(F.col(col).isNotNull())
           .groupBy(*keys, col).agg(F.count(F.lit(1)).alias("__c__")))
    w = Window.partitionBy(*keys).orderBy(col)
    cw = Window.partitionBy(*keys)
    h = (h.withColumn("__cum__", F.sum("__c__").over(w))
          .withColumn("__n__", F.sum("__c__").over(cw)))
    aggs = []
    for alias, p in ps.items():
        tgt = (F.col("__n__") - 1) * F.lit(float(p))
        lo, hi = F.floor(tgt), F.ceil(tgt)
        frac = tgt - lo.cast("double")

        def covers(i):
            return (F.col("__cum__") - F.col("__c__") <= i) & (i < F.col("__cum__"))

        vlo = F.max(F.when(covers(lo), F.col(col)))
        vhi = F.max(F.when(covers(hi), F.col(col)))
        fr = F.max(frac)  # constant within a group; max() just carries it
        aggs.append((vlo * (1.0 - fr) + vhi * fr).alias(alias))
    return h.groupBy(*keys).agg(*aggs)


# pruned_percentiles collects one scalar row PER GROUP at plan-build to
# verify its rank brackets; above this many groups it falls back to
# sorted_percentiles (per-group sort — the correct strategy for many
# small groups) so the driver never materializes an unbounded row set.
MAX_PRUNED_GROUPS = 10_000


def pruned_percentiles(df: DataFrame, keys: list[str], col: str,
                       ps: dict[str, float], delta: float = 0.005,
                       accuracy: int = 10000) -> DataFrame:
    """Exact interpolated percentiles for GIANT groups (incl. the global
    single-group case) — the scale path where ``sorted_percentiles``'
    one-task-per-group sort and ``histogram_percentiles``' per-value
    shuffle both stop holding.

    Three passes, none of which sorts the full data:

    1. per-group count + APPROXIMATE rank brackets ``[p−delta, p+delta]``
       (``percentile_approx``, sketch error 1/accuracy ≪ delta);
    2. exact counts below / inside each bracket (partial-aggregatable
       conditional sums — a scan, not a sort). The bracket is then
       VERIFIED to contain the target ranks on the driver (the per-group
       result is scalars, not data); a pathological sketch miss falls
       back to the exact sort path, so the approximation only ever
       prunes, never decides;
    3. sort ONLY the in-bracket candidates (~2·delta·n rows) and pick by
       absolute rank = rows-below + local position, interpolating
       lo·(1−f)+hi·f (bit-identical to DuckDB ``percentile_cont``; the
       weighted sum has ≤2 terms, so IEEE addition order cannot vary).

    ``delta`` trades candidate-sort size against fallback risk; a second
    narrowing pass would bound the candidate set further for extreme n.
    Group keys must be non-null (result frames join per percentile).
    """
    import math

    from pyspark.sql import Window

    spark = df.sparkSession
    d = df.select(*keys, F.col(col).cast("double").alias(col)) \
        .filter(F.col(col).isNotNull())

    def gb(frame):
        return frame.groupBy(*keys) if keys else frame.groupBy()

    def bjoin(frame, tiny):
        return frame.join(F.broadcast(tiny), on=keys) if keys \
            else frame.crossJoin(F.broadcast(tiny))

    # ONE sketch for every bracket endpoint (percentile_approx with a
    # quantile array) — separate calls would each build their own sketch
    # over the full column (measured 3× slower at 3 percentiles)
    qs = []
    for p in ps.values():
        qs += [max(0.0, p - delta), min(1.0, p + delta)]
    bracket = F.percentile_approx(col, F.array(*[F.lit(q) for q in qs]), accuracy)
    stats = gb(d).agg(F.count(F.lit(1)).alias("__n__"),
                      bracket.alias("__qs__"))
    stats = stats.select(
        *keys, "__n__",
        *[c for i, a in enumerate(ps)
          for c in (F.col("__qs__")[2 * i].alias(f"__lo_{a}"),
                    F.col("__qs__")[2 * i + 1].alias(f"__hi_{a}"))])

    j = bjoin(d, stats)
    aggs2 = [F.max("__n__").alias("__n__")]
    for a in ps:
        lo, hi = F.col(f"__lo_{a}"), F.col(f"__hi_{a}")
        aggs2.append(F.sum(F.when(F.col(col) < lo, 1).otherwise(0))
                     .cast("bigint").alias(f"__below_{a}"))
        aggs2.append(F.sum(F.when((F.col(col) >= lo) & (F.col(col) <= hi), 1)
                           .otherwise(0)).cast("bigint").alias(f"__in_{a}"))
        aggs2.append(F.max(lo).alias(f"__lo_{a}"))
        aggs2.append(F.max(hi).alias(f"__hi_{a}"))
    counts = gb(j).agg(*aggs2)

    # Driver materialization is bounded BY CONTRACT, not convention: this
    # is the giant-group/global path (few groups by design), but nothing
    # upstream stops a caller passing a high-cardinality key — cap the
    # collect at MAX_GROUPS rows (limit pushes into the aggregation, so
    # an over-cap key never ships more than MAX_GROUPS+1 rows to the
    # driver) and route the many-small-groups shape to the per-group
    # sort path, which is the right plan for it anyway.
    crows = counts.limit(MAX_PRUNED_GROUPS + 1).collect()
    if len(crows) > MAX_PRUNED_GROUPS:
        return sorted_percentiles(df, keys, col, ps)
    for r in crows:
        for a, p in ps.items():
            t = (r["__n__"] - 1) * p
            covered = (r[f"__below_{a}"] <= math.floor(t)
                       and math.ceil(t) < r[f"__below_{a}"] + r[f"__in_{a}"])
            if not covered:
                return sorted_percentiles(df, keys, col, ps)

    # embed the verified scalars as literals so the returned plan is a
    # single scan (no re-run of passes 1-2 at execution time)
    lits = spark.createDataFrame(crows, schema=counts.schema)
    jj = bjoin(d, lits)
    out = None
    for a, p in ps.items():
        cand = jj.filter((F.col(col) >= F.col(f"__lo_{a}"))
                         & (F.col(col) <= F.col(f"__hi_{a}")))
        w = (Window.partitionBy(*keys) if keys else Window.partitionBy()) \
            .orderBy(col)
        pos = F.row_number().over(w) - 1 + F.col(f"__below_{a}")
        tgt = (F.col("__n__") - 1) * F.lit(float(p))
        lo_i, hi_i = F.floor(tgt), F.ceil(tgt)
        frac = tgt - lo_i.cast("double")
        wgt = (F.when(pos == lo_i,
                      F.when(lo_i == hi_i, F.lit(1.0)).otherwise(1.0 - frac))
                .when(pos == hi_i, frac))
        res = gb(cand.withColumn("__w__", wgt)) \
            .agg(F.sum(F.col(col) * F.col("__w__")).alias(a))
        out = res if out is None else \
            (out.join(res, on=keys) if keys else out.crossJoin(res))
    return out


def count_(col) -> Column:
    """Count of non-missing values (jx count is per-value, not COUNT(*))."""
    return F.count(_c(col))


def union_(col) -> Column:
    """Distinct set of values per group (jx ``union``), sorted for
    determinism — collect_set order is partition-dependent."""
    return F.array_sort(F.collect_set(_c(col)))


def first_(value, order) -> Column:
    """First value in explicit encounter order. The reference's ``first``
    depends on document order; under parallelism that's only meaningful
    with an explicit sort key (SURVEY.md §7.5 #7), so we require one."""
    return F.min_by(_c(value), _c(order))


def last_(value, order) -> Column:
    return F.max_by(_c(value), _c(order))


def count_values(col, order_desc: bool = False) -> Column:
    """jx ``count_values``: histogram of value→count per group, as a
    sorted array of {v, n} structs (sorted for cross-engine determinism;
    a map type would compare unordered but Spark maps can't be grouped)."""
    c = _c(col)
    # two-level: needs pre-aggregation per (group, value); see
    # queries/q_aggs2.py for the composition — this builder handles the
    # inner struct shaping.
    return F.array_sort(F.collect_list(F.struct(c.alias("v"), F.col("n").alias("n"))))


def one(col) -> Column:
    """jx ``one``: assert the group has exactly one distinct value and
    return it; errors the job otherwise (matching reference semantics of
    'this should be single-valued')."""
    c = _c(col)
    return F.when(
        F.countDistinct(c) == 1, F.any_value(c)
    ).otherwise(F.raise_error(F.lit("jx 'one' aggregate: multiple values in group")))


def cardinality(col) -> Column:
    """Exact distinct count. The reference's ES backend uses HLL (≈);
    ``approx_cardinality`` below is that scale path."""
    return F.countDistinct(_c(col))


def approx_cardinality(col) -> Column:
    return F.approx_count_distinct(_c(col))


def median(col) -> Column:
    """Exact median, linear interpolation — same as DuckDB percentile_cont
    (verified; cast DECIMAL inputs to DOUBLE on the oracle side)."""
    return F.median(_c(col))


def percentile(col, p: float) -> Column:
    return F.percentile(_c(col), F.lit(p))


# --- stats (zero-moment) ------------------------------------------------

#: Moment accumulators: n plus exact decimal sums of x^1..x^4 (as double).
def stats_moments(col, prec: int = 38, scale: int = 6) -> list[Column]:
    c = _c(col)
    return [
        F.count(c).alias("n"),
        F.sum(c.cast(f"decimal({prec},{scale})")).cast("double").alias("s1"),
        F.sum((c * c).cast(f"decimal({prec},{scale})")).cast("double").alias("s2"),
        F.sum((c * c * c).cast(f"decimal({prec},{scale})")).cast("double").alias("s3"),
        F.sum((c * c * c * c).cast(f"decimal({prec},{scale})")).cast("double").alias("s4"),
    ]


def sql_stats_moments(expr: str, prec: int = 38, scale: int = 6) -> str:
    def m(e):
        return f"CAST(SUM(CAST({e} AS DECIMAL({prec},{scale}))) AS DOUBLE)"

    return (
        f"COUNT({expr}) AS n, "
        f"{m(expr)} AS s1, "
        f"{m(f'({expr}) * ({expr})')} AS s2, "
        f"{m(f'({expr}) * ({expr}) * ({expr})')} AS s3, "
        f"{m(f'({expr}) * ({expr}) * ({expr}) * ({expr})')} AS s4"
    )


#: Derived stats over the moment columns — the SAME SQL text is evaluated by
#: Spark (selectExpr) and DuckDB, so float results are bit-identical.
#: Definitions follow mo_math/stats.py ZeroMoment2Stats: population
#: variance/std; skew = m3/var^1.5; kurtosis is EXCESS kurtosis (m4/var²-3).
_M = "(s1 / n)"
_VAR = f"((s2 / n) - ({_M} * {_M}))"
_M3 = f"((s3 / n) - (3 * {_M} * (s2 / n)) + (2 * {_M} * {_M} * {_M}))"
_M4 = (
    f"((s4 / n) - (4 * {_M} * (s3 / n)) + (6 * {_M} * {_M} * (s2 / n))"
    f" - (3 * {_M} * {_M} * {_M} * {_M}))"
)
STATS_DERIVED_SQL = [
    "n AS stat_count",
    "s1 AS stat_sum",
    f"{_M} AS stat_mean",
    f"{_VAR} AS stat_var",
    f"sqrt({_VAR}) AS stat_std",
    # var^1.5 spelled as var*sqrt(var): sqrt is correctly-rounded IEEE in
    # both engines, while pow(x, 1.5) differs by 1 ulp between Java and libm.
    f"({_M3} / ({_VAR} * sqrt({_VAR}))) AS stat_skew",
    f"(({_M4} / ({_VAR} * {_VAR})) - 3.0) AS stat_kurtosis",
]


def weighted_percentiles(df: DataFrame, keys: list[str], col: str,
                         weight: str, ps: dict[str, float]) -> DataFrame:
    """Exact WEIGHTED lower percentiles: smallest v with
    cumweight(values ≤ v) ≥ p · totalweight, per group.

    The training-data use: token-weighted quality thresholds ("the score
    below which p of the CORPUS TOKENS sit", not p of the documents —
    long docs should count for their size in a kept-token budget).

    Same scale shape as histogram_percentiles: weights are summed per
    (keys, value) FIRST — a partial-aggregatable shuffle of one row per
    distinct value — then a cumulative-weight walk picks each
    percentile. Integer weights ⇒ the p·total target is computed in
    double but compared against integer cumsums, and all engines agree
    (ties on p·total exactly at a boundary resolve to the next value by
    the ≥, in both engines identically).
    """
    from pyspark.sql import Window
    h = (df.filter(F.col(col).isNotNull())
           .groupBy(*keys, col).agg(F.sum(weight).alias("__w__")))
    w = Window.partitionBy(*keys).orderBy(col)
    cw = Window.partitionBy(*keys)
    h = (h.withColumn("__cum__", F.sum("__w__").over(w))
          .withColumn("__tot__", F.sum("__w__").over(cw)))
    aggs = []
    for alias, p in ps.items():
        hit = F.when(F.col("__cum__") >= F.lit(float(p)) * F.col("__tot__"),
                     F.col(col))
        aggs.append(F.min(hit).alias(alias))
    return h.groupBy(*keys).agg(*aggs)


def trimmed_means_histogram(df: DataFrame, keys: list[str], col: str,
                            trim: float = 0.1) -> DataFrame:
    """Exact trimmed AND winsorized mean per group via the value
    HISTOGRAM — no per-row window sort anywhere.

    Robust means are rank-based, and the textbook route (row_number over
    each group, drop the outer k ranks) is a full per-group sort — the
    same scale hazard :func:`sorted_percentiles` documents. Here the only
    row-width shuffle is a partial-aggregatable groupBy to one row per
    distinct (keys, value); the rank arithmetic then runs on the
    histogram (window over ~|distinct values| rows per group):

    - k = floor(trim*n) rows clipped from EACH tail, by value order.
      Ties need no tiebreak: every copy of a value is interchangeable, so
      clipping by rank-band intersection per histogram row is exact.
    - kept(v) = max(0, min(cum_before+c, n-k) - max(cum_before, k)) —
      how many of v's c copies fall inside the kept rank band [k+1, n-k].
    - trimmed_mean = sum(v*kept)/(n-2k); winsorized_mean replaces each
      clipped tail with k copies of the nearest kept boundary value.

    Exactness contract: with integer-valued doubles (or decimals) the
    products and sums are exact and order-independent, so the result
    hash-matches a serial oracle bit-for-bit. Output: keys, n, k,
    mean / trimmed_mean / winsorized_mean (all double).
    """
    from pyspark.sql import Window
    h = (df.filter(F.col(col).isNotNull())
           .groupBy(*keys, col).agg(F.count(F.lit(1)).alias("__c__")))
    wo = (Window.partitionBy(*keys).orderBy(col)
          .rowsBetween(Window.unboundedPreceding, -1))
    wg = Window.partitionBy(*keys)
    v, c = F.col(col), F.col("__c__")
    p = (h.withColumn("__cb__", F.coalesce(F.sum("__c__").over(wo),
                                           F.lit(0).cast("bigint")))
          .withColumn("__n__", F.sum("__c__").over(wg))
          .withColumn("__k__", F.floor(F.lit(float(trim)) * F.col("__n__"))))
    cb, n, k = F.col("__cb__"), F.col("__n__"), F.col("__k__")
    p = p.withColumn("__kept__", F.greatest(
        F.lit(0).cast("bigint"),
        F.least(cb + c, n - k) - F.greatest(cb, k)))
    lo_hit = F.when((cb <= k) & (k < cb + c), v)          # rank k+1
    hi_hit = F.when((cb < n - k) & (n - k <= cb + c), v)  # rank n-k
    n_, k_ = F.max("__n__"), F.max("__k__")
    kept_sum = F.sum(v * F.col("__kept__"))
    return (p.groupBy(*keys).agg(
        n_.alias("n"), k_.alias("k"),
        (F.sum(v * c).cast("double") / n_.cast("double")).alias("mean"),
        (kept_sum.cast("double")
         / (n_ - F.lit(2) * k_).cast("double")).alias("trimmed_mean"),
        ((kept_sum + k_ * F.max(lo_hit) + k_ * F.max(hi_hit)).cast("double")
         / n_.cast("double")).alias("winsorized_mean")))


def spearman_corr(df: DataFrame, keys: list[str], x: str, y: str,
                  out: str = "spearman") -> DataFrame:
    """Exact Spearman rank correlation per group, tie-corrected, with
    every order-dependent quantity kept INTEGER.

    Ranks use the standard tie convention (average rank), carried as
    2·avgrank = 2·RANK() + tie_count − 1 — an integer, so the five
    moment sums (Σr, Σr², Σrₓr_y per axis pair) are exact integer
    aggregations immune to partition order; the doubling cancels in the
    Pearson-of-ranks formula. The close (n·Σxy − ΣxΣy over the √ of the
    variance product) runs in IEEE doubles from those exact integers —
    multiply/subtract/√/divide are single correctly-rounded ops, so the
    result is bit-identical across engines and layouts (√ is IEEE-exact,
    unlike pow()).

    Sums fit BIGINT while n ≤ ~1.3e6 per group (Σ(2n)²·n ≤ 4n³ <
    2⁶³); for larger groups route the products through decimal(38,0)
    like functions/exact.dsum_sq. Both rank windows are per-group sorts
    — the same scale posture as sorted_percentiles (fine for many
    bounded groups; range-partition for one giant group).
    """
    from pyspark.sql import Window
    d = (df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
           .select(*keys, x, y))
    def r2(col: str) -> Column:
        rw = Window.partitionBy(*keys).orderBy(col)
        cw = Window.partitionBy(*keys, col)
        return (F.lit(2) * F.rank().over(rw)
                + F.count(F.lit(1)).over(cw) - F.lit(1)).cast("bigint")
    d = d.withColumn("__rx__", r2(x)).withColumn("__ry__", r2(y))
    rx, ry = F.col("__rx__"), F.col("__ry__")
    s = d.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(rx).cast("bigint").alias("sx"),
        F.sum(ry).cast("bigint").alias("sy"),
        F.sum(rx * rx).cast("bigint").alias("sxx"),
        F.sum(ry * ry).cast("bigint").alias("syy"),
        F.sum(rx * ry).cast("bigint").alias("sxy"))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    rho = ((nd * sxy - sx * sy)
           / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)))
    return s.select(*keys, "n", rho.alias(out))


def equidepth_bins(df: DataFrame, keys: list[str], col: str,
                   k: int = 8) -> DataFrame:
    """Exact equi-depth bin edges per group — the feature-bucketing
    primitive (k-quantile cut points as ORDER STATISTICS, no
    interpolation): edge b (1..k-1) is the value at integer rank
    ceil(b·n/k), selected from the value histogram by cumulative count —
    the same scale posture as weighted_percentiles (one partial-agg
    shuffle to a row per distinct value, a window over the histogram,
    no per-row sort). Rank targets are computed as floor((b·n+k−1)/k)
    in integer-exact double arithmetic (b·n « 2⁵³), so both engines
    pick identical edges. Output: (keys..., bin, edge)."""
    from pyspark.sql import Window
    h = (df.filter(F.col(col).isNotNull())
           .groupBy(*keys, col).agg(F.count(F.lit(1)).alias("__c__")))
    w = Window.partitionBy(*keys).orderBy(col)
    cw = Window.partitionBy(*keys)
    h = (h.withColumn("__cum__", F.sum("__c__").over(w))
          .withColumn("__n__", F.sum("__c__").over(cw)))
    edges = []
    for b in range(1, int(k)):
        tgt = F.floor((F.lit(b) * F.col("__n__") + F.lit(int(k) - 1))
                      / F.lit(int(k)))
        edges.append(F.min(F.when(F.col("__cum__") >= tgt, F.col(col)))
                     .alias(f"__e{b}__"))
    wide = h.groupBy(*keys).agg(*edges)
    pairs = F.array(*[
        F.struct(F.lit(b).cast("int").alias("bin"),
                 F.col(f"__e{b}__").alias("edge"))
        for b in range(1, int(k))])
    return (wide.select(*keys, F.explode(pairs).alias("__p__"))
            .select(*keys, "__p__.bin", "__p__.edge"))


def kendall_tau_histogram(df: DataFrame, keys: list[str], x: str, y: str,
                          out: str = "kendall_tau") -> DataFrame:
    """Exact tie-corrected Kendall tau-b per group from the 2-D VALUE
    HISTOGRAM — O(distinct-cell²) cell-pair arithmetic instead of the
    textbook O(n²) row pairs (or the O(n log n) merge-sort inversion
    count, which doesn't distribute as plain relational algebra).

    Right when both measures are DISCRETE (bounded distinct values —
    quantities, ratings, bucketed scores): one partial-agg shuffle to a
    row per (keys, x, y) cell, a per-group cell self-join (equi-join on
    the group keys; fan-out = cells², NOT rows²), and integer sums.
    Σ c_a·c_b·sign(Δx)·sign(Δy) over ORDERED cell pairs equals 2(C−D)
    exactly; tie terms n1/n2 come from the marginal histograms. The
    close — (C−D)/√((n0−n1)(n0−n2)) — is fixed-order IEEE math over
    exact integers, bit-identical across engines (√ is correctly
    rounded). Spearman's rank-window sibling: :func:`spearman_corr`.
    """
    d = (df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
           .select(*keys, x, y))
    h = d.groupBy(*keys, x, y).agg(F.count(F.lit(1)).alias("__c__"))
    a = h.select(*keys, F.col(x).alias("__xa__"), F.col(y).alias("__ya__"),
                 F.col("__c__").alias("__ca__"))
    b = h.select(*keys, F.col(x).alias("__xb__"), F.col(y).alias("__yb__"),
                 F.col("__c__").alias("__cb__"))
    prod = (F.col("__ca__") * F.col("__cb__")
            * F.signum(F.col("__xb__") - F.col("__xa__")).cast("bigint")
            * F.signum(F.col("__yb__") - F.col("__ya__")).cast("bigint"))
    s = (a.join(b, keys)
         .groupBy(*keys)
         .agg(F.sum(prod).cast("bigint").alias("__s2__")))  # = 2(C-D)

    def _ties(col: str, alias: str) -> DataFrame:
        m = h.groupBy(*keys, col).agg(F.sum("__c__").alias("__m__"))
        return m.groupBy(*keys).agg(
            (F.sum(F.col("__m__") * (F.col("__m__") - 1)) / F.lit(2))
            .cast("bigint").alias(alias))

    n = h.groupBy(*keys).agg(F.sum("__c__").cast("bigint").alias("__n__"))
    j = (s.join(n, keys).join(_ties(x, "__n1__"), keys)
         .join(_ties(y, "__n2__"), keys))
    nd = F.col("__n__").cast("double")
    n0 = nd * (nd - F.lit(1.0)) / F.lit(2.0)
    cd = F.col("__s2__").cast("double") / F.lit(2.0)
    tau = cd / F.sqrt((n0 - F.col("__n1__").cast("double"))
                      * (n0 - F.col("__n2__").cast("double")))
    return j.select(*keys, F.col("__n__").alias("n"), tau.alias(out))


def kendall_tau_sampled(df: DataFrame, keys: list[str], x: str, y: str,
                        pair_keys: list[str],
                        bucket_chars: int = 4) -> DataFrame:
    """Sampled-concordance Kendall ESTIMATOR for CONTINUOUS measures —
    the clearly-labeled estimator companion to the exact
    :func:`kendall_tau_histogram` (which is O(cells²) and therefore for
    DISCRETE measures only; exact tau over near-unique values needs
    merge-sort inversion counting, which does not distribute as plain
    relational algebra).

    ESTIMATOR CONTRACT: rows are ordered by ``md5(pair_keys)`` — a
    deterministic, data-independent pseudo-random permutation — and
    paired with their hash-order neighbor inside a hash-prefix bucket
    (``lead()`` over a per-bucket window, never a global sort). Every
    row joins at most one disjoint pair, giving M ≈ n/2 i.i.d.-like
    pair samples per group; concordant/discordant/tie counts are exact
    integers over that sample, and ``tau_sampled = (C − D) / M`` is an
    unbiased estimator of Kendall tau-a with standard error
    O(1/sqrt(M)). It is NOT the exact tau: two runs agree bit-for-bit
    (the hash order is deterministic), but the value carries sampling
    error by design. Everything is engine-portable: md5, substring,
    window lead, integer counts, one final double division.

    100 TB shape: one hash per row, a per-bucket (≈16^bucket_chars
    buckets) window over hash-width rows, and a count-only aggregate —
    no joins, no cells², no global ordering.
    """
    from pyspark.sql import Window

    # the hash is salted with (x, y) so rows sharing a pair_key but
    # differing in measures still land at independent hash positions:
    # without the salt, duplicate-key rows sort adjacent and tiebreak by
    # ascending x — within such pairs x1 > x2 is impossible, biasing the
    # sample toward concordance/ties on heavily duplicated keys. With
    # the salt, rows equal in h are equal in (x, y) too (md5 collisions
    # aside) and therefore genuinely interchangeable. Measures render
    # through decimal(28,6) so Spark and the oracle engine hash the same
    # string (double→string formatting differs between engines).
    h = F.md5(F.concat_ws(
        "-",
        *[F.col(k).cast("string") for k in pair_keys],
        F.col(x).cast("decimal(28,6)").cast("string"),
        F.col(y).cast("decimal(28,6)").cast("string")))
    r = (df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
         .select(*keys, F.col(x).alias("__x__"), F.col(y).alias("__y__"),
                 h.alias("__h__"))
         .withColumn("__b__", F.substring("__h__", 1, bucket_chars)))
    # tiebreak by (x, y): fully identical rows are interchangeable —
    # the pairing stays deterministic and engine-identical either way
    w = Window.partitionBy(*keys, "__b__").orderBy("__h__", "__x__", "__y__")
    p = (r.withColumn("__rn__", F.row_number().over(w))
         .withColumn("__x2__", F.lead("__x__").over(w))
         .withColumn("__y2__", F.lead("__y__").over(w))
         .filter((F.pmod("__rn__", F.lit(2)) == 1)
                 & F.col("__x2__").isNotNull()))
    conc = ((F.col("__x__") > F.col("__x2__"))
            & (F.col("__y__") > F.col("__y2__"))) | \
           ((F.col("__x__") < F.col("__x2__"))
            & (F.col("__y__") < F.col("__y2__")))
    disc = ((F.col("__x__") > F.col("__x2__"))
            & (F.col("__y__") < F.col("__y2__"))) | \
           ((F.col("__x__") < F.col("__x2__"))
            & (F.col("__y__") > F.col("__y2__")))
    agg = p.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(conc, 1).otherwise(0)).cast("bigint")
        .alias("concordant"),
        F.sum(F.when(disc, 1).otherwise(0)).cast("bigint")
        .alias("discordant"))
    return agg.select(
        *keys, "n_pairs", "concordant", "discordant",
        (F.col("n_pairs") - F.col("concordant") - F.col("discordant"))
        .cast("bigint").alias("ties"),
        ((F.col("concordant") - F.col("discordant")).cast("double")
         / F.col("n_pairs").cast("double")).alias("tau_sampled"))
