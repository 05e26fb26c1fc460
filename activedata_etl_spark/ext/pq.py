"""Product quantization (IVF-PQ's compression half) for embedding
columns — the standard way a 100 TB vector corpus becomes searchable.

A 64-d float64 vector is 512 bytes; its PQ code under (m=4, ksub=8) is
4 small ints. The asymmetric-distance (ADC) search never touches raw
vectors: the query builds an m×ksub distance table against the
codebooks (broadcast — it is a few hundred rows however big the
corpus), joins it to the stored codes on (subspace, code), and sums m
table lookups per candidate. At cluster scale that is one broadcast
join + one partial-aggregated shuffle over rows 100× smaller than the
raw embedding table; the raw vectors are read exactly once, at encode
time. (Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — public literature, no reference-repo
counterpart; the reference has no vector surface at all.)

Determinism contract (matches ext/similarity.ivf_build so the DuckDB
oracle can reproduce codebooks bit-for-bit):

- sub-vector split: m contiguous slices of an explicitly-passed dim;
- seeding: per subspace, the ksub lowest-id vectors' sub-vectors,
  code = their id-rank − 1;
- assignment: min squared-L2 computed as an IN-ORDER left fold over
  (x−y)² (the ``dot`` precedent — both engines fold left), ties →
  lowest code;
- re-estimation: per-dimension means via floor-quantized integer sums
  (tie-rule-free across engines, same as ivf_build).

Codes for empty clusters drop out of the re-estimated codebook on both
engines identically, so the chain stays in lockstep.
"""

from __future__ import annotations

import json as _json
import os as _os

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..io import note_schema, open_stored
from ..staging import release, stage
from .similarity import _dvec


def l2(a: str, b: str) -> Column:
    """Squared L2 of two array columns, named, as a sequential in-order
    fold (IEEE-stable across engines, like similarity.dot). One SQL
    string: the Column-builder form with its lambdas cost ~30 ms of
    py4j round trips per plan."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
        "* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "0.0D, (acc, v) -> acc + v)")


def rotate_expr(vec: Column, rot: list[list[float]]) -> Column:
    """Apply a dim×dim rotation as a plan-time projection: out[i] =
    in-order left fold of rot[i][j]·vec[j] (the ``l2``/dot precedent —
    DuckDB's ``list_sum(list_transform(list_zip(...)))`` folds the same
    products in the same order, so the rotated floats are bit-identical
    across engines). The matrix is a literal array-of-arrays — zero
    shuffle, zero data probe; rows whose off-slot entries are 0.0 cost
    only exact ``acc + 0.0`` no-ops inside whole-stage codegen.

    The literal is built as ONE SQL string, not dim² ``F.lit`` Column
    objects: each lit is a py4j round-trip, and the per-call cost made
    plan CONSTRUCTION quadratic in dim (measured 3.1/7.5/30.9s at dim
    64/128/256; the expr-string form reads 1.1/—/5.6s and executes
    faster too). ``%.17e`` round-trips every double exactly and the
    ``D`` suffix pins the SQL literal type to DOUBLE, so the bits are
    identical to the ``F.lit`` form — the DuckDB-oracle bit-match
    (sim_pq_rotated_topk) pins this."""
    rows = F.expr("array({})".format(", ".join(
        "array(" + ", ".join("%.17eD" % float(v) for v in row) + ")"
        for row in rot)))
    return F.transform(
        rows,
        lambda r: F.aggregate(F.zip_with(r, vec, lambda a, b: a * b),
                              F.lit(0.0), lambda acc, v: acc + v))


def subvectors(df: DataFrame, id_col: str, vec_col: str,
               m: int, dim: int,
               perm: list[int] | None = None,
               rot: list[list[float]] | None = None) -> DataFrame:
    """(id, j, sv): m contiguous slices per vector. ``dim`` is explicit
    (no data probe — plan-only safe); vectors are cast to double once.
    ``rot`` (optional, an explicit matrix or :func:`pca_rotation`'s
    output) rotates the vector FIRST; ``perm`` (optional, from
    :func:`dim_permutation`) then reorders the (rotated) dimensions
    BEFORE slicing — both are plan-time projections (literal matrix /
    index list applied element-wise), zero extra shuffle."""
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    sub = dim // m
    slices = (f"posexplode(transform(sequence(0, {m - 1}), "
              f"j -> slice(__v__, j * {sub} + 1, {sub}))) AS (j, sv)")
    if rot is None and perm is None:
        return (df.selectExpr(f"`{id_col}` AS id",
                              f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
                              " AS __v__")
                .selectExpr("id", slices))
    vec = _dvec(F.col(vec_col))
    if rot is not None:
        assert len(rot) == dim, f"rotation is {len(rot)}-row, dim {dim}"
        if perm is not None:
            # compose perm∘rot into ONE matrix by permuting the ROWS:
            # out[i] = Σ_j rot[perm[i]][j]·x[j] — the same products in
            # the same order as element_at(rotate(x), perm[i]+1), so
            # bit-identical, but the plan carries one literal matrix
            # instead of dim copies of it (element_at over the rotation
            # tree duplicated all dim² literals per output slot — a
            # ~260k-node analysis tree that OOM'd a vanilla driver)
            assert sorted(perm) == list(range(dim)), \
                "perm must permute 0..dim-1"
            rot = [rot[p] for p in perm]
        vec = rotate_expr(vec, rot)
    elif perm is not None:
        assert sorted(perm) == list(range(dim)), "perm must permute 0..dim-1"
        vec = F.array(*[F.element_at(vec, p + 1) for p in perm])
    return (df.select(F.col(id_col).alias("id"), vec.alias("__v__"))
            .selectExpr("id", slices))


def dim_permutation(df: DataFrame, id_col: str, vec_col: str,
                    m: int, dim: int,
                    rot: list[list[float]] | None = None) -> list[int]:
    """Variance-balancing dimension permutation — the deterministic
    OPQ-lite (Ge et al. CVPR 2013 motivate rotations by exactly this
    imbalance; a PERMUTATION is the rotation subgroup both engines can
    reproduce bit-for-bit). Naive contiguous slicing puts correlated
    high-variance dimensions in one subspace, whose ksub centroids then
    carry all the signal while other subspaces quantize noise; dealing
    dimensions round-robin by variance rank balances per-subspace
    energy at zero runtime cost (the permutation is applied as a
    plan-time projection). ``rot`` (optional) ranks the ROTATED
    dimensions — under a trained rotation the permutation must balance
    the post-rotation variances (the r12 OPQ adjudication measured
    rotation WITHOUT rebalancing at ~⅕ the recall of naive slicing:
    derotation concentrates all variance into a few coordinates that
    contiguous slices then waste — scripts/opq_r12.json).

    Determinism contract: the ranking statistic is the INTEGER
    n·Σq(x²) − (Σq(x))² over floor-quantized values q(x) =
    floor(x·10⁹) — exact decimal(38,0) arithmetic, order-independent,
    so every engine ranks identically; ties break on the dimension
    index. Subspace j gets ranks j, m+j, 2m+j, … (rank r lands at
    position (r%m)·(dim/m) + r//m). The collect is dim rows — a
    bounded driver probe (the probes/cids precedent)."""
    sub = dim // m
    q = F.floor(F.col("__x__") * F.lit(1000000000.0)).cast("bigint")
    vec = _dvec(F.col(vec_col))
    if rot is not None:
        vec = rotate_expr(vec, rot)
    stats = (df.select(F.posexplode(vec).alias("__i__", "__x__"))
             .groupBy("__i__")
             .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                  F.sum(q.cast("decimal(38,0)")).alias("s"),
                  # cast each q BEFORE squaring: q² alone can overflow
                  # bigint (q ~ 1e9 → q² ~ 1e18, and the SUM certainly)
                  F.sum(q.cast("decimal(38,0)")
                        * q.cast("decimal(38,0)")).alias("ss"))
             .select("__i__",
                     (F.col("n") * F.col("ss")
                      - F.col("s") * F.col("s")).alias("__score__"))
             .collect())
    ranked = sorted(stats, key=lambda r: (-r["__score__"], r["__i__"]))
    perm = [0] * dim
    for rank, row in enumerate(ranked):
        perm[(rank % m) * sub + rank // m] = int(row["__i__"])
    return perm


def pca_rotation(df: DataFrame, id_col: str, vec_col: str, dim: int,
                 train_fraction: float | None = None) -> list[list[float]]:
    """Trained rotation — the full-OPQ adoption (r12 adjudication,
    scripts/opq_r12.json): when dimensions are CORRELATED (anisotropy
    smeared across coordinates by some upstream basis), no permutation
    can unmix them; the eigenbasis of the covariance can. On the
    correlated-anisotropic rig the oracle derotation + permutation
    reads recall@10 0.176→0.368 (m=8, ksub=16) and 0.382→0.536
    (ksub=64) vs the permutation alone — Ge et al. CVPR 2013's
    alternating minimization converges toward exactly this derotation,
    so PCA-on-covariance is the deterministic one-shot variant.

    Determinism contract (two exact bounded aggregates + a frozen
    driver-side eigensolve):

    - second moments: p_ij = Σ q_i·q_j and s_i = Σ q_i over
      floor-quantized q = floor(x·10⁹), multiplied in decimal(38,0)
      AFTER the cast (the dim_permutation overflow rule) — exact
      integers, order-independent, any engine reproduces them;
    - the integer covariance n·p_ij − s_i·s_j converts to float64 once
      on the driver; ``numpy.linalg.eigh`` runs there on the dim×dim
      matrix — and the resulting matrix is FROZEN (stored in index
      meta / applied as a literal), so serving determinism never
      depends on LAPACK: the eigensolve is training, not query path;
    - canonicalization: eigenvectors ordered by eigenvalue descending
      (ties → original order), each sign-fixed so its largest-|v|
      component (ties → lowest index) is positive.

    Scale shape: the pair aggregate explodes N·dim² rows but map-side
    combine collapses them to dim(dim+1)/2 groups per task — the
    shuffle is bytes, the explode is the cost, and ``train_fraction``
    (deterministic md5 sample, salt ``"pqrot:"``) bounds it exactly
    like pq_train's sampled training. Output: rot[i][j] with
    rotated[i] = Σ_j rot[i][j]·x[j] (eigenvector rows)."""
    import numpy as np

    if train_fraction is not None and train_fraction < 1.0:
        from .sampling import hash_sample

        df = hash_sample(df, F.col(id_col), train_fraction, salt="pqrot:")
    qarr = F.transform(
        _dvec(F.col(vec_col)),
        lambda x: F.floor(x * F.lit(1000000000.0)).cast("bigint"))
    rows = df.select(qarr.alias("__q__"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    marg = (rows.select(F.posexplode("__q__").alias("__i__", "__qi__"))
            .groupBy("__i__")
            .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                 F.sum(dec(F.col("__qi__"))).alias("s"))
            .collect())
    pair = (rows
            .select(F.posexplode("__q__").alias("__i__", "__qi__"),
                    F.col("__q__"))
            .select("__i__", "__qi__",
                    F.posexplode("__q__").alias("__j__", "__qj__"))
            .filter(F.col("__j__") >= F.col("__i__"))
            .groupBy("__i__", "__j__")
            .agg(F.sum(dec(F.col("__qi__")) * dec(F.col("__qj__")))
                 .alias("p"))
            .collect())
    n = int(marg[0]["n"]) if marg else 0
    assert n > 0, "pca_rotation: empty training set"
    s = [0] * dim
    for r in marg:
        s[int(r["__i__"])] = int(r["s"])
    cov = np.zeros((dim, dim))
    for r in pair:
        i, j = int(r["__i__"]), int(r["__j__"])
        c = float(n * int(r["p"]) - s[i] * s[j])
        cov[i][j] = cov[j][i] = c
    _, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    rot = []
    for k in range(dim - 1, -1, -1):  # descending
        v = vecs[:, k]
        lead = int(np.argmax(np.abs(v)))  # ties → lowest index
        rot.append([float(x) for x in (-v if v[lead] < 0 else v)])
    return rot


def _resolve_rotation(df: DataFrame, id_col: str, vec_col: str, dim: int,
                      rotation, train_fraction: float | None = None):
    """``rotation`` is None, an explicit dim×dim matrix (list of
    rows — e.g. trained offline, or the fixed literal of an oracle
    twin), or ``"pca"`` (train via :func:`pca_rotation` on ``df``)."""
    if rotation is None:
        return None
    if rotation == "pca":
        return pca_rotation(df, id_col, vec_col, dim,
                            train_fraction=train_fraction)
    return [[float(v) for v in row] for row in rotation]


def _assign(sv: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest codebook entry per (id, j): min (l2, code) — a min_by
    hash aggregate, never a Window over the scored rows (the
    _argmax_centroid r10 lesson: the exchange carries one row per
    (id, j) whatever ksub is)."""
    scored = (sv.join(F.broadcast(codebook), "j")
              .withColumn("__d__", l2("sv", "cvec")))
    return (scored.groupBy("id", "j")
            .agg(F.min_by(F.struct(F.col("sv"), F.col("code")),
                          F.struct(F.col("__d__"), F.col("code")))
                 .alias("__a__"))
            .select("id", "j", F.col("__a__.sv").alias("sv"),
                    F.col("__a__.code").alias("code")))


def _reestimate(assign: DataFrame) -> DataFrame:
    """Per-(j, code, dimension) floor-quantized integer-sum means —
    the deterministic mean from similarity.ivf_build."""
    return (assign
            .select("j", "code", F.posexplode("sv").alias("__i__", "__x__"))
            .groupBy("j", "code", "__i__")
            .agg((F.sum(F.floor(F.col("__x__") * F.lit(1000000000.0))
                        .cast("bigint")).cast("double")
                  / (F.count("__x__") * F.lit(1000000000.0))).alias("__m__"))
            .groupBy("j", "code")
            .agg(F.array_sort(F.collect_list(F.struct("__i__", "__m__")))
                 .alias("__s__"))
            .select("j", "code", F.col("__s__.__m__").alias("cvec")))


def pq_train(df: DataFrame, id_col: str, vec_col: str, m: int = 4,
             ksub: int = 8, n_iter: int = 2, dim: int = 64,
             train_fraction: float | None = None,
             perm: list[int] | None = None,
             rot: list[list[float]] | None = None) -> DataFrame:
    """Train per-subspace codebooks: (j, code, cvec), code ∈ [0, ksub).
    Corpus cost: n_iter scans of the (id, j, sv) rows; the codebook
    itself is m·ksub rows — driver- and broadcast-trivial at any corpus
    size. Seeding is a TakeOrdered over ids alone (lowest ksub), never
    a corpus-wide Window (v1 shuffled ALL (id, j, sv) rows into m
    partitions just to keep ksub of them — r10 ADVICE).

    ``train_fraction`` bounds training cost at corpus scale the way
    real deployments do — codebooks are trained on a SAMPLE, encode
    stays full-corpus. The sample is the deterministic md5 hash filter
    from ext/sampling (salt ``"pqtrain:"``), so any engine reproduces
    the trained codebook bit-for-bit; seeds stay the ksub lowest ids
    WITHIN the sample."""
    if train_fraction is not None and train_fraction < 1.0:
        from .sampling import hash_sample

        df = hash_sample(df, F.col(id_col), train_fraction, salt="pqtrain:")
    sv = subvectors(df, id_col, vec_col, m, dim, perm=perm, rot=rot)
    seed_ids = df.select(F.col(id_col).alias("id")).orderBy("id").limit(ksub)
    # the Window now sorts ksub rows per subspace (post-join), not the corpus
    w = Window.partitionBy("j").orderBy("id")
    codebook = (sv.join(F.broadcast(seed_ids), "id")
                .withColumn("__rn__", F.row_number().over(w))
                # guard against duplicate ids (join multiplicity) pushing
                # codes outside [0, ksub) — r11 ADVICE; a short codebook
                # (sample < ksub docs) stays short, which _assign handles
                .filter(F.col("__rn__") <= ksub)
                .select("j", (F.col("__rn__") - 1).alias("code"),
                        F.col("sv").alias("cvec")))
    for _ in range(n_iter):
        codebook = _reestimate(_assign(sv, codebook))
    return codebook


def pq_encode(df: DataFrame, id_col: str, vec_col: str,
              codebook: DataFrame, m: int = 4, dim: int = 64,
              perm: list[int] | None = None,
              rot: list[list[float]] | None = None) -> DataFrame:
    """(id, j, code) rows — the compressed corpus. Stored long-form (one
    row per subspace) so ADC is a plain equi-join; collect to an
    array<tinyint> column for at-rest storage if 4 rows/vec dominates."""
    sv = subvectors(df, id_col, vec_col, m, dim, perm=perm, rot=rot)
    return _assign(sv, codebook).select("id", "j", "code")


def _adc_topk(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
              id_col: str, vec_col: str, k: int, m: int, dim: int,
              cand: DataFrame | None = None,
              perm: list[int] | None = None,
              rot: list[list[float]] | None = None) -> DataFrame:
    """ADC scoring against an encoded corpus: distance table =
    queries × codebook (broadcast — a few hundred rows at any corpus
    size), scored rows = codes equi-joined to it on (j, code), one
    partial-aggregated shuffle on (q_id, id), per-query top-k. The
    per-(q_id, id) sum folds in subspace order so the float geometry is
    engine-stable.

    ``cand`` (optional, (q_id, id) pairs) restricts scoring to named
    query↔candidate pairs — the IVF-PQ probed-cluster path. It can be a
    corpus-scale fraction, so it joins as a PLAIN equi-join (shuffle
    sized by the candidates; AQE may still choose broadcast when it is
    actually small) — only the genuinely tiny tables (codebook,
    distance table) carry broadcast hints."""
    qsv = subvectors(queries, id_col, vec_col, m, dim, perm=perm,
                     rot=rot).withColumnRenamed("id", "q_id")
    dtab = (qsv.join(F.broadcast(codebook), "j")
            .select("q_id", "j", "code",
                    l2("sv", "cvec").alias("d")))
    if cand is not None:
        scored = (codes.join(cand, "id")
                  .join(F.broadcast(dtab), ["q_id", "j", "code"]))
    else:
        scored = (codes.join(F.broadcast(dtab), ["j", "code"])
                  .filter(F.col("q_id") != F.col("id")))
    scored = (scored
              .groupBy("q_id", "id")
              .agg(F.expr("array_sort(collect_set(struct(j, d))) AS __jd__"))
              # only vectors matched in ALL m subspaces are comparable
              # (every encoded vector is; the guard is belt-and-braces).
              # A replayed append stores a vector's (j, code) rows twice;
              # the set holds them once, so codes need no dedup first.
              .filter(f"size(__jd__) = {int(m)}")
              .selectExpr("q_id", "id", "aggregate(__jd__, 0.0D, "
                          "(acc, s) -> acc + s.d) AS adc"))
    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(),
                                           F.col("id").asc())
    return (scored.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= k)
            .select("q_id", F.col("id").alias("vec_id"), "adc"))


def pq_topk(df: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
            k: int = 3, m: int = 4, ksub: int = 8, n_iter: int = 2,
            dim: int = 64, balance_dims: bool = False,
            rotation=None) -> DataFrame:
    """ADC top-k: train on the corpus, encode it, then answer each query
    from the codes alone. Output (q_id, vec_id, adc) — adc is the
    approximate squared L2 (sum of m table lookups, folded in subspace
    order so the float geometry is engine-stable).

    Scale shape: distance table = queries × m × ksub rows (broadcast);
    scored rows = codes joined to it on (j, code) — the corpus-sized
    leg carries 3 small ints per row; one partial-aggregated shuffle on
    (q_id, id); top-k is a per-query Window over k·|queries| survivors
    of a TakeOrdered-style pushdown... the heap stays in the agg."""
    rot = _resolve_rotation(df, id_col, vec_col, dim, rotation)
    perm = dim_permutation(df, id_col, vec_col, m, dim, rot=rot) \
        if balance_dims else None
    codebook = pq_train(df, id_col, vec_col, m, ksub, n_iter, dim,
                        perm=perm, rot=rot)
    codes = pq_encode(df, id_col, vec_col, codebook, m, dim, perm=perm,
                      rot=rot)
    return _adc_topk(codes, codebook, queries, id_col, vec_col, k, m, dim,
                     perm=perm, rot=rot)


# --- persisted PQ index (the serving shape at 100 TB) -----------------------
#
# Codebooks are trained ONCE (on the build corpus) and frozen; new
# vectors are encoded against the frozen codebooks and appended —
# retraining per batch would silently re-key every stored code. Codes
# are a pure function of (payload, codebook), so at-least-once replay
# appends byte-identical rows that readers collapse (read_pq_codes'
# (id, j) dedupe; ADC scoring's per-vector set) — the standing
# index-family convention (ahash/band precedent).


def _meta_path(path: str) -> str:
    return _os.path.join(path, "_pq_meta.json")


def _load_meta(path: str) -> dict:
    with open(_meta_path(path)) as f:
        return _json.load(f)


def _write_meta(path: str, meta: dict) -> None:
    tmp = _meta_path(path) + ".tmp"
    with open(tmp, "w") as f:
        _json.dump(meta, f)
    _os.replace(tmp, _meta_path(path))


def _write(df: DataFrame, path: str, table: str, mode: str, meta: dict,
           partition_cols=()) -> None:
    """Write one table of the index and note its read schema in
    ``meta`` (saved by the caller)."""
    table_dir = _os.path.join(path, table)
    replaces = mode == "overwrite" or not _os.path.isdir(table_dir)
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(table_dir)
    note_schema(meta.setdefault("schemas", {}), table, df, replaces,
                partition_cols)


def _open(spark, path: str, table: str, meta: dict | None = None) -> DataFrame:
    """One table of the index, opened with the schema the meta records
    (no Spark job); an index built before records existed infers it."""
    if meta is None:
        meta = _load_meta(path)
    return open_stored(spark, _os.path.join(path, table),
                       meta.get("schemas", {}).get(table))


def build_pq_index(df: DataFrame, id_col: str, vec_col: str, path: str,
                   m: int = 4, ksub: int = 8, n_iter: int = 2,
                   dim: int = 64, train_fraction: float | None = None,
                   balance_dims: bool = False, rotation=None) -> None:
    """Materialize codebook + encoded corpus under ``path``. The raw
    vectors are read for training + encode and never again.
    ``balance_dims`` freezes the variance-balancing permutation
    (:func:`dim_permutation`) into the index meta — appends and serving
    apply the SAME permutation forever after, the frozen-model
    convention the codebook already follows."""
    rot = _resolve_rotation(df, id_col, vec_col, dim, rotation,
                            train_fraction=train_fraction)
    perm = dim_permutation(df, id_col, vec_col, m, dim, rot=rot) \
        if balance_dims else None
    codebook = pq_train(df, id_col, vec_col, m, ksub, n_iter, dim,
                        train_fraction=train_fraction, perm=perm, rot=rot)
    meta = {"m": m, "ksub": ksub, "dim": dim, "perm": perm, "rot": rot}
    _write(codebook, path, "codebook", "overwrite", meta)
    _write(pq_encode(df, id_col, vec_col, codebook, m, dim, perm=perm,
                     rot=rot), path, "codes", "overwrite", meta)
    _write_meta(path, meta)


def read_pq_codebook(spark, path: str) -> DataFrame:
    return _open(spark, path, "codebook")


def read_pq_codes(spark, path: str) -> DataFrame:
    return (_open(spark, path, "codes")
            .dropDuplicates(["id", "j"]))


def append_pq_codes(df_new: DataFrame, id_col: str, vec_col: str,
                    spark, path: str) -> None:
    """Incremental maintenance: encode NEW vectors against the FROZEN
    codebook and append — batch-sized work, no touch of stored codes."""
    meta = _load_meta(path)
    before = _json.dumps(meta)
    cb = _open(spark, path, "codebook", meta)
    _write(pq_encode(df_new, id_col, vec_col, cb, meta["m"], meta["dim"],
                     perm=meta.get("perm"), rot=meta.get("rot")),
           path, "codes", "append", meta)
    if _json.dumps(meta) != before:
        _write_meta(path, meta)


def pq_index_topk(queries: DataFrame, id_col: str, vec_col: str,
                  spark, path: str, k: int = 3) -> DataFrame:
    """ADC top-k answered from the index alone: the only corpus-sized
    read is the codes table (m small ints per vector — ~64× smaller
    than the raw embeddings); codebook and distance table broadcast."""
    meta = _load_meta(path)
    return _adc_topk(_open(spark, path, "codes", meta),
                     _open(spark, path, "codebook", meta), queries,
                     id_col, vec_col, k, meta["m"], meta["dim"],
                     perm=meta.get("perm"), rot=meta.get("rot"))


def purge_pq_codes(spark, path: str, ids) -> int:
    """Right-to-be-forgotten over a PQ or IVF-PQ index: rewrite codes
    without the forgotten ids (iosafe.atomic_rewrite — discovery-
    invisible temp + aside-rename swap). Codes are per-document facts
    with no derived statistics, so removing the rows removes the
    documents from every ADC answer; the codebook (and for IVF-PQ the
    centroids) keeps serving — trained models, not per-document data,
    the same boundary a real deployment draws. Ids keep their native
    type (no numeric coercion — string-keyed stores purge correctly).

    Layout-aware (r10 ADVICE): the IVF-PQ index keeps codes in
    ``cid=<cluster>`` partition directories; the flat rewrite this
    function v1 applied demoted ``cid`` to a data column, so the next
    partitioned append produced a mixed layout that partition discovery
    rejects — and pruning in ivfpq_index_topk was lost even before
    that. An index whose meta carries ``nlist`` now purges SEEK-SHAPED:
    each ``cid=`` directory is membership-probed and only directories
    actually holding forgotten ids rewrite (untouched clusters stay
    byte-identical — the minhash purge precedent). Returns the number
    of directories rewritten (0/1 for the flat PQ layout)."""
    from .dedup_index import id_table
    from .iosafe import adopt_orphans, atomic_rewrite

    adopt_orphans(path)
    meta = _load_meta(path)
    codes_dir = _os.path.join(path, "codes")
    codes = _open(spark, path, "codes", meta)
    ids_df = id_table(spark, ids, codes.schema["id"].dataType)
    if "nlist" not in meta:
        if codes.join(F.broadcast(ids_df), "id", "left_semi").isEmpty():
            return 0
        atomic_rewrite(codes.join(F.broadcast(ids_df), "id", "left_anti"),
                       codes_dir)
        return 1
    # IVF-PQ layout: probe, then rewrite only the hit cid directories.
    # The probe reads only the id column (column-pruned) WITH the cid
    # partition value; the per-directory rewrite reads that leaf alone
    # (its files do not carry cid — the value lives in the dirname, so
    # a flat leaf rewrite preserves the partitioned layout exactly).
    hit_cids = [r["cid"] for r in
                (codes.select("cid", "id")
                 .join(F.broadcast(ids_df), "id", "left_semi")
                 .select("cid").distinct().collect())]
    rewritten = 0
    for cid in sorted(hit_cids):
        leaf = _os.path.join(codes_dir, f"cid={cid}")
        shard = open_stored(spark, leaf, meta.get("schemas", {}).get("codes"))
        atomic_rewrite(shard.join(F.broadcast(ids_df), "id", "left_anti"),
                       leaf)
        rewritten += 1
    return rewritten


def purge_ivfpq_codes(spark, path: str, ids) -> int:
    """Explicit right-to-be-forgotten entry point for the IVF-PQ index
    (purge_pq_codes dispatches on the meta's ``nlist`` either way; this
    name asserts the caller's intent against the wrong index root)."""
    meta = _load_meta(path)
    assert "nlist" in meta, \
        f"{path} is a flat PQ index (no nlist in meta) — use purge_pq_codes"
    return purge_pq_codes(spark, path, ids)


def ivfpq_topk(df: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
               k: int = 3, nlist: int = 16, nprobe: int = 2,
               m: int = 4, ksub: int = 8, n_iter: int = 2,
               dim: int = 64, balance_dims: bool = False,
               rotation=None) -> DataFrame:
    """IVF-PQ: the full large-corpus ANN serving stack — route each
    query to its ``nprobe`` nearest IVF centroids (max-cosine, the
    repo's IVF metric), then ADC-score ONLY the vectors assigned to
    the probed clusters, from PQ codes. Candidates shrink from N to
    ~N·nprobe/nlist and the scoring never touches raw vectors — the
    two multipliers that make 100-billion-vector search tractable
    (IndexIVFPQ in the PQ paper's terminology; codebooks here are
    trained on raw vectors, not residuals — the by_residual=False
    variant — keeping both engines' chains in deterministic lockstep).

    Scale shape: centroids + codebook + distance table broadcast; the
    corpus-sized legs — cluster assignment (id, cid), codes
    (id, j, code), and the candidate pairs (~N·|queries|·nprobe/nlist,
    a corpus FRACTION, never broadcast: r10 review) — are integer
    tables a fraction of the embedding bytes, joined equi-style with
    one shuffle at the (q_id, id) fold. Output (q_id, vec_id, adc),
    ties → lowest id."""
    from .similarity import cosine, ivf_build

    cent, assign = ivf_build(df, id_col, vec_col, nlist=nlist,
                             n_iter=n_iter)
    rot = _resolve_rotation(df, id_col, vec_col, dim, rotation)
    perm = dim_permutation(df, id_col, vec_col, m, dim, rot=rot) \
        if balance_dims else None
    codebook = pq_train(df, id_col, vec_col, m, ksub, n_iter, dim,
                        perm=perm, rot=rot)
    codes = pq_encode(df, id_col, vec_col, codebook, m, dim, perm=perm,
                      rot=rot)

    q = queries.select(F.col(id_col).alias("q_id"),
                       _dvec(F.col(vec_col)).alias("__qv__"))
    probes_scored = (q.crossJoin(F.broadcast(cent))
                     .withColumn("__cc__",
                                 cosine(F.col("__qv__"), F.col("cvec"))))
    wq = Window.partitionBy("q_id").orderBy(F.col("__cc__").desc(),
                                            F.col("cid").asc())
    probes = (probes_scored.withColumn("__rn__", F.row_number().over(wq))
              .filter(F.col("__rn__") <= nprobe).select("q_id", "cid"))

    cand = (assign.select(F.col(id_col).alias("id"), "cid")
            .join(F.broadcast(probes), "cid")
            .filter(F.col("q_id") != F.col("id"))
            .select("q_id", "id"))
    return _adc_topk(codes, codebook, queries, id_col, vec_col, k, m,
                     dim, cand=cand, perm=perm, rot=rot)


# --- persisted IVF-PQ index: the end-state ANN serving artifact ------------
#
# codes live in cid=<cluster> directories, so a query's ADC scan reads
# ONLY its probed clusters' directories — partition pruning does the
# inverted-file part (the ivf_build docstring's promise, materialized).
# Centroids and codebooks freeze at build (trained models, not
# per-document data); appended vectors route and encode against them —
# batch-sized maintenance, replay collapsed by the (id, j) dedupe.


def build_ivfpq_index(df: DataFrame, id_col: str, vec_col: str, path: str,
                      nlist: int = 16, m: int = 4, ksub: int = 8,
                      n_iter: int = 2, dim: int = 64,
                      train_fraction: float | None = None,
                      balance_dims: bool = False, rotation=None) -> None:
    from .similarity import ivf_build

    cent, assign = ivf_build(df, id_col, vec_col, nlist=nlist,
                             n_iter=n_iter)
    # rotation + permutation affect only the PQ half — IVF routing
    # compares whole vectors, and cosine is invariant under both
    # (orthogonal maps preserve dot products and norms)
    rot = _resolve_rotation(df, id_col, vec_col, dim, rotation,
                            train_fraction=train_fraction)
    perm = dim_permutation(df, id_col, vec_col, m, dim, rot=rot) \
        if balance_dims else None
    codebook = pq_train(df, id_col, vec_col, m, ksub, n_iter, dim,
                        train_fraction=train_fraction, perm=perm, rot=rot)
    meta = {"m": m, "ksub": ksub, "dim": dim, "nlist": nlist,
            "perm": perm, "rot": rot}
    _write(cent, path, "centroids", "overwrite", meta)
    _write(codebook, path, "codebook", "overwrite", meta)
    codes = pq_encode(df, id_col, vec_col, codebook, m, dim, perm=perm,
                      rot=rot)
    cids = assign.select(F.col(id_col).alias("id"), "cid")
    _write(codes.join(cids, "id").repartition("cid"), path, "codes",
           "overwrite", meta, ("cid",))
    _write_meta(path, meta)


def _route(queries: DataFrame, cent: DataFrame, id_col: str, vec_col: str,
           nprobe: int) -> DataFrame:
    """(q_id, cid) for each query's nprobe max-cosine centroids —
    queries × nlist rows, centroid table broadcast."""
    from .similarity import cosine

    q = queries.select(F.col(id_col).alias("q_id"),
                       _dvec(F.col(vec_col)).alias("__qv__"))
    scored = (q.crossJoin(F.broadcast(cent))
              .withColumn("__cc__", cosine(F.col("__qv__"), F.col("cvec"))))
    w = Window.partitionBy("q_id").orderBy(F.col("__cc__").desc(),
                                           F.col("cid").asc())
    return (scored.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= nprobe).select("q_id", "cid"))


def append_ivfpq_index(df_new: DataFrame, id_col: str, vec_col: str,
                       spark, path: str) -> None:
    """Route + encode NEW vectors against the FROZEN centroids and
    codebooks and append into their cid directories — batch-sized, no
    read of stored codes."""
    meta = _load_meta(path)
    before = _json.dumps(meta)
    cent = _open(spark, path, "centroids", meta)
    cb = _open(spark, path, "codebook", meta)
    assign = _route(df_new, cent, id_col, vec_col, nprobe=1) \
        .withColumnRenamed("q_id", "id")
    codes = pq_encode(df_new, id_col, vec_col, cb, meta["m"], meta["dim"],
                      perm=meta.get("perm"), rot=meta.get("rot"))
    _write(codes.join(assign, "id").repartition("cid"), path, "codes",
           "append", meta, ("cid",))
    if _json.dumps(meta) != before:
        _write_meta(path, meta)


def ivfpq_index_topk(queries: DataFrame, id_col: str, vec_col: str,
                     spark, path: str, k: int = 3,
                     nprobe: int = 2) -> DataFrame:
    """ADC top-k from the persisted IVF-PQ index: route the queries,
    then read ONLY the probed cid directories (a partition-column
    filter — pruned at planning; the probed-cid list is |queries|×
    nprobe values, driver-bounded) and score those codes against the
    broadcast distance table. The untouched clusters' bytes are never
    opened — the inverted-file promise, done with directories."""
    meta = _load_meta(path)
    cent = _open(spark, path, "centroids", meta)
    cb = _open(spark, path, "codebook", meta)
    probes = stage(_route(queries, cent, id_col, vec_col, nprobe), "memory")
    cids = [r["cid"] for r in probes.select("cid").distinct().collect()]
    codes = (_open(spark, path, "codes", meta)
             .filter(F.col("cid").isin(cids) if cids else F.lit(False))
             .dropDuplicates(["id", "j"]))
    cand = (codes.select("id", "cid").dropDuplicates(["id"])
            .join(F.broadcast(probes), "cid")
            .filter(F.col("q_id") != F.col("id"))
            .select("q_id", "id"))
    out = _adc_topk(codes.drop("cid"), cb, queries, id_col, vec_col,
                    k, meta["m"], meta["dim"], cand=cand,
                    perm=meta.get("perm"), rot=meta.get("rot"))
    out = stage(out, "checkpoint")
    release(probes)
    return out
