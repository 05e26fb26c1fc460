"""Round-10 queries: product quantization (ext/pq.py) — the
compressed-domain ANN path a 100 TB embedding corpus actually serves
from. The oracle reproduces the ENTIRE chain (subspace split, seeded
Lloyd with floor-quantized means, encode, ADC table scoring) in DuckDB
CTEs, so a hash-match proves codebooks, codes, and distances are
bit-identical across engines — the same standard the IVF family meets
(q_ext._ivf_ctes)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..ext import pq as PQ
from ..io import load_table
from .registry import ensure_built, query, scratch_dir

_M, _KSUB, _ITER, _DIM, _NQ, _K = 4, 8, 2, 64, 10, 3
_SUB = _DIM // _M


def _sql_l2(a: str, b: str) -> str:
    """In-order fold of (x−y)² — the pq.l2 twin (list_sum and
    F.aggregate both fold left, the established dot-product precedent)."""
    return (f"list_sum(list_transform(list_zip({a}, {b}), "
            "p -> (p[1] - p[2]) * (p[1] - p[2])))")


def _pq_ctes(m: int = _M, ksub: int = _KSUB, n_iter: int = _ITER,
             sub: int = _SUB, p: str = "", where: str = "",
             pre: list[str] | None = None,
             v_sql: str | None = None) -> list[str]:
    """CTE chain mirroring pq.pq_train + pq_encode: {p}c{n_iter} is the
    trained codebook, {p}af the encoded corpus (vec_id, j, code). ``p``
    prefixes every CTE name so the chain composes with the shared IVF
    chain (q_ext._ivf_ctes) in one oracle without name collisions.
    ``where`` restricts the source rows (the train_fraction twin);
    ``pre``/``v_sql`` prepend helper CTEs and override the source
    vector CTE's body (the balanced-permutation twin)."""
    l2 = _sql_l2
    ctes = (pre or []) + [
        f"{p}v AS ({v_sql})" if v_sql else
        f"{p}v AS (SELECT vec_id, list_transform(embedding,"
        f" x -> CAST(x AS DOUBLE)) AS vv FROM embeddings"
        f"{(' WHERE ' + where) if where else ''})",
        f"""{p}sv AS (
          SELECT vec_id, j, vv[(j*{sub}+1):(j*{sub}+{sub})] AS s
          FROM {p}v CROSS JOIN range({m}) t(j))""",
        f"""{p}c0 AS (
          SELECT j, rn - 1 AS code, s AS cvec FROM (
            SELECT j, s, ROW_NUMBER() OVER (PARTITION BY j
                     ORDER BY vec_id) AS rn
            FROM {p}sv) WHERE rn <= {ksub})""",
    ]
    for i in range(n_iter):
        ctes.append(f"""{p}a{i + 1} AS (
          SELECT vec_id, j, s, code FROM (
            SELECT sv.vec_id, sv.j, sv.s, c.code,
                   ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.j
                     ORDER BY {l2('sv.s', 'c.cvec')} ASC, c.code ASC) AS rn
            FROM {p}sv sv JOIN {p}c{i} c ON c.j = sv.j) WHERE rn = 1)""")
        ctes.append(f"""{p}c{i + 1} AS (
          SELECT j, code, list(m ORDER BY i) AS cvec FROM (
            SELECT j, code, i,
                   CAST(CAST(SUM(CAST(floor(x * CAST(1000000000 AS DOUBLE))
                       AS BIGINT)) AS BIGINT) AS DOUBLE)
                     / (COUNT(x) * CAST(1000000000 AS DOUBLE)) AS m
            FROM (SELECT j, code, unnest(s) AS x,
                         generate_subscripts(s, 1) AS i FROM {p}a{i + 1})
            GROUP BY j, code, i) GROUP BY j, code)""")
    ctes.append(f"""{p}af AS (
      SELECT vec_id, j, code FROM (
        SELECT sv.vec_id, sv.j, c.code,
               ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.j
                 ORDER BY {l2('sv.s', 'c.cvec')} ASC, c.code ASC) AS rn
        FROM {p}sv sv JOIN {p}c{n_iter} c ON c.j = sv.j) WHERE rn = 1)""")
    return ctes


def _pq_topk_oracle() -> str:
    l2 = _sql_l2
    ctes = _pq_ctes()
    ctes.append(f"""dtab AS (
      SELECT q.vec_id AS q_id, q.j, c.code, {l2('q.s', 'c.cvec')} AS d
      FROM sv q JOIN c{_ITER} c ON c.j = q.j
      WHERE q.vec_id < {_NQ})""")
    ctes.append("""scored AS (
      SELECT q_id, vec_id, list_sum(list(d ORDER BY j)) AS adc
      FROM (SELECT dt.q_id, af.vec_id, dt.j, dt.d
            FROM af JOIN dtab dt ON dt.j = af.j AND dt.code = af.code
            WHERE dt.q_id <> af.vec_id)
      GROUP BY q_id, vec_id)""")
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT q_id, vec_id, adc FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY adc ASC, vec_id ASC) AS rn
      FROM scored) WHERE rn <= {_K}""")


@query("sim_pq_topk", oracle=_pq_topk_oracle())
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over PQ codes (ext/pq.py): train (m=4, ksub=8)
    codebooks on the embeddings, encode, answer the first 10 vectors'
    k=3 neighbors from codes + a broadcast distance table alone — the
    raw vectors are never touched after encode. The oracle re-derives
    the identical codebooks/codes/distances, so the hash-match proves
    the full compressed-domain geometry, not just row counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < _NQ)
    return PQ.pq_topk(emb, qs, "vec_id", "embedding", k=_K, m=_M,
                      ksub=_KSUB, n_iter=_ITER, dim=_DIM)


@query("sim_pq_from_index", oracle=_pq_topk_oracle())
def sim_pq_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_pq_topk answered from the PERSISTED PQ index (ext/pq.py
    build_pq_index / pq_index_topk): the serving path — codebook frozen
    at build, the only corpus-sized read is the codes table (m small
    ints per vector). Same oracle as sim_pq_topk: codes are a pure
    function of (vector, codebook), so index-served == direct to the
    last bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir(sf_dir, "pq_index")
    ensure_built(path, lambda: PQ.build_pq_index(
        emb, "vec_id", "embedding", path, m=_M, ksub=_KSUB,
        n_iter=_ITER, dim=_DIM))
    qs = emb.filter(F.col("vec_id") < _NQ)
    return PQ.pq_index_topk(qs, "vec_id", "embedding", spark, path, k=_K)


@query(
    "sim_pq_code_balance",
    oracle="WITH " + ",\n".join(_pq_ctes()) + """
    SELECT j, code, CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM af GROUP BY j, code
    """,
)
def sim_pq_code_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer-balance audit: encoded-corpus occupancy per (subspace,
    code) — the report a corpus owner reads before trusting PQ recall
    (a code holding 90% of vectors means that subspace carries no
    signal). Codebook training + encode, one count aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = PQ.pq_train(emb, "vec_id", "embedding", m=_M, ksub=_KSUB,
                     n_iter=_ITER, dim=_DIM)
    codes = PQ.pq_encode(emb, "vec_id", "embedding", cb, m=_M, dim=_DIM)
    return (codes.groupBy("j", "code")
            .agg(F.count("*").cast("long").alias("n_vecs")))


_NLIST, _NPROBE = 16, 2


def _ivfpq_oracle() -> str:
    """IVF routing (the shared q_ext._ivf_ctes chain, cosine metric) +
    PQ scoring (the prefixed chain) composed in one statement: probes →
    candidates from probed clusters → ADC over candidates only. A
    hash-match proves BOTH index structures and their composition."""
    from .q_ext import _ivf_ctes, _sql_cos

    l2 = _sql_l2
    ctes = _ivf_ctes(_NLIST, _ITER) + _pq_ctes(p="p")
    ctes.append(f"""probes AS (
      SELECT q_id, cid FROM (
        SELECT q.vec_id AS q_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_sql_cos('q.vv', 'c.cvec')} DESC, c.cid ASC) AS rn
        FROM v q, c{_ITER} c WHERE q.vec_id < {_NQ})
      WHERE rn <= {_NPROBE})""")
    ctes.append("""cand AS (
      SELECT p.q_id, a.vec_id FROM probes p JOIN af a USING (cid)
      WHERE p.q_id <> a.vec_id)""")
    ctes.append(f"""pdtab AS (
      SELECT q.vec_id AS q_id, q.j, c.code, {l2('q.s', 'c.cvec')} AS d
      FROM psv q JOIN pc{_ITER} c ON c.j = q.j
      WHERE q.vec_id < {_NQ})""")
    ctes.append("""pscored AS (
      SELECT q_id, vec_id, list_sum(list(d ORDER BY j)) AS adc
      FROM (SELECT cd.q_id, pa.vec_id, dt.j, dt.d
            FROM cand cd
            JOIN paf pa ON pa.vec_id = cd.vec_id
            JOIN pdtab dt ON dt.q_id = cd.q_id AND dt.j = pa.j
                         AND dt.code = pa.code)
      GROUP BY q_id, vec_id)""")
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT q_id, vec_id, adc FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY adc ASC, vec_id ASC) AS rn
      FROM pscored) WHERE rn <= {_K}""")


@query("sim_ivfpq_topk", oracle=_ivfpq_oracle())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (ext/pq.ivfpq_topk): route each query to its nprobe=2
    max-cosine IVF centroids, ADC-score only the probed clusters'
    vectors from PQ codes — candidates shrink ~nprobe/nlist AND the
    scoring reads 64×-compressed codes, the two multipliers of the
    standard billion-vector serving stack. Oracle composes the shared
    IVF CTE chain with the prefixed PQ chain, so the hash-match proves
    routing, quantization, and their composition end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < _NQ)
    return PQ.ivfpq_topk(emb, qs, "vec_id", "embedding", k=_K,
                         nlist=_NLIST, nprobe=_NPROBE, m=_M, ksub=_KSUB,
                         n_iter=_ITER, dim=_DIM)


@query(
    "sim_pq_recall_audit",
    oracle="WITH " + ",\n".join(_pq_ctes() + [
        f"""exd AS (
          SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, a.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                     ORDER BY {_sql_l2('q.vv', 'a.vv')} ASC,
                              a.vec_id ASC) AS rn
            FROM v q, v a
            WHERE q.vec_id < {_NQ} AND a.vec_id <> q.vec_id)
          WHERE rn <= {_K})""",
        f"""pqdtab AS (
          SELECT q.vec_id AS q_id, q.j, c.code,
                 {_sql_l2('q.s', 'c.cvec')} AS d
          FROM sv q JOIN c{_ITER} c ON c.j = q.j
          WHERE q.vec_id < {_NQ})""",
        """pqd AS (
          SELECT q_id, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY adc ASC, vec_id ASC) AS rn
            FROM (SELECT q_id, vec_id,
                         list_sum(list(d ORDER BY j)) AS adc
                  FROM (SELECT dt.q_id, af.vec_id, dt.j, dt.d
                        FROM af JOIN pqdtab dt
                          ON dt.j = af.j AND dt.code = af.code
                        WHERE dt.q_id <> af.vec_id)
                  GROUP BY q_id, vec_id))
          WHERE rn <= """ + str(_K) + ")",
    ]) + f"""
    SELECT e.q_id,
           CAST(COUNT(p.vec_id) AS BIGINT) AS n_hit,
           COUNT(p.vec_id) / CAST({_K} AS DOUBLE) AS recall
    FROM exd e LEFT JOIN pqd p
      ON p.q_id = e.q_id AND p.vec_id = e.vec_id
    GROUP BY e.q_id
    """,
)
def sim_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ recall audit — the calibration report a corpus owner reads
    before trusting compressed-domain search (the
    dedup_lsh_recall_audit pattern): per query, how many of the EXACT
    squared-L2 top-k survive in the ADC top-k. Both sides derive in
    one statement on both engines, so the recall numbers themselves
    hash-match — the audit is exact, not estimated. Exact side: one
    broadcast of the query batch against the corpus (a corpus scan per
    query BATCH, not per query — the brute-force baseline every ANN
    audit needs)."""
    from ..ext import pq as PQ2
    from ..ext.similarity import _dvec
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < _NQ)

    v = emb.select(F.col("vec_id").alias("id"),
                   _dvec(F.col("embedding")).alias("__v__"))
    q = qs.select(F.col("vec_id").alias("q_id"),
                  _dvec(F.col("embedding")).alias("__qv__"))
    scored = (v.crossJoin(F.broadcast(q))
              .filter(F.col("q_id") != F.col("id"))
              .withColumn("__d__", PQ2.l2("__qv__", "__v__")))
    w = Window.partitionBy("q_id").orderBy(F.col("__d__").asc(),
                                           F.col("id").asc())
    exact = (scored.withColumn("__rn__", F.row_number().over(w))
             .filter(F.col("__rn__") <= _K).select("q_id", "id"))
    pq = PQ.pq_topk(emb, qs, "vec_id", "embedding", k=_K, m=_M,
                    ksub=_KSUB, n_iter=_ITER, dim=_DIM) \
        .select("q_id", F.col("vec_id").alias("id"), F.lit(1).alias("__hit__"))
    return (exact.join(pq, ["q_id", "id"], "left")
            .groupBy("q_id")
            .agg(F.count("__hit__").cast("long").alias("n_hit"),
                 (F.count("__hit__") / F.lit(float(_K))).alias("recall")))


def _ahash_group_oracle() -> str:
    from .q_ext8 import _ahash_index_oracle

    return _ahash_index_oracle()


@query("multimodal_ahash_group_pairs", oracle=_ahash_group_oracle())
def multimodal_ahash_group_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly image-dedup shape served from the GROUP-layout
    perceptual index (ext/multimodal.ahash_group_index_pairs): stored
    groups are persisted pre-grouped and exploded into hbkt / (bidx,
    bbkt) directories, so the delta query reads only the directories
    its own hashes name and never re-groups the corpus — the r10 rig
    measured the row-layout delta paying a corpus-sized groupBy per
    query (2.37 s vs full 1.43 s at 10×); this layout removes it
    structurally. Same oracle as multimodal_ahash_index_pairs: the
    layout is invisible to the pair set."""
    from ..ext import multimodal as MM

    d = load_table(spark, sf_dir, "documents")
    hist1 = d.filter(F.col("doc_id") % 10 < 5)
    hist2 = d.filter((F.col("doc_id") % 10 >= 5) & (F.col("doc_id") % 10 < 7))
    delta = d.filter(F.col("doc_id") % 10 >= 7)
    path = scratch_dir(sf_dir, "ahash_groups")
    ensure_built(path, lambda: [
        MM.build_ahash_group_index(hist1, "doc_id", "text", path),
        MM.append_ahash_group_index(hist2, "doc_id", "text", path)])
    return MM.ahash_group_index_pairs(delta, "doc_id", "text", spark, path,
                                      max_hamming=6)


@query("sim_ivfpq_from_index", oracle=_ivfpq_oracle())
def sim_ivfpq_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivfpq_topk answered from the PERSISTED IVF-PQ index
    (ext/pq.build_ivfpq_index / ivfpq_index_topk): codes live in
    cid=<cluster> directories, so the query reads ONLY its probed
    clusters' directories — partition pruning does the inverted-file
    part, and the untouched clusters' bytes are never opened. Same
    oracle as sim_ivfpq_topk: routing/quantization freeze at build on
    the same corpus, so index-served == composed-inline bit for bit."""
    from ..ext import pq as PQM

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir(sf_dir, "ivfpq_index")
    ensure_built(path, lambda: PQM.build_ivfpq_index(
        emb, "vec_id", "embedding", path, nlist=_NLIST, m=_M,
        ksub=_KSUB, n_iter=_ITER, dim=_DIM))
    qs = emb.filter(F.col("vec_id") < _NQ)
    return PQM.ivfpq_index_topk(qs, "vec_id", "embedding", spark, path,
                                k=_K, nprobe=_NPROBE)


def _pq_sampled_oracle() -> str:
    from ..ext.sampling import sql_hash_bucket

    thr = int(0.5 * 2 ** 32)
    ctes = _pq_ctes(where=f"{sql_hash_bucket('vec_id', 'pqtrain:')} < {thr}")
    # long form (j, code, dim i, value): the driver compare hashes
    # scalars only — array columns are unhashable on its side
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT j, code, CAST(generate_subscripts(cvec, 1) - 1 AS BIGINT) AS i,
           unnest(cvec) AS x
    FROM c{_ITER}""")


@query("sim_pq_train_sampled", oracle=_pq_sampled_oracle())
def sim_pq_train_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook trained on the deterministic md5 half-sample
    (ext/pq.pq_train train_fraction=0.5, r11): real deployments train
    PQ codebooks on a sample because training is the only cost that
    rescans the corpus per Lloyd iteration (measured 38.8 → 9.0s at the
    10× rig with fraction=0.1), while encode stays full-corpus. The
    oracle re-derives the sampled training chain — the md5 hash filter
    (ext/sampling.sql_hash_bucket, the established sampling oracle
    form) composed with the full PQ CTE chain — so a hash-match proves
    the sampled codebook is bit-identical across engines, not merely
    shaped right."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = PQ.pq_train(emb, "vec_id", "embedding", m=_M, ksub=_KSUB,
                     n_iter=_ITER, dim=_DIM, train_fraction=0.5)
    return cb.select("j", "code",
                     F.posexplode("cvec").alias("i", "x")) \
        .select("j", "code", F.col("i").cast("long").alias("i"), "x")


def _pq_balanced_oracle() -> str:
    """The balanced-permutation chain: re-derive the variance ranking
    from the SAME exact integers Spark uses (q = floor(x·10⁹); score =
    n·Σq² − (Σq)² in HUGEINT — order-independent, so the ranking and
    hence the permutation are bit-identical), permute, then run the
    standard PQ chain + ADC top-k over the permuted vectors."""
    l2 = _sql_l2
    pre = [
        """bv0 AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(x AS DOUBLE)) AS vv FROM embeddings)""",
        """bstat AS (
          SELECT i, CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(q AS HUGEINT)) AS s,
                 SUM(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS ss
          FROM (SELECT generate_subscripts(vv, 1) AS i,
                       CAST(floor(unnest(vv) * 1000000000.0) AS BIGINT) AS q
                FROM bv0)
          GROUP BY i)""",
        f"""bperm AS (
          SELECT i, ((rnk - 1) % {_M}) * {_SUB} + (rnk - 1) // {_M} AS pos
          FROM (SELECT i, ROW_NUMBER() OVER (
                  ORDER BY n * ss - s * s DESC, i ASC) AS rnk
                FROM bstat))""",
    ]
    v_sql = """
          SELECT vec_id, list(x ORDER BY pos) AS vv
          FROM (SELECT vec_id, generate_subscripts(vv, 1) AS i,
                       unnest(vv) AS x FROM bv0)
          JOIN bperm USING (i) GROUP BY vec_id"""
    ctes = _pq_ctes(pre=pre, v_sql=v_sql)
    ctes.append(f"""dtab AS (
      SELECT q.vec_id AS q_id, q.j, c.code, {l2('q.s', 'c.cvec')} AS d
      FROM sv q JOIN c{_ITER} c ON c.j = q.j
      WHERE q.vec_id < {_NQ})""")
    ctes.append("""scored AS (
      SELECT q_id, vec_id, list_sum(list(d ORDER BY j)) AS adc
      FROM (SELECT dt.q_id, af.vec_id, dt.j, dt.d
            FROM af JOIN dtab dt ON dt.j = af.j AND dt.code = af.code
            WHERE dt.q_id <> af.vec_id)
      GROUP BY q_id, vec_id)""")
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT q_id, vec_id, adc FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY adc ASC, vec_id ASC) AS rn
      FROM scored) WHERE rn <= {_K}""")


@query("sim_pq_balanced_topk", oracle=_pq_balanced_oracle())
def sim_pq_balanced_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k under the variance-balancing dimension permutation
    (ext/pq.dim_permutation, r11 — the deterministic OPQ-lite): naive
    contiguous slicing concentrates high-variance dimensions in one
    subspace whose ksub centroids then carry all the signal; dealing
    dimensions round-robin by exact-integer variance rank balances
    per-subspace energy as a plan-time projection (zero extra shuffle,
    the permutation literal comes from one dim-row driver probe).
    Measured on the anisotropic 10× rig (scripts/pq_balanced_r11.json):
    recall@10 0.002 → 0.110 at m=4/ksub=8 and 0.110 → 0.588 at
    m=8/ksub=64, exactly neutral on isotropic data. The oracle
    re-derives the permutation from the same exact integers and runs
    the full permuted chain — a hash-match proves ranking, permutation,
    codebooks, codes, and distances end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < _NQ)
    return PQ.pq_topk(emb, qs, "vec_id", "embedding", k=_K, m=_M,
                      ksub=_KSUB, n_iter=_ITER, dim=_DIM,
                      balance_dims=True)


def _fixed_rotation(dim: int = _DIM) -> list[list[float]]:
    """A fixed orthogonal rotation for the oracle-paired rotated-PQ
    twin: block-diagonal 2×2 Givens blocks with distinct angles —
    orthogonal by construction, and its float entries are generated
    ONCE here and embedded as literals in BOTH the Spark plan
    (pq.rotate_expr) and the DuckDB oracle (``repr`` round-trips a
    double exactly in both parsers), so the two engines multiply the
    same bits. The trained path (pq.pca_rotation) is adjudicated on
    the rig and served by the rows-only ``sim_pq_pca_topk`` twin —
    an eigensolve has no SQL restatement; this FIXED matrix is the
    oracle-carrying form proving the rotate→rank→permute→train→
    encode→ADC chain bit-for-bit (the _auto / fixed-twin precedent)."""
    import math

    rot = [[0.0] * dim for _ in range(dim)]
    for b in range(dim // 2):
        t = 0.1 + 0.05 * b
        c, s = math.cos(t), math.sin(t)
        rot[2 * b][2 * b] = c
        rot[2 * b][2 * b + 1] = s
        rot[2 * b + 1][2 * b] = -s
        rot[2 * b + 1][2 * b + 1] = c
    return rot


_ROT = _fixed_rotation()


def _pq_rotated_oracle() -> str:
    """The rotated+balanced chain: rotate with the SAME literal matrix
    (in-order fold per output coordinate — list_sum mirrors
    F.aggregate, the _sql_l2 precedent), re-derive the variance
    ranking on the ROTATED vectors from the same exact integers, then
    run the standard permuted PQ chain + ADC top-k."""
    l2 = _sql_l2
    # %.17e forces DOUBLE typing in DuckDB (a bare decimal literal
    # parses as DECIMAL, and decimal→double products round differently
    # in the last ulp); 17 digits round-trips the double exactly
    vals = ",\n".join(
        "({}, [{}])".format(i, ", ".join("%.17e" % v for v in row))
        for i, row in enumerate(_ROT))
    pre = [
        """rbase AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(x AS DOUBLE)) AS vv FROM embeddings)""",
        f"""rrot AS (SELECT * FROM (VALUES {vals}) t(i, rvec))""",
        """bv0 AS (
          SELECT vec_id, list(val ORDER BY i) AS vv
          FROM (SELECT v.vec_id, r.i,
                       list_sum(list_transform(list_zip(r.rvec, v.vv),
                                p -> p[1] * p[2])) AS val
                FROM rbase v CROSS JOIN rrot r)
          GROUP BY vec_id)""",
        """bstat AS (
          SELECT i, CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(q AS HUGEINT)) AS s,
                 SUM(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS ss
          FROM (SELECT generate_subscripts(vv, 1) AS i,
                       CAST(floor(unnest(vv) * 1000000000.0) AS BIGINT) AS q
                FROM bv0)
          GROUP BY i)""",
        f"""bperm AS (
          SELECT i, ((rnk - 1) % {_M}) * {_SUB} + (rnk - 1) // {_M} AS pos
          FROM (SELECT i, ROW_NUMBER() OVER (
                  ORDER BY n * ss - s * s DESC, i ASC) AS rnk
                FROM bstat))""",
    ]
    v_sql = """
          SELECT vec_id, list(x ORDER BY pos) AS vv
          FROM (SELECT vec_id, generate_subscripts(vv, 1) AS i,
                       unnest(vv) AS x FROM bv0)
          JOIN bperm USING (i) GROUP BY vec_id"""
    ctes = _pq_ctes(pre=pre, v_sql=v_sql)
    ctes.append(f"""dtab AS (
      SELECT q.vec_id AS q_id, q.j, c.code, {l2('q.s', 'c.cvec')} AS d
      FROM sv q JOIN c{_ITER} c ON c.j = q.j
      WHERE q.vec_id < {_NQ})""")
    ctes.append("""scored AS (
      SELECT q_id, vec_id, list_sum(list(d ORDER BY j)) AS adc
      FROM (SELECT dt.q_id, af.vec_id, dt.j, dt.d
            FROM af JOIN dtab dt ON dt.j = af.j AND dt.code = af.code
            WHERE dt.q_id <> af.vec_id)
      GROUP BY q_id, vec_id)""")
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT q_id, vec_id, adc FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY adc ASC, vec_id ASC) AS rn
      FROM scored) WHERE rn <= {_K}""")


@query("sim_pq_rotated_topk", oracle=_pq_rotated_oracle())
def sim_pq_rotated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k under an explicit rotation composed with the variance
    permutation (ext/pq rotate_expr + dim_permutation(rot=...) — the
    full-OPQ pipeline, r12 adjudication): when anisotropy is smeared
    across coordinates by correlation, a permutation alone is blind;
    rotating into the decorrelated basis and THEN balancing roughly
    doubles recall on the correlated rig (scripts/opq_r12.json:
    0.176→0.368 at m=8/ksub=16, 0.382→0.536 at ksub=64 — while
    rotation WITHOUT rebalancing is ~⅕ of naive, so the two must
    compose). This oracle-carrying twin uses a fixed literal
    block-Givens matrix; the trained variant (rotation="pca") is
    sim_pq_pca_topk. Both rotation and permutation are plan-time
    projections — zero extra shuffle at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < _NQ)
    return PQ.pq_topk(emb, qs, "vec_id", "embedding", k=_K, m=_M,
                      ksub=_KSUB, n_iter=_ITER, dim=_DIM,
                      balance_dims=True, rotation=_ROT)


@query("sim_pq_pca_topk")
def sim_pq_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k under the TRAINED rotation (ext/pq.pca_rotation —
    full OPQ, adopted r12): eigenbasis of the exact quantized-integer
    covariance (two bounded aggregates + one frozen driver-side
    eigensolve), composed with the variance permutation on the rotated
    coordinates. On the correlated-anisotropic rig the engine path
    reaches the oracle-derotation upper bound (scripts/opq_r12.json,
    ``pca_engine`` vs ``rotated_permuted``). Rows-only: an eigensolve
    has no DuckDB restatement — sim_pq_rotated_topk is the
    oracle-carrying fixed twin proving the identical plan chain (the
    _auto-form precedent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < _NQ)
    return PQ.pq_topk(emb, qs, "vec_id", "embedding", k=_K, m=_M,
                      ksub=_KSUB, n_iter=_ITER, dim=_DIM,
                      balance_dims=True, rotation="pca")


@query("sim_pq_rotated_from_index", oracle=_pq_rotated_oracle())
def sim_pq_rotated_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_pq_rotated_topk answered from a PERSISTED index whose
    rotation + permutation were frozen at build (r13 — the serving
    shape of the full-OPQ chain, and the exact path the r13 service
    build verb exposes over HTTP): build_pq_index stores the literal
    matrix and the variance permutation in the index meta; queries
    rotate only their own batch and read 64×-compressed codes. Same
    oracle as the inline twin — rotation, permutation, codebook, and
    codes are all pure functions of (corpus, literal matrix), so
    index-served == composed-inline bit for bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir(sf_dir, "pq_rot_index")
    ensure_built(path, lambda: PQ.build_pq_index(
        emb, "vec_id", "embedding", path, m=_M, ksub=_KSUB,
        n_iter=_ITER, dim=_DIM, balance_dims=True, rotation=_ROT))
    qs = emb.filter(F.col("vec_id") < _NQ)
    return PQ.pq_index_topk(qs, "vec_id", "embedding", spark, path, k=_K)
