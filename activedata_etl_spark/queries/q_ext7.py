"""Round-5 (late) queries: BM25 lexical retrieval, priority sampling,
cluster-confined kNN graph — three training-data-pipeline operators the
inventory did not yet cover, each with a bit-exact DuckDB oracle.

Shared determinism discipline (see ext/text.bm25_topk and SCALE.md):
no ln()/pow() across the engine boundary (libm last-ulp), no double
accumulation (order-dependent) — exact-integer rationals, single IEEE
divisions, floor-quantized sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..ext import sampling as SA, similarity as SIM, text as TX
from ..io import load_table
from .q_ext import _ivf_ctes, _sql_cos
from .registry import ensure_built, query, scratch_dir

#: Fixed BM25 query — common corpus terms with distinct document
#: frequencies, so idf actually differentiates.
_BM25_TERMS = ("spark", "vector", "merge")

_TOK = "string_split_regex(lower(trim(text)), '\\s+')"


def _bm25_ctes() -> str:
    """The BM25 CTE chain (terms fixed to _BM25_TERMS, constants folded
    for k1=1.2 / b=0.75): ends at ``bm`` = (doc_id, bm25). Shared by the
    direct, jx-routed, and hybrid-RRF oracles."""
    return f"""tok AS (
      SELECT doc_id, unnest({_TOK}) AS w FROM documents
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total FROM dl
    ), tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
      WHERE w IN ('spark', 'vector', 'merge') GROUP BY doc_id, w
    ), dfreq AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w
    ), scored AS (
      SELECT tf.doc_id,
             CAST(2200 * tf.tf * (2 * n.n_docs - 2 * dfreq.df + 1) AS DOUBLE)
               * CAST(n.total AS DOUBLE)
             / (CAST(2 * dfreq.df + 1 AS DOUBLE)
                * CAST(1000 * tf.tf * n.total + 300 * n.total
                       + 900 * dl.dl * n.n_docs AS DOUBLE)) AS s
      FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id) CROSS JOIN n
    ), bm AS (
      SELECT doc_id,
             CAST(CAST(SUM(CAST(floor(s * 1000000.0) AS BIGINT)) AS BIGINT)
                  AS DOUBLE) / 1000000.0 AS bm25
      FROM scored GROUP BY doc_id
    )"""


@query(
    "text_bm25_topk",
    oracle="WITH " + _bm25_ctes() + """
    SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 15
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 for a fixed 3-term query (k1=1.2, b=0.75) — the
    exact-integer rearrangement in ext/text.bm25_topk; the oracle
    inlines the same rational with the constants folded
    (A=2200, B1=300, B2=900)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.bm25_topk(d, "doc_id", "text", list(_BM25_TERMS), k=15)


@query(
    "sample_priority_weighted",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, n_chars,
             CAST(n_chars * 4294967296 AS DOUBLE)
             / CAST({SA.sql_hash_bucket('doc_id', 'prio1')} + 1 AS DOUBLE)
               AS priority
      FROM documents
    ), top AS (
      SELECT * FROM (
        SELECT p.*, ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rn
        FROM p
      ) WHERE rn <= 21
    ), tau AS (SELECT MIN(priority) AS tau FROM top)
    SELECT doc_id, n_chars, priority,
           GREATEST(CAST(n_chars AS DOUBLE), tau.tau) AS est_weight
    FROM top CROSS JOIN tau WHERE rn <= 20
    """,
)
def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup): 20 documents drawn
    without replacement with probability ∝ length, plus the unbiased
    per-row subset-sum estimator max(w, τ). The md5 coin makes the draw
    reproducible in any engine; the oracle's single-window ROW_NUMBER is
    the semantic spec — the Spark plan lowers the same total order to
    TakeOrderedAndProject (no global sort; asserted in test_plans)."""
    d = load_table(spark, sf_dir, "documents")
    return SA.priority_sample(d, "doc_id", "n_chars", k=20, salt="prio1")


@query(
    "sim_knn_graph",
    oracle="WITH " + ",\n".join(_ivf_ctes(8, 2)) + f"""
    SELECT src, dst, cos FROM (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {_sql_cos('a.vv', 'b.vv')} AS cos,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY {_sql_cos('a.vv', 'b.vv')} DESC, b.vec_id ASC) AS rn
      FROM af a JOIN af b USING (cid) WHERE a.vec_id <> b.vec_id
    ) WHERE rn <= 3
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-confined exact kNN graph (top-3 cosine neighbors within
    each vector's IVF cluster, nlist=8) — the substrate for kNN-density
    outliers / label propagation. Oracle reuses the shared deterministic
    k-means CTE chain (q_ext._ivf_ctes) and self-joins the final
    assignment, mirroring the equi-join-on-cid plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_graph(emb, "vec_id", "embedding", k=3, nlist=8, n_iter=2)


@query(
    "sample_temperature_mixture",
    oracle=f"""
    WITH per AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_units,
             CAST(floor(sqrt(CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE))
                        * 1000000.0) AS BIGINT) AS w
      FROM documents GROUP BY source
    ), tot AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM per),
    plan AS (
      SELECT source, n_units, w,
             CAST(100000 AS BIGINT) * w // wsum AS target_units,
             LEAST(1.0, CAST(CAST(100000 AS BIGINT) * w // wsum AS DOUBLE)
                        / CAST(n_units AS DOUBLE)) AS keep_rate
      FROM per CROSS JOIN tot
    ), kept AS (
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
             CAST(SUM(d.n_chars) AS BIGINT) AS kept_units
      FROM documents d JOIN plan p USING (source)
      WHERE {SA.sql_hash_bucket('d.doc_id', 'temp1')}
            < CAST(floor(p.keep_rate * 4294967296.0) AS BIGINT)
      GROUP BY d.source
    )
    SELECT plan.source, n_units, w, target_units, keep_rate,
           COALESCE(kept_docs, 0) AS kept_docs,
           COALESCE(kept_units, 0) AS kept_units
    FROM plan LEFT JOIN kept ON plan.source = kept.source
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (size^0.5) mixture over documents by source with a
    100k-char budget: damped shares, integer target split, md5-realized
    keep — the multilingual-corpus reweighting standard. sqrt is
    correctly-rounded IEEE (engine-portable, unlike pow/ln); shares are
    BIGINT ratios of the floor-quantized damped weights."""
    d = load_table(spark, sf_dir, "documents")
    return SA.temperature_mixture(d, "source", "doc_id", "n_chars",
                                  budget=100_000, salt="temp1")


from ..io import register_views  # noqa: E402
from ..plans import query as JXQ  # noqa: E402
from .registry import ORACLES as _REG  # noqa: E402


@query("jx_bm25_topk", oracle=_REG["text_bm25_topk"])
def jx_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval through the jx front-end — the lexical-search
    surface under the reference's "JSON query in, result out" contract.
    Same oracle as text_bm25_topk: routing must be result-invisible."""
    register_views(spark, sf_dir)
    return JXQ.run(spark, {
        "from": {"op": "bm25", "table": "documents", "id": "doc_id",
                 "text": "text", "terms": list(_BM25_TERMS), "k": 15},
    })


from ..functions.exact import dsum, sql_dsum  # noqa: E402


@query(
    "etl_manifest_pruned_2d",
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('o_totalprice')} AS total
    FROM orders
    WHERE o_custkey >= 200 AND o_custkey <= 700
      AND o_orderkey >= 1000 AND o_orderkey <= 30000
    GROUP BY o_orderstatus
    """,
)
def etl_manifest_pruned_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D conjunctive manifest pruning through the standard load path:
    orders re-laid-out z-ordered on BOTH o_custkey and o_orderkey (each
    scaled to the same 10-bit range — the layout.py normalization rule),
    manifest with stats on both columns, then a read with bounds on
    both. prune_files_multi intersects the per-column candidate sets, so
    the 2-D read opens at most as many files as either 1-D bound alone
    (asserted in test_etl's 2-D pruning test); the oracle is the plain
    full-scan filter — pruning must be result-invisible."""
    import os

    from ..io import load_parquet
    from ..sources import layout as L

    o = load_table(spark, sf_dir, "orders")
    data = os.path.join(scratch_dir(sf_dir, "manifest2d"), "orders.parquet")

    def _build():
        hi = o.agg(F.max("o_custkey").alias("ck"),
                   F.max("o_orderkey").alias("ok")).first()
        L.write_zordered(
            o, data,
            [F.floor(F.col("o_custkey") * 1024 / (hi["ck"] + 1)).cast("bigint"),
             F.floor(F.col("o_orderkey") * 1024 / (hi["ok"] + 1)).cast("bigint")],
            n_files=8, bits=10)
        L.write_manifest(spark, data, ["o_custkey", "o_orderkey"])

    ensure_built(os.path.dirname(data), _build)
    pruned = load_parquet(spark, data,
                          bounds={"o_custkey": (200, 700),
                                  "o_orderkey": (1000, 30000)})
    return (pruned.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 dsum("o_totalprice").alias("total")))


@query(
    "sim_knn_components",
    oracle="WITH RECURSIVE " + ",\n".join(_ivf_ctes(8, 2)) + f""",
    knn AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY {_sql_cos('a.vv', 'b.vv')} DESC, b.vec_id ASC) AS rn
        FROM af a JOIN af b USING (cid) WHERE a.vec_id <> b.vec_id
      ) WHERE rn <= 3
    ),
    edges AS (
      SELECT src, dst FROM knn UNION SELECT dst, src FROM knn
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      WHERE e.dst <> r.src
    )
    SELECT src AS vec_id, least(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def sim_knn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic grouping = connected components over the kNN graph (the
    mutual-reachability topic clusters a corpus map is built from).
    Composition of two verified operators: knn_graph edges (undirected)
    → min-label propagation. Components cannot span IVF clusters (the
    knn edges are cluster-confined), so component size — and the
    recursive closure the oracle materializes — is bounded by the
    cluster-size contract, not the corpus."""
    from ..ext import dedup as DD

    emb = load_table(spark, sf_dir, "embeddings")
    edges = SIM.knn_graph(emb, "vec_id", "embedding", k=3, nlist=8, n_iter=2)
    pairs = edges.select(F.least("src", "dst").alias("id_a"),
                         F.greatest("src", "dst").alias("id_b")).distinct()
    return (DD.connected_components(pairs)
            .select(F.col("id").alias("vec_id"), "cluster_id"))


@query(
    "text_hybrid_rrf_topk",
    oracle="WITH " + _bm25_ctes() + f""",
    lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rl
      FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50)
    ),
    qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE vec_id = 0),
    cosed AS (
      SELECT vec_id AS doc_id,
             {_sql_cos("list_transform(e.embedding, x -> CAST(x AS DOUBLE))", "qv.v")} AS cos
      FROM embeddings e CROSS JOIN qv
    ),
    sem AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rs
      FROM (SELECT * FROM cosed ORDER BY cos DESC, doc_id LIMIT 50)
    ),
    fused AS (
      SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             lex.rl AS rank_lex, sem.rs AS rank_sem,
             COALESCE(CAST(1 AS DOUBLE) / CAST(60 + lex.rl AS DOUBLE), 0.0)
             + COALESCE(CAST(1 AS DOUBLE) / CAST(60 + sem.rs AS DOUBLE), 0.0)
               AS rrf
      FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    )
    SELECT doc_id, rank_lex, rank_sem, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def text_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical leg (top-50 for the fixed terms)
    fused with a semantic leg (cosine to doc 0's embedding, top-50 —
    brute here as the exactness baseline; the ANN variants are the
    scale path for the leg) by reciprocal-rank fusion (k0=60,
    ext/text.rrf_fuse). Ranks are exact integers, the fusion is two
    IEEE divisions summed in a fixed order — engine-exact. The windows
    rank ALREADY-TRUNCATED 50-row legs (TakeOrderedAndProject upstream),
    so no corpus-scale single-partition window exists in the plan."""
    from pyspark.sql import Window

    from ..ext.similarity import cosine

    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = TX.bm25_topk(d, "doc_id", "text", list(_BM25_TERMS), k=50)
    wl = Window.orderBy(F.desc("bm25"), "doc_id")
    lex = lex.withColumn("rank", F.row_number().over(wl))
    qv = (emb.filter(F.col("vec_id") == 0)
          .select(F.col("embedding").alias("__qv__")))
    sem = (emb.crossJoin(F.broadcast(qv))
           .withColumn("cos", cosine(F.col("embedding"), F.col("__qv__")))
           .orderBy(F.desc("cos"), "vec_id").limit(50)
           .select(F.col("vec_id").alias("doc_id"), "cos"))
    ws = Window.orderBy(F.desc("cos"), "doc_id")
    sem = sem.withColumn("rank", F.row_number().over(ws))
    fused = TX.rrf_fuse(lex, sem, "doc_id", n=10)
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(10)


def _ahash_oracle(max_hamming: int = 6) -> str:
    """DuckDB rendering of the aHash pipeline: 64 code-point pixels,
    integer mean-threshold bits, 4×16-bit bands, OR-of-bands blocking +
    exact hamming — the blocking is result-equivalent to the Spark
    side's first-shared-band equi-join form."""
    vals = ", ".join(f"ord(substring(p, {i + 1}, 1))" for i in range(64))
    pw = "list_value(" + ", ".join(str(1 << j) for j in range(16)) + ")"

    def band(b: int) -> str:
        return (f"CAST(list_sum(list_transform(list_zip("
                f"list_slice(bits, {b * 16 + 1}, {b * 16 + 16}), {pw}), "
                f"p -> p[1] * p[2])) AS BIGINT) AS b{b}")

    return f"""
    WITH t AS (SELECT doc_id, rpad(text, 64, ' ') AS p FROM documents),
    v AS (SELECT doc_id, list_value({vals}) AS vs FROM t),
    s AS (SELECT doc_id, vs, CAST(list_sum(vs) AS BIGINT) AS tot FROM v),
    bt AS (SELECT doc_id,
             list_transform(vs, x -> CASE WHEN x * 64 >= tot
               THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bits
           FROM s),
    h AS (SELECT doc_id, {band(0)}, {band(1)}, {band(2)}, {band(3)} FROM bt)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
              AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
     AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        <= {max_hamming}
    """


@query("multimodal_ahash_pairs", oracle=_ahash_oracle(6))
def multimodal_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs by average-hash (aHash), hamming ≤ 6 of
    64 bits with 16-bit-band blocking — image dedup's standard cheap
    fingerprint, over the module's stubbed decode (pixels = payload code
    points; a real codec swaps only the pixel stage). All-integer end to
    end; the Spark side blocks via a banded equi-join with the
    first-shared-band guard (no distinct), the oracle states the same
    pair set with an OR-of-bands join."""
    from ..ext import multimodal as MM

    d = load_table(spark, sf_dir, "documents")
    return MM.ahash_pairs(d, "doc_id", "text", max_hamming=6)


@query("text_bm25_from_index", oracle=_REG["text_bm25_topk"])
def text_bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the PERSISTED postings index (two batch shards,
    stats derived merge-on-read) — must be byte-identical to scoring the
    corpus directly, so the oracle is text_bm25_topk's corpus SQL
    verbatim (index invisibility, the dedup_index_query pattern). The
    cached index under the system temp dir is rebuilt from the base
    table if absent; postings written LAST per shard = completion
    marker."""
    d = load_table(spark, sf_dir, "documents")
    path = scratch_dir(sf_dir, "bm25")

    def _build():
        half = d.count() // 2
        TX.append_bm25_index(d.filter(F.col("doc_id") < half),
                             "doc_id", "text", path, 0)
        TX.append_bm25_index(d.filter(F.col("doc_id") >= half),
                             "doc_id", "text", path, 1)

    ensure_built(path, _build)
    return TX.bm25_query_index(spark, path, list(_BM25_TERMS), k=15)


@query(
    "text_bm25_delta_topk",
    oracle="WITH " + _bm25_ctes() + """
    SELECT doc_id, bm25 FROM bm WHERE doc_id % 2 = 1
    ORDER BY bm25 DESC, doc_id LIMIT 15
    """,
)
def text_bm25_delta_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELTA-RESTRICTED index query for the BM25 family (VERDICT r5
    #8, the dedup_index_delta_pairs shape): corpus index = batch 0 (even
    doc ids), nightly delta = batch 1 (odd ids); score ONLY the delta
    docs against corpus-wide merged-on-read statistics. The oracle is
    the full-corpus BM25 SQL restricted to delta ids — green means an
    appended batch is immediately searchable AND its docs score
    byte-identically to a from-scratch rebuild (df/N/total merge
    exactly). Plan: partition pruning bounds the scored scan to
    |delta|; at 100 TB the nightly cost is O(|delta| + postings stats),
    never a corpus re-tokenize."""
    d = load_table(spark, sf_dir, "documents")
    path = scratch_dir(sf_dir, "bm25_delta")
    ensure_built(path, lambda: [
        TX.append_bm25_index(d.filter(F.pmod("doc_id", F.lit(2)) == 0),
                             "doc_id", "text", path, 0),
        TX.append_bm25_index(d.filter(F.pmod("doc_id", F.lit(2)) == 1),
                             "doc_id", "text", path, 1)])
    return TX.bm25_query_index(spark, path, list(_BM25_TERMS), k=15,
                               batch=1)


@query(
    "text_rerank_stub_topk",
    oracle="WITH " + _bm25_ctes() + """,
    cand AS (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50)
    SELECT d.doc_id,
           CAST(('0x' || substring(md5(concat('spark vector merge|', d.text)),
                                   1, 8)) AS BIGINT) / 4294967296.0 AS rerank
    FROM documents d JOIN cand USING (doc_id)
    ORDER BY rerank DESC, d.doc_id LIMIT 10
    """,
)
def text_rerank_stub_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage retrieval shape: BM25 candidate generation (top-50)
    → model rerank → top-10. The rerank model is a deterministic md5
    stand-in (ext/text.rerank_stub) so the Arrow mapInPandas plumbing is
    VALUE-checked against SQL — the only query in the registry whose
    Python stage is oracle-paired rather than shape-tested. Candidates
    re-join their text via the doc_id broadcast (50 rows)."""
    d = load_table(spark, sf_dir, "documents")
    cand = TX.bm25_topk(d, "doc_id", "text", list(_BM25_TERMS), k=50)
    withtext = d.join(F.broadcast(cand.select("doc_id")), "doc_id")
    scored = TX.rerank_stub(withtext, "doc_id", "text",
                            " ".join(_BM25_TERMS))
    return scored.orderBy(F.desc("rerank"), "doc_id").limit(10)


@query(
    "sim_knn_density_outliers",
    oracle="WITH " + ",\n".join(_ivf_ctes(8, 2)) + f""",
    knn AS (
      SELECT src, cos FROM (
        SELECT a.vec_id AS src, {_sql_cos('a.vv', 'b.vv')} AS cos,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY {_sql_cos('a.vv', 'b.vv')} DESC, b.vec_id ASC) AS rn
        FROM af a JOIN af b USING (cid) WHERE a.vec_id <> b.vec_id
      ) WHERE rn <= 3
    ),
    dens AS (
      SELECT src AS vec_id,
             CAST(SUM(CAST(floor(cos * 1000000000.0) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 1000000000.0) AS knn_density
      FROM knn GROUP BY src
    )
    SELECT vec_id, knn_density FROM dens
    ORDER BY knn_density ASC, vec_id LIMIT 20
    """,
)
def sim_knn_density_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-density outlier scoring: a vector whose top-k neighbors are
    all FAR (low mean cosine) sits in a sparse region — the classic
    density-based outlier signal, here as a composition over the
    cluster-confined kNN graph. Bottom-20 by floor-quantized mean
    neighbor cosine (order-free integer sum; one IEEE division)."""
    emb = load_table(spark, sf_dir, "embeddings")
    edges = SIM.knn_graph(emb, "vec_id", "embedding", k=3, nlist=8, n_iter=2)
    dens = (edges.groupBy(F.col("src").alias("vec_id"))
            .agg((F.sum(F.floor(F.col("cos") * F.lit(1000000000.0))
                        .cast("bigint")).cast("double")
                  / (F.count(F.lit(1)) * F.lit(1000000000.0)))
                 .alias("knn_density")))
    return dens.orderBy("knn_density", "vec_id").limit(20)


@query(
    "text_term_drift_tv",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id % 2 AS snap, unnest({_TOK}) AS w FROM documents
    ), c AS (
      SELECT w,
             CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM tok GROUP BY w
    ), n AS (
      SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
      FROM c
    ), term AS (
      SELECT w, c0, c1,
             CAST(abs(c0 * n.n1 - c1 * n.n0) AS DOUBLE)
               / CAST(n.n0 * n.n1 AS DOUBLE) AS tv_term
      FROM c CROSS JOIN n
    )
    SELECT w, c0, c1, tv_term FROM term
    ORDER BY tv_term DESC, w LIMIT 25
    """,
)
def text_term_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift monitoring: total-variation contribution per term
    between two corpus snapshots (even/odd doc ids stand in for
    yesterday/today) — the distribution-shift alarm an ingest pipeline
    watches, as TV distance rather than KL because |p−q| has a RATIONAL
    form: |c0·N1 − c1·N0| / (N0·N1), exact integer numerators (no log,
    no per-term double sums). Top-25 drifting terms. One token-count
    shuffle + a 1-row broadcast; scan-local otherwise. 0.5·Σ tv_term is
    the corpus-level TV distance.

    Bound: the cross-products live in BIGINT, exact while each
    snapshot stays under ~3·10⁹ tokens (N0·N1 < 2^63). Beyond that,
    switch the expression to floor-quantized per-snapshot rates
    (|floor(c0·1e12/n0) − floor(c1·1e12/n1)|/1e12) — same integer-exact
    discipline, no cross-product."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select((F.col("doc_id") % 2).alias("snap"),
                   F.explode(TX.tokens("text")).alias("w"))
    c = (tok.groupBy("w")
         .agg(F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
              .cast("bigint").alias("c0"),
              F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
              .cast("bigint").alias("c1")))
    n = c.agg(F.sum("c0").cast("bigint").alias("n0"),
              F.sum("c1").cast("bigint").alias("n1"))
    term = (c.crossJoin(F.broadcast(n))
            .withColumn("tv_term",
                        F.abs(F.col("c0") * F.col("n1")
                              - F.col("c1") * F.col("n0")).cast("double")
                        / (F.col("n0") * F.col("n1")).cast("double")))
    return (term.select("w", "c0", "c1", "tv_term")
            .orderBy(F.desc("tv_term"), "w").limit(25))


@query(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    kg AS (
      SELECT doc_id, s.pos,
             CAST(('0x' || substring(md5(array_to_string(
               list_slice(toks, s.pos, s.pos + 3), ' ')), 1, 8)) AS BIGINT) AS h
      FROM t, UNNEST(range(1, greatest(len(toks) - 3, 0) + 1)) AS s(pos)
    ),
    wn AS (
      SELECT a.doc_id, a.pos AS wstart, b.pos, b.h
      FROM kg a JOIN kg b ON a.doc_id = b.doc_id
                         AND b.pos BETWEEN a.pos AND a.pos + 3
    ),
    sel AS (
      SELECT doc_id, wstart, MIN(h) AS mh FROM wn
      GROUP BY doc_id, wstart HAVING COUNT(*) = 4
    ),
    fp0 AS (
      SELECT w.doc_id, w.wstart, s.mh, MAX(w.pos) AS fpos
      FROM wn w JOIN sel s ON w.doc_id = s.doc_id AND w.wstart = s.wstart
                          AND w.h = s.mh
      GROUP BY w.doc_id, w.wstart, s.mh
    ),
    fph AS (SELECT DISTINCT doc_id, mh AS h FROM fp0),
    filt AS (SELECT h FROM fph GROUP BY h HAVING COUNT(*) <= 50)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared
    FROM fph a JOIN fph b USING (h) JOIN filt USING (h)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style match candidates: pairs sharing ≥2 winnowing
    fingerprints (k=4-gram hashes, window w=4, rightmost-min rule —
    Schleimer et al. SIGMOD'03). The Spark side selects fingerprints
    with scan-local array arithmetic; the oracle needs a positional
    self-join to express the same windows — the relational form the
    paper's guarantee (any shared ≥ w+k−1 token run yields a shared
    fingerprint) is usually stated in."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    return DD.winnowing_pairs(d, "doc_id", "text", k=4, w=4,
                              min_shared=2, max_df=50)


@query(
    "text_tokenizer_fertility",
    oracle=r"""
    WITH per AS (
      SELECT lang,
             CAST(SUM(len(regexp_extract_all(text,
               '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+'))) AS BIGINT) AS n_bpe,
             CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+')))
               AS BIGINT) AS n_words,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, n_bpe, n_words, n_chars,
           CAST(n_bpe AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility,
           CAST(n_chars AS DOUBLE) / CAST(n_bpe AS DOUBLE) AS chars_per_token
    FROM per
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: subword tokens per word
    and chars per token — the numbers a multilingual pipeline watches to
    catch a tokenizer that fragments some language's text (high
    fertility = that language pays more compute per word, and mixture
    budgets in 'tokens' silently skew). Exact integer sums per language,
    two IEEE divisions; one groupBy(lang) shuffle of counts only."""
    d = load_table(spark, sf_dir, "documents")
    bpe = TX.bpe_ish_tokens("text")
    per = (d.groupBy("lang")
           .agg(F.sum(F.size(bpe)).cast("bigint").alias("n_bpe"),
                F.sum(F.size(TX.tokens("text"))).cast("bigint").alias("n_words"),
                F.sum("n_chars").cast("bigint").alias("n_chars"),
                F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    return per.select(
        "lang", "n_docs", "n_bpe", "n_words", "n_chars",
        (F.col("n_bpe").cast("double") / F.col("n_words").cast("double"))
        .alias("fertility"),
        (F.col("n_chars").cast("double") / F.col("n_bpe").cast("double"))
        .alias("chars_per_token"))


@query(
    "sim_anisotropy_profile",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings
    ), dims AS (
      SELECT i,
             CAST(SUM(CAST(floor(x * 1000000000.0) AS BIGINT)) AS BIGINT) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(vv) AS x, generate_subscripts(vv, 1) AS i FROM v)
      GROUP BY i
    ), mu AS (
      SELECT CAST(SUM(CAST(floor(
               (CAST(sx AS DOUBLE) / 1000000000.0)
               * (CAST(sx AS DOUBLE) / 1000000000.0)
               * 10000000000.0) AS BIGINT)) AS DOUBLE)
               / (ANY_VALUE(n) * ANY_VALUE(n) * 10000000000.0) AS mu_sq,
             ANY_VALUE(n) AS n FROM dims
    ), norms AS (
      SELECT CAST(SUM(CAST(floor(
               list_sum(list_transform(vv, x -> x * x)) * 1000000000.0)
               AS BIGINT)) AS BIGINT) AS s_sq,
             CAST(COUNT(*) AS BIGINT) AS n2
      FROM v
    )
    SELECT mu.n AS n_vectors,
           mu.mu_sq AS mean_vec_sq_norm,
           CAST(norms.s_sq AS DOUBLE) / (norms.n2 * 1000000000.0)
             AS mean_sq_norm,
           mu.mu_sq / (CAST(norms.s_sq AS DOUBLE) / (norms.n2 * 1000000000.0))
             AS anisotropy
    FROM mu CROSS JOIN norms
    """,
)
def sim_anisotropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health check: anisotropy = ‖mean vector‖² /
    mean ‖x‖² — near 0 for a well-spread (isotropic) embedding space,
    near 1 when all vectors crowd a cone (the 'representation collapse'
    signal; Ethayarajh 2019 popularized the diagnosis). Also the exact
    expected-cosine numerator: E[⟨x,y⟩] over independent pairs equals
    ‖μ‖² without materializing any pair. One posexplode + per-dim
    integer-quantized sums (order-free), one norm scan; two tiny
    single-row frames joined — nothing pairwise, nothing collected."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.transform("embedding",
                                         lambda x: x.cast("double")).alias("vv"))
    dims = (v.select(F.posexplode("vv").alias("i", "x"))
            .groupBy("i")
            .agg(F.sum(F.floor(F.col("x") * F.lit(1000000000.0))
                       .cast("bigint")).cast("bigint").alias("sx"),
                 F.count(F.lit(1)).cast("bigint").alias("n")))
    # each (sx/1e9)² term is deterministic (exact int, one division,
    # one multiply) but their SUM over dims is not — floor-quantize to
    # 1e-10 and sum BIGINTs (the same order-free close every moment
    # query uses; an un-quantized double sum lost the last ulp between
    # engines on the first parity run)
    mu = dims.agg(
        (F.sum(F.floor((F.col("sx").cast("double") / F.lit(1000000000.0))
                       * (F.col("sx").cast("double") / F.lit(1000000000.0))
                       * F.lit(10000000000.0)).cast("bigint")).cast("double")
         / (F.any_value("n") * F.any_value("n") * F.lit(10000000000.0)))
        .alias("mu_sq"),
        F.any_value("n").alias("n"))
    norms = (v.select(
        F.floor(F.aggregate("vv", F.lit(0.0),
                            lambda acc, x: acc + x * x)
                * F.lit(1000000000.0)).cast("bigint").alias("sq"))
        .agg(F.sum("sq").cast("bigint").alias("s_sq"),
             F.count(F.lit(1)).cast("bigint").alias("n2")))
    return (mu.crossJoin(F.broadcast(norms))
            .select(F.col("n").alias("n_vectors"),
                    F.col("mu_sq").alias("mean_vec_sq_norm"),
                    (F.col("s_sq").cast("double")
                     / (F.col("n2") * F.lit(1000000000.0)))
                    .alias("mean_sq_norm"),
                    (F.col("mu_sq")
                     / (F.col("s_sq").cast("double")
                        / (F.col("n2") * F.lit(1000000000.0))))
                    .alias("anisotropy")))


def _multi_eval_oracle() -> str:
    hb = SA.sql_hash_bucket
    bench_sel = " UNION ALL ".join(
        f"SELECT doc_id, '{b}' AS bench FROM documents "
        f"WHERE {hb('doc_id', s)} < {int(f * 4294967296)}"
        for b, s, f in (("arc", "ev_arc", 0.04), ("mmlu", "ev_mmlu", 0.06),
                        ("gsm", "ev_gsm", 0.05)))
    return f"""
    WITH evals AS ({bench_sel}),
    t AS (
      SELECT doc_id, unnest({_TOK}) AS tok,
             generate_subscripts({_TOK}, 1) AS i
      FROM documents
    ), ch AS (
      SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY i)) AS h
      FROM t GROUP BY doc_id, floor((i - 1) / 10)
    ), train AS (
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM evals)
    ), eval_ch AS (
      SELECT DISTINCT e.bench, c.h FROM ch c JOIN evals e USING (doc_id)
    ), hits AS (
      SELECT DISTINCT c.doc_id, e.bench
      FROM ch c JOIN train USING (doc_id) JOIN eval_ch e USING (h)
    )
    SELECT e.bench,
           CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM train) AS n_train_docs,
           CAST(COALESCE(MAX(hit.n), 0) AS BIGINT) AS n_contaminated
    FROM evals e
    LEFT JOIN (SELECT bench, COUNT(*) AS n FROM hits GROUP BY bench) hit
      ON e.bench = hit.bench
    GROUP BY e.bench, hit.n
    """


@query("corpus_multi_eval_overlap", oracle=_multi_eval_oracle())
def corpus_multi_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-benchmark contamination matrix: three eval sets (hash-drawn
    stand-ins for arc/mmlu/gsm; possibly overlapping, as real benchmark
    pulls are) checked against the training remainder in ONE pass —
    per benchmark, how many training docs share a 10-token chunk with
    any of its eval docs. The chunk table is computed once and tagged,
    so adding a benchmark adds a broadcast row-set, not a corpus scan.
    Plan: chunks scan-local; one distinct on (bench, h) for the eval
    sliver; one semi-ish hash join back; counts only shuffle."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    benches = [("arc", "ev_arc", 0.04), ("mmlu", "ev_mmlu", 0.06),
               ("gsm", "ev_gsm", 0.05)]
    evals = None
    for b, s, f in benches:
        e = (d.filter(SA.hash_bucket(F.col("doc_id"), s)
                      < int(f * 4294967296))
             .select("doc_id", F.lit(b).alias("bench")))
        evals = e if evals is None else evals.unionByName(e)
    ch = DD.chunk_table(d, "doc_id", "text", chunk=10)
    train = d.join(evals.select("doc_id").distinct(), "doc_id", "left_anti") \
        .select("doc_id")
    eval_ch = ch.join(evals, "doc_id").select("bench", "h").distinct()
    hits = (ch.join(train, "doc_id", "left_semi")
            .join(eval_ch, "h")
            .select("doc_id", "bench").distinct()
            .groupBy("bench").agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    n_train = train.agg(F.count(F.lit(1)).cast("bigint").alias("n_train_docs"))
    per_bench = evals.groupBy("bench").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_eval_docs"))
    return (per_bench.crossJoin(F.broadcast(n_train))
            .join(hits, "bench", "left")
            .select("bench", "n_eval_docs", "n_train_docs",
                    F.coalesce("n", F.lit(0)).cast("bigint")
                    .alias("n_contaminated")))


@query(
    "events_user_sequences",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events
      FROM events
    )
    SELECT user_id, CAST(ANY_VALUE(n_events) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS seq_len,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS sequence
    FROM r WHERE rn <= 8 GROUP BY user_id
    """,
)
def events_user_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence construction from an event log: per user, the
    LAST 8 events in time order — the behavioral-sequence shape
    recommendation/SFT pipelines feed a model (most-recent truncation,
    deterministic (ts, event_id) tiebreak). One window shuffle on
    user_id; the sequence assembles with collect_list over a sorted
    struct, so arrays build shard-local after the single exchange."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    r = (ev.withColumn("rn", F.row_number().over(w))
         .withColumn("n_events", F.count(F.lit(1)).over(
             Window.partitionBy("user_id"))))
    return (r.filter(F.col("rn") <= 8)
            .groupBy("user_id")
            .agg(F.any_value("n_events").cast("bigint").alias("n_events"),
                 F.count(F.lit(1)).cast("bigint").alias("seq_len"),
                 F.array_sort(F.collect_list(F.struct("ts", "event_id",
                                                      "event_type")))
                 .alias("__s__"))
            .select("user_id", "n_events", "seq_len",
                    F.concat_ws(">", F.col("__s__.event_type"))
                    .alias("sequence")))


@query(
    "sample_dedup_aware",
    oracle=f"""
    WITH g AS (
      SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h,
             MIN(doc_id) AS canonical, CAST(COUNT(*) AS BIGINT) AS group_size
      FROM documents GROUP BY h
    ), p AS (
      SELECT canonical AS doc_id, group_size,
             CAST(group_size * 4294967296 AS DOUBLE)
             / CAST({SA.sql_hash_bucket('canonical', 'ddaw')} + 1 AS DOUBLE)
               AS priority
      FROM g
    ), top AS (
      SELECT * FROM (
        SELECT p.*, ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rn
        FROM p
      ) WHERE rn <= 16
    ), tau AS (SELECT MIN(priority) AS tau FROM top)
    SELECT doc_id, group_size, priority,
           GREATEST(CAST(group_size AS DOUBLE), tau.tau) AS est_weight
    FROM top CROSS JOIN tau WHERE rn <= 15
    """,
)
def sample_dedup_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware sampling: collapse exact-duplicate groups to their
    canonical doc, then priority-sample canonicals WEIGHTED BY GROUP
    SIZE — the sample keeps the corpus's true content distribution
    (a page duplicated 1000× gets its weight once, not 1000 draws) with
    the DLT estimator still unbiased for duplicated-mass totals.
    Composition of two verified operators: exact_dedup fingerprint
    groups ∘ priority_sample."""
    from ..ext.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    g = (d.groupBy(fingerprint("text").alias("h"))
         .agg(F.min("doc_id").alias("doc_id"),
              F.count(F.lit(1)).cast("bigint").alias("group_size")))
    return SA.priority_sample(g, "doc_id", "group_size", k=15, salt="ddaw")


@query(
    "events_next_event_examples",
    oracle="""
    WITH ctx AS (
      SELECT user_id, event_id, event_type AS label,
             string_agg(event_type, '>') OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS context,
             COUNT(*) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS ctx_len
      FROM events
    )
    SELECT user_id, event_id, context, CAST(ctx_len AS BIGINT) AS ctx_len,
           label
    FROM ctx WHERE ctx_len >= 2 AND user_id < 30
    """,
)
def events_next_event_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event training examples from the event log: for every event,
    (context = up to 4 preceding event types, label = this event) — the
    sliding-window example-generation shape next-token/next-action
    models train on, keeping only contexts of ≥2 (first events carry no
    signal). The context serializes '>'-joined; collect_list over a
    ROWS frame preserves frame order, so the string is deterministic.
    One window exchange on user_id; 1:1 per event (the 1:N explosion of
    naive example generation never materializes — each row IS its own
    example)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, -1))
    return (ev.select(
        "user_id", "event_id",
        F.concat_ws(">", F.collect_list("event_type").over(w))
        .alias("context"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("ctx_len"),
        F.col("event_type").alias("label"))
        .filter(F.col("ctx_len") >= 2))


@query(
    "events_hourly_seasonal_baseline",
    oracle=f"""
    WITH h AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
             value
      FROM events WHERE value IS NOT NULL
    ), prof AS (
      SELECT event_type, hod,
             CAST(COUNT(*) AS BIGINT) AS n,
             {sql_dsum('value')} AS hod_sum
      FROM h GROUP BY event_type, hod
    ), tot AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS n_all,
             {sql_dsum('hod_sum')} AS sum_all
      FROM prof GROUP BY event_type
    )
    SELECT p.event_type, p.hod, p.n,
           p.hod_sum / p.n AS hod_mean,
           t.sum_all / t.n_all AS overall_mean,
           (p.hod_sum / p.n) - (t.sum_all / t.n_all) AS seasonal_offset
    FROM prof p JOIN tot t USING (event_type)
    """,
)
def events_hourly_seasonal_baseline(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal baseline per event type — the decomposition
    step before anomaly flagging (the EWMA/MAD queries measure residual
    dynamics; this gives the additive seasonal component they subtract
    in a full pipeline). Decimal-exact sums close per the standing rule;
    the two means divide once each and the offset subtracts identically
    in both engines. Two count-size shuffles, nothing row-wise."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    h = ev.select("event_type", F.hour("ts").cast("bigint").alias("hod"),
                  "value")
    prof = (h.groupBy("event_type", "hod")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 dsum("value").alias("hod_sum")))
    tot = (prof.groupBy("event_type")
           .agg(F.sum("n").cast("bigint").alias("n_all"),
                dsum("hod_sum").alias("sum_all")))
    return (prof.join(tot, "event_type")
            .select("event_type", "hod", "n",
                    (F.col("hod_sum") / F.col("n")).alias("hod_mean"),
                    (F.col("sum_all") / F.col("n_all")).alias("overall_mean"),
                    ((F.col("hod_sum") / F.col("n"))
                     - (F.col("sum_all") / F.col("n_all")))
                    .alias("seasonal_offset")))


@query("dedup_winnowing_index_pairs", oracle=_REG["dedup_winnowing_pairs"])
def dedup_winnowing_index_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing match candidates served from the PERSISTED fingerprint
    index (two batch shards) — index invisibility: same oracle as
    dedup_winnowing_pairs verbatim. The stored index skips
    re-tokenizing; only fingerprint rows join."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    path = scratch_dir(sf_dir, "winnow")

    def _build():
        half = d.count() // 2
        DD.append_winnowing_index(d.filter(F.col("doc_id") < half),
                                  "doc_id", "text", path, 0)
        DD.append_winnowing_index(d.filter(F.col("doc_id") >= half),
                                  "doc_id", "text", path, 1)

    ensure_built(path, _build)
    return DD.winnowing_pairs_from_index(spark, path)


from .q_ext import _near_dup_pairs_cte  # noqa: E402


@query(
    "dedup_lsh_recall_audit",
    oracle=("WITH " + _near_dup_pairs_cte(0.2) + """,
    shared AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    true_pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
      WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
            (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
            >= 0.2
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM true_pairs) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_found,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) * 1.0
             / (SELECT CAST(COUNT(*) AS BIGINT) FROM true_pairs) AS recall
    """),
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall measured EXACTLY — the audit that justifies trusting
    banded blocking at scale: ground truth = every pair with Jaccard ≥
    0.2 (via the inverted shingle join — any pair with positive Jaccard
    shares a shingle, so this is exhaustive without being all-pairs),
    found = the band-collided verified pairs. Completes the
    sketch-audit family (GK quantile, CMS one-sided, bloom
    no-false-negative). recall = exact integer counts, one division."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    sh_rows = DD.shingle_table(d, "doc_id", "text")
    a = sh_rows.select(F.col("doc_id").alias("id_a"),
                       F.col("__s__").alias("s"))
    b = sh_rows.select(F.col("doc_id").alias("id_b"),
                       F.col("__s__").alias("s"))
    shared = (a.join(b, "s").filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b").distinct())
    true_pairs = DD.jaccard_pairs(d, shared, "doc_id", "text",
                                  threshold=0.2, sh_rows=sh_rows)
    cand = DD.lsh_candidate_pairs(d, "doc_id", "text")
    found = DD.jaccard_pairs(d, cand, "doc_id", "text", threshold=0.2,
                             sh_rows=sh_rows)
    n_true = true_pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    n_found = found.agg(F.count(F.lit(1)).cast("bigint").alias("n_found"))
    return (n_true.crossJoin(F.broadcast(n_cand))
            .crossJoin(F.broadcast(n_found))
            .withColumn("recall",
                        F.col("n_found") * F.lit(1.0) / F.col("n_true")))


@query(
    "text_budget_truncate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents)
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           len(toks) > 24 AS truncated,
           CASE WHEN len(toks) > 24 THEN
             array_to_string(list_slice(toks, 1, 16), ' ')
             || ' … ' ||
             array_to_string(list_slice(toks, len(toks) - 7, len(toks)), ' ')
           ELSE array_to_string(toks, ' ') END AS kept_text,
           CAST(LEAST(len(toks), 24) AS BIGINT) AS kept_tokens
    FROM t WHERE doc_id < 120
    """,
)
def text_budget_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget truncation with head+tail keep (16 head + 8 tail of
    a 24-token budget, ellipsis marker between) — the standard long-doc
    preprocessing that preserves both the opening and the conclusion
    instead of naive head-only cuts. Pure scan-local array slicing."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    toks = TX.tokens("text")
    n = F.size(toks)
    head = F.array_join(F.slice(toks, 1, 16), " ")
    tail = F.array_join(F.slice(toks, -8, 8), " ")
    return d.select(
        "doc_id", n.cast("bigint").alias("n_tokens"),
        (n > 24).alias("truncated"),
        F.when(n > 24, F.concat(head, F.lit(" … "), tail))
        .otherwise(F.array_join(toks, " ")).alias("kept_text"),
        F.least(n, F.lit(24)).cast("bigint").alias("kept_tokens"))


@query(
    "text_vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOK}) AS w FROM documents),
    c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY w),
    r AS (SELECT w, n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rk,
                 CAST(SUM(n) OVER (ORDER BY n DESC, w
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM c),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_terms FROM c),
    sizes AS (SELECT unnest([8, 16, 24, 32, 40]) AS vocab_size)
    SELECT s.vocab_size,
           CAST(MAX(r.cum) AS BIGINT) AS covered,
           tot.total AS total_tokens,
           CAST(MAX(r.cum) AS DOUBLE) / CAST(tot.total AS DOUBLE)
             AS coverage
    FROM sizes s JOIN r ON r.rk <= s.vocab_size CROSS JOIN tot
    GROUP BY s.vocab_size, tot.total
    """,
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for candidate vocab sizes, the
    fraction of all token OCCURRENCES covered by the top-V terms — the
    table a tokenizer/vocab-size decision reads (where the curve
    flattens is the right V; 1−coverage is the OOV/byte-fallback rate).
    Term counts shuffle once; the rank/cumsum runs over the VOCABULARY
    (thousands of rows at any corpus scale — vocabulary grows
    sublinearly, so the single-partition window is bounded by Heaps'
    law, not corpus size); sizes broadcast-join the ranked table."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    c = (d.select(F.explode(TX.tokens("text")).alias("w"))
         .groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    w = Window.orderBy(F.desc("n"), "w")
    r = (c.withColumn("rk", F.row_number().over(w))
         .withColumn("cum", F.sum("n").over(
             w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint")))
    tot = c.agg(F.sum("n").cast("bigint").alias("total"),
                F.count(F.lit(1)).cast("bigint").alias("n_terms"))
    sizes = spark.createDataFrame([(v,) for v in (8, 16, 24, 32, 40)],
                                  ["vocab_size"])
    return (F.broadcast(sizes).join(r, r["rk"] <= sizes["vocab_size"])
            .crossJoin(F.broadcast(tot))
            .groupBy("vocab_size", "total")
            .agg(F.max("cum").cast("bigint").alias("covered"))
            .select("vocab_size", "covered",
                    F.col("total").alias("total_tokens"),
                    (F.col("covered").cast("double")
                     / F.col("total").cast("double")).alias("coverage")))


@query(
    "text_term_burstiness",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS w FROM documents
    ), tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, w
    ), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    m AS (
      SELECT w, CAST(SUM(tf) AS BIGINT) AS s1,
             CAST(SUM(tf * tf) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS df
      FROM tf GROUP BY w
    )
    SELECT w, s1 AS total_tf, df,
           CAST(s1 AS DOUBLE) / nd.n_docs AS mean_tf,
           (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
              / nd.n_docs)
             / CAST(s1 AS DOUBLE) AS burstiness
    FROM m CROSS JOIN nd
    WHERE s1 >= 200 ORDER BY burstiness DESC, w LIMIT 20
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness = index of dispersion of per-doc tf (variance /
    mean over ALL docs incl. zeros — computed without materializing the
    zeros: Var·N = Σtf² − (Σtf)²/N). ≈1 means Poisson-scattered
    (function words); ≫1 means the term CLUMPS in few docs (topical /
    boilerplate — the terms chunk-dedup and df caps should watch).
    Integer moments, engine-identical double close; top-20 bursty terms
    with Σtf ≥ 200. One (doc,term) count shuffle + a term rollup."""
    d = load_table(spark, sf_dir, "documents")
    tf = (d.select("doc_id", F.explode(TX.tokens("text")).alias("w"))
          .groupBy("doc_id", "w")
          .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    m = (tf.groupBy("w")
         .agg(F.sum("tf").cast("bigint").alias("s1"),
              F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("s2"),
              F.count(F.lit(1)).cast("bigint").alias("df")))
    return (m.crossJoin(F.broadcast(nd))
            .filter(F.col("s1") >= 200)
            .select(
                "w", F.col("s1").alias("total_tf"), "df",
                (F.col("s1").cast("double") / F.col("n_docs"))
                .alias("mean_tf"),
                ((F.col("s2").cast("double")
                  - F.col("s1").cast("double") * F.col("s1").cast("double")
                  / F.col("n_docs"))
                 / F.col("s1").cast("double")).alias("burstiness"))
            .orderBy(F.desc("burstiness"), "w").limit(20))


@query(
    "dedup_review_sample",
    oracle="WITH " + _near_dup_pairs_cte(0.2) + f""",
    scored AS (
      SELECT p.id_a, p.id_b,
             len(list_intersect(sa.sh, sb.sh)) * 1.0 /
             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
               AS jaccard
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.id_a
      JOIN sh sb ON sb.doc_id = p.id_b
    ), banded2 AS (
      SELECT id_a, id_b, jaccard,
             CASE WHEN jaccard >= 0.7 THEN 'high'
                  WHEN jaccard >= 0.4 THEN 'mid'
                  ELSE 'low' END AS band
      FROM scored
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY band ORDER BY
        {SA.sql_hash_bucket("id_a || ':' || id_b", 'rev')},
        id_a, id_b) AS rk
      FROM banded2
    )
    SELECT band, id_a, id_b, jaccard FROM ranked WHERE rk <= 5
    """,
)
def dedup_review_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-review sheet for the near-dup pipeline: verified pairs
    stratified by similarity band (low/mid/high Jaccard), 5 per band
    drawn by hash rank — reproducible, so reviewers and reruns see the
    SAME sheet (the calibration loop that tunes thresholds). Composition
    of near_dup_pairs ∘ banding ∘ stratified hash-rank take."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    pairs = DD.near_dup_pairs(d, "doc_id", "text", threshold=0.2)
    banded = pairs.withColumn(
        "band",
        F.when(F.col("jaccard") >= 0.7, "high")
        .when(F.col("jaccard") >= 0.4, "mid").otherwise("low"))
    from pyspark.sql import Window

    key = F.concat(F.col("id_a").cast("string"), F.lit(":"),
                   F.col("id_b").cast("string"))
    w = Window.partitionBy("band").orderBy(
        SA.hash_bucket(key, "rev"), "id_a", "id_b")
    return (banded.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("band", "id_a", "id_b", "jaccard"))


@query(
    "pack_split_bins",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, CAST(len({_TOK}) AS BIGINT) AS n_tok
      FROM documents
    ), pieces AS (
      SELECT lang, doc_id, p.piece,
             LEAST(32, n_tok - 32 * p.piece) AS piece_tok
      FROM t, UNNEST(range(0, (n_tok - 1) // 32 + 1)) AS p(piece)
    ), c AS (
      SELECT *, COALESCE(SUM(piece_tok) OVER (
        PARTITION BY lang ORDER BY doc_id, piece
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM pieces
    )
    SELECT lang, CAST(FLOOR(prev / 32.0) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_pieces,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(piece_tok) AS BIGINT) AS n_tokens,
           CAST(MAX(piece_tok) AS BIGINT) AS max_piece
    FROM c GROUP BY 1, 2
    """,
)
def pack_split_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-aware packing audit at a deliberately tiny capacity (32
    tokens — most fixture docs split): per (lang, bin), piece/doc/token
    fill and max piece size (must never exceed capacity; asserted by
    the max_piece column being value-checked)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.size(TX.tokens("text")).alias("n_tok"))
    packed = TX.pack_bins_split(t, "lang", "doc_id", "n_tok", capacity=32)
    return (packed.groupBy("lang", "bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pieces"),
                 F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
                 F.sum("piece_tok").cast("bigint").alias("n_tokens"),
                 F.max("piece_tok").cast("bigint").alias("max_piece")))


_LANGID_SQL = """
    WITH scored AS (
      SELECT doc_id, lang,
        len(list_intersect(string_split_regex(lower(trim(text)), '\\s+'),
            ['der','die','und','das','nicht'])) AS s_de,
        len(list_intersect(string_split_regex(lower(trim(text)), '\\s+'),
            ['the','and','of','to','is'])) AS s_en,
        len(list_intersect(string_split_regex(lower(trim(text)), '\\s+'),
            ['el','la','los','que','de'])) AS s_es,
        len(list_intersect(string_split_regex(lower(trim(text)), '\\s+'),
            ['le','la','et','les','des'])) AS s_fr,
        len(list_intersect(string_split_regex(lower(trim(text)), '\\s+'),
            ['的','是','了','在','我'])) AS s_zh
      FROM documents
    ), pred AS (
      SELECT doc_id, lang,
        CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
             WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh' END AS lang_guess
      FROM scored
    )"""


@query(
    "text_langid_confusion",
    oracle=_LANGID_SQL + """
    SELECT lang AS actual, lang_guess AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN lang = lang_guess THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred GROUP BY lang, lang_guess
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval harness for the language-ID heuristic: the full
    (actual, predicted) confusion matrix against the labeled lang
    column — which languages the stopword heuristic confuses, and the
    per-cell counts a threshold/marker-list change is judged by. The
    shape generalizes to any labeled classifier audit (quality gates,
    lang filters). One groupBy shuffle of counts."""
    d = load_table(spark, sf_dir, "documents")
    pred = d.select("lang", TX.lang_id(TX.tokens("text")).alias("lang_guess"))
    return (pred.groupBy(F.col("lang").alias("actual"),
                         F.col("lang_guess").alias("predicted"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum(F.when(F.col("lang") == F.col("lang_guess"), 1)
                       .otherwise(0)).cast("bigint").alias("n_correct")))


def _hits_oracle(n_iter: int = 2) -> str:
    """Unrolled bipartite HITS over the user→event_type interaction
    graph; join-key-ordered folds + floor-quantized L1 norms (the
    pagerank determinism rules plus the global-norm close)."""
    q = "1000000000000.0"
    ctes = [
        "e AS (SELECT DISTINCT user_id AS s, event_type AS d FROM events)",
        "hubs AS (SELECT DISTINCT s AS node FROM e)",
        "auths AS (SELECT DISTINCT d AS node FROM e)",
        "h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM hubs)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(f"""ar{i} AS (
          SELECT e.d AS node, list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE), list(h.h ORDER BY e.s)),
            (acc, v) -> acc + v) AS a
          FROM e JOIN h{i - 1} h ON e.s = h.node GROUP BY e.d)""")
        ctes.append(f"""af{i} AS (
          SELECT au.node, COALESCE(ar.a, CAST(0.0 AS DOUBLE)) AS a
          FROM auths au LEFT JOIN ar{i} ar USING (node))""")
        ctes.append(f"""asum{i} AS (
          SELECT CAST(SUM(CAST(floor(a * {q}) AS BIGINT)) AS BIGINT) AS S
          FROM af{i})""")
        ctes.append(f"""a{i} AS (
          SELECT node, a / (CAST(S AS DOUBLE) / {q}) AS a
          FROM af{i} CROSS JOIN asum{i})""")
        ctes.append(f"""hr{i} AS (
          SELECT e.s AS node, list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE), list(a.a ORDER BY e.d)),
            (acc, v) -> acc + v) AS h
          FROM e JOIN a{i} a ON e.d = a.node GROUP BY e.s)""")
        ctes.append(f"""hf{i} AS (
          SELECT hu.node, COALESCE(hr.h, CAST(0.0 AS DOUBLE)) AS h
          FROM hubs hu LEFT JOIN hr{i} hr USING (node))""")
        ctes.append(f"""hsum{i} AS (
          SELECT CAST(SUM(CAST(floor(h * {q}) AS BIGINT)) AS BIGINT) AS S
          FROM hf{i})""")
        ctes.append(f"""h{i} AS (
          SELECT node, h / (CAST(S AS DOUBLE) / {q}) AS h
          FROM hf{i} CROSS JOIN hsum{i})""")
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT 'hub' AS kind, CAST(node AS VARCHAR) AS node, h AS score
    FROM h{n_iter}
    UNION ALL
    SELECT 'authority' AS kind, node, a AS score FROM a{n_iter}
    """)


@query("graph_hits_bipartite", oracle=_hits_oracle(2))
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite HITS over user→event_type interactions: user hubs and
    event-type authorities (2 synchronous iterations) — the co-HITS
    primitive next to pagerank/triangles in the graph family. Oracle
    unrolls every half-step and value-checks each score to the last
    bit."""
    from ..ext import graph as G

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    return G.bipartite_hits(ev, "user_id", "event_type", n_iter=2)


@query(
    "dedup_corpus_summary",
    oracle="WITH " + _near_dup_pairs_cte(0.2) + """,
    g AS (
      SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY fp
    ),
    nd AS (
      SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS n_near_dup_docs
      FROM (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_unique_contents,
           (SELECT CAST(SUM(n_copies - 1) AS BIGINT) FROM g)
             AS n_exact_dup_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_near_dup_pairs,
           (SELECT n_near_dup_docs FROM nd) AS n_near_dup_docs,
           (SELECT CAST(SUM(n_copies - 1) AS BIGINT) FROM g) * 1.0
             / (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
             AS exact_dup_ratio
    """,
)
def dedup_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dedup report a corpus release ships: doc count,
    distinct contents, exact-duplicate docs (and ratio), verified
    near-dup pairs, and docs touched by near-duplication — every number
    an exact integer from the verified pipelines (fingerprint groups +
    LSH-verified pairs), one division."""
    from ..ext import dedup as DD
    from ..ext.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    g = (d.groupBy(fingerprint("text").alias("fp"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_copies")))
    pairs = DD.near_dup_pairs(d, "doc_id", "text", threshold=0.2)
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    uniq = g.agg(F.count(F.lit(1)).cast("bigint").alias("n_unique_contents"),
                 F.sum(F.col("n_copies") - 1).cast("bigint")
                 .alias("n_exact_dup_docs"))
    np_ = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_near_dup_pairs"))
    ndocs = (pairs.select(F.col("id_a").alias("id"))
             .union(pairs.select("id_b")).distinct()
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_near_dup_docs")))
    return (n_docs.crossJoin(F.broadcast(uniq))
            .crossJoin(F.broadcast(np_))
            .crossJoin(F.broadcast(ndocs))
            .withColumn("exact_dup_ratio",
                        F.col("n_exact_dup_docs") * F.lit(1.0)
                        / F.col("n_docs"))
            .select("n_docs", "n_unique_contents", "n_exact_dup_docs",
                    "n_near_dup_pairs", "n_near_dup_docs",
                    "exact_dup_ratio"))


@query(
    "dedup_winnowing_containment",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    kg AS (
      SELECT doc_id, s.pos,
             CAST(('0x' || substring(md5(array_to_string(
               list_slice(toks, s.pos, s.pos + 3), ' ')), 1, 8)) AS BIGINT) AS h
      FROM t, UNNEST(range(1, greatest(len(toks) - 3, 0) + 1)) AS s(pos)
    ),
    wn AS (
      SELECT a.doc_id, a.pos AS wstart, b.pos, b.h
      FROM kg a JOIN kg b ON a.doc_id = b.doc_id
                         AND b.pos BETWEEN a.pos AND a.pos + 3
    ),
    sel AS (
      SELECT doc_id, wstart, MIN(h) AS mh FROM wn
      GROUP BY doc_id, wstart HAVING COUNT(*) = 4
    ),
    fph AS (SELECT DISTINCT doc_id, mh AS h FROM sel),
    nfp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM fph
            GROUP BY doc_id),
    filt AS (SELECT h FROM fph GROUP BY h HAVING COUNT(*) <= 50),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM fph a JOIN fph b USING (h) JOIN filt USING (h)
      WHERE a.doc_id <> b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT s.id_a, s.id_b, s.shared,
           CAST(s.shared AS DOUBLE) / CAST(na.nf AS DOUBLE) AS containment
    FROM shared s JOIN nfp na ON na.doc_id = s.id_a
    """,
)
def dedup_winnowing_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED winnowing containment — MOSS's actual report metric:
    what fraction of A's selected fingerprints appear in B (ordered
    pairs, so a quote/subset relationship shows asymmetrically:
    contained-in ≈ 1 one way, small the other). Same fingerprint table
    and hot-hash cap as the pair query; one extra broadcast of per-doc
    fingerprint counts. Note the tie-follows-window subtlety: the
    UNDIRECTED pair query dedups selections by (pos, hash); containment
    denominators count DISTINCT HASHES (a doc repeating a fingerprint
    contributes one), which the oracle mirrors."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    fp = DD.winnowing_fingerprints(d, "doc_id", "text", k=4, w=4)
    fph = fp.select("id", "h").distinct()
    nfp = fph.groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("nf"))
    keep = (fph.groupBy("h").agg(F.count(F.lit(1)).alias("__df__"))
            .filter(F.col("__df__") <= 50).select("h"))
    fk = fph.join(keep, "h")
    a = fk.select(F.col("id").alias("id_a"), "h")
    b = fk.select(F.col("id").alias("id_b"), "h")
    shared = (a.join(b, "h")
              .filter(F.col("id_a") != F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
              .filter(F.col("shared") >= 2))
    return (shared.join(nfp.withColumnRenamed("id", "id_a"), "id_a")
            .select("id_a", "id_b", "shared",
                    (F.col("shared").cast("double")
                     / F.col("nf").cast("double")).alias("containment")))


@query(
    "jx_edges_range_offset_bins",
    oracle="""
    WITH b AS (
      SELECT CAST(unnest([25000, 75000, 125000, 175000, 225000])
                  AS DOUBLE) AS price_bin
    ), a AS (
      SELECT CAST(floor((o_totalprice - 25000) / 50000) * 50000 + 25000
                  AS DOUBLE) AS price_bin,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders
      WHERE o_totalprice >= 25000 AND o_totalprice < 275000
      GROUP BY 1
    )
    SELECT b.price_bin, COALESCE(a.n, 0) AS n
    FROM b LEFT JOIN a USING (price_bin)
    """,
)
def jx_edges_range_offset_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range edge domain whose min (25000) is NOT a multiple of the
    interval (50000) — the configuration that silently zero-filled
    before the min-anchor fix (floor(v/i)·i keys never matched the
    min-anchored dense domain). Driver-pins the fix; allowNulls=false
    drops out-of-range rows like the reference."""
    register_views(spark, sf_dir)
    return JXQ.run(spark, {
        "from": "orders",
        "edges": [{"name": "price_bin", "value": "o_totalprice",
                   "domain": {"type": "range", "min": 25000,
                              "max": 275000, "interval": 50000}}],
        "select": [{"name": "n", "aggregate": "count"}],
    })


@query(
    "corpus_source_term_tv_matrix",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOK}) AS w FROM documents
    ), c AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok GROUP BY source, w
    ), tot AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS nt FROM c GROUP BY source
    ), terms AS (SELECT DISTINCT w FROM c),
    srcs AS (SELECT source, nt FROM tot),
    grid AS (
      SELECT a.source AS src_a, a.nt AS na, b.source AS src_b, b.nt AS nb,
             t.w
      FROM srcs a JOIN srcs b ON a.source < b.source CROSS JOIN terms t
    ), j AS (
      SELECT g.src_a, g.src_b, g.na, g.nb,
             COALESCE(ca.n, 0) AS ca, COALESCE(cb.n, 0) AS cb
      FROM grid g
      LEFT JOIN c ca ON ca.source = g.src_a AND ca.w = g.w
      LEFT JOIN c cb ON cb.source = g.src_b AND cb.w = g.w
    )
    SELECT src_a, src_b,
           CAST(SUM(abs(ca * nb - cb * na)) AS BIGINT) AS tv_num,
           ANY_VALUE(na) * ANY_VALUE(nb) AS tv_den,
           CAST(SUM(abs(ca * nb - cb * na)) AS DOUBLE)
             / (2.0 * ANY_VALUE(na) * ANY_VALUE(nb)) AS tv
    FROM j GROUP BY src_a, src_b
    ORDER BY tv DESC, src_a, src_b LIMIT 25
    """,
)
def corpus_source_term_tv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source similarity by term distribution: total-variation
    distance between every source pair's unigram distributions — which
    sources are near-duplicates of each other AT THE DISTRIBUTION level
    (mirror feeds, scraped re-hosts) even when no document pair matches.
    Rational arithmetic end-to-end (|ca·nb − cb·na| summed as BIGINT,
    one closing division; the ×2 halves the L1 into [0,1]). The term
    grid is |sources|²·|vocab| — vocabulary-bounded (Heaps), source
    count is tiny; at 100 TB the per-source count table is the only
    corpus-scale scan."""
    d = load_table(spark, sf_dir, "documents")
    c = (d.select("source", F.explode(TX.tokens("text")).alias("w"))
         .groupBy("source", "w")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    tot = c.groupBy("source").agg(F.sum("n").cast("bigint").alias("nt"))
    terms = c.select("w").distinct()
    srcs = tot.select("source", "nt")
    a = srcs.select(F.col("source").alias("src_a"), F.col("nt").alias("na"))
    b = srcs.select(F.col("source").alias("src_b"), F.col("nt").alias("nb"))
    grid = (a.join(b, F.col("src_a") < F.col("src_b"))
            .crossJoin(terms))
    ca = c.select(F.col("source").alias("src_a"), "w", F.col("n").alias("ca"))
    cb = c.select(F.col("source").alias("src_b"), "w", F.col("n").alias("cb"))
    j = (grid.join(ca, ["src_a", "w"], "left")
         .join(cb, ["src_b", "w"], "left")
         .select("src_a", "src_b", "na", "nb",
                 F.coalesce("ca", F.lit(0)).alias("ca"),
                 F.coalesce("cb", F.lit(0)).alias("cb")))
    return (j.groupBy("src_a", "src_b")
            .agg(F.sum(F.abs(F.col("ca") * F.col("nb")
                             - F.col("cb") * F.col("na")))
                 .cast("bigint").alias("tv_num"),
                 (F.any_value("na") * F.any_value("nb")).alias("tv_den"))
            .withColumn("tv", F.col("tv_num").cast("double")
                        / (F.lit(2.0) * F.col("tv_den")))
            .orderBy(F.desc("tv"), "src_a", "src_b").limit(25))


@query(
    "text_term_gini",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT doc_id, unnest({_TOK}) AS w FROM documents)
      GROUP BY doc_id, w
    ), r AS (
      SELECT doc_id, f,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f, w) AS i,
             COUNT(*) OVER (PARTITION BY doc_id) AS n,
             SUM(f) OVER (PARTITION BY doc_id) AS s
      FROM tf
    )
    SELECT doc_id,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_terms,
           CAST(ANY_VALUE(s) AS BIGINT) AS n_tokens,
           (2.0 * CAST(SUM(i * f) AS DOUBLE))
             / (ANY_VALUE(n) * CAST(ANY_VALUE(s) AS DOUBLE))
             - (CAST(ANY_VALUE(n) AS DOUBLE) + 1.0) / ANY_VALUE(n) AS gini
    FROM r WHERE doc_id < 150 GROUP BY doc_id
    """,
)
def text_term_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term-frequency Gini coefficient — the repetitiveness
    /information-density scalar (0 = every term used equally, →1 = one
    term dominates), computed by the exact rank formula
    G = 2·Σ i·f₍ᵢ₎/(n·Σf) − (n+1)/n over ties-broken-by-term sorted
    frequencies: integer products and sums, two divisions, NO
    entropy/log. Complements repetition_ratio (n-gram-based) with a
    distributional view. One (doc,term) count shuffle; the rank window
    reuses its partitioning."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    tf = (d.select("doc_id", F.explode(TX.tokens("text")).alias("w"))
          .groupBy("doc_id", "w")
          .agg(F.count(F.lit(1)).cast("bigint").alias("f")))
    wr = Window.partitionBy("doc_id").orderBy("f", "w")
    wp = Window.partitionBy("doc_id")
    r = (tf.withColumn("i", F.row_number().over(wr))
         .withColumn("n", F.count(F.lit(1)).over(wp))
         .withColumn("s", F.sum("f").over(wp)))
    return (r.groupBy("doc_id")
            .agg(F.any_value("n").cast("bigint").alias("n_terms"),
                 F.any_value("s").cast("bigint").alias("n_tokens"),
                 ((F.lit(2.0) * F.sum(F.col("i") * F.col("f")).cast("double"))
                  / (F.any_value("n") * F.any_value("s").cast("double"))
                  - (F.any_value("n").cast("double") + F.lit(1.0))
                  / F.any_value("n")).alias("gini")))


@query(
    "etl_join_size_estimate",
    oracle="""
    WITH ca AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS na
      FROM orders GROUP BY o_custkey
    ), cb AS (
      SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS nb
      FROM customer GROUP BY c_custkey
    ), j AS (
      SELECT ca.k, ca.na, cb.nb FROM ca JOIN cb USING (k)
    )
    SELECT CAST(SUM(na * nb) AS BIGINT) AS exact_join_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS rows_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS rows_b,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ca) AS ndv_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cb) AS ndv_b,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
             * (SELECT CAST(COUNT(*) AS BIGINT) FROM customer)
             // GREATEST((SELECT CAST(COUNT(*) AS BIGINT) FROM ca),
                        (SELECT CAST(COUNT(*) AS BIGINT) FROM cb))
             AS textbook_estimate
    FROM j
    """,
)
def etl_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size planning audit: the EXACT join cardinality (Σ per-key
    count products — computed from the two count tables, never by
    materializing the join) next to the textbook |A|·|B|/max(ndv)
    estimate every cost-based optimizer starts from. The gap between
    the two columns IS the skew/correlation error a planner would make
    — the companion number to etl_skew_audit's key shares. Integer
    arithmetic; count tables only."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    ca = o.groupBy(F.col("o_custkey").alias("k")) \
        .agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    cb = c.groupBy(F.col("c_custkey").alias("k")) \
        .agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    j = ca.join(cb, "k")
    exact = j.agg(F.sum(F.col("na") * F.col("nb")).cast("bigint")
                  .alias("exact_join_rows"))
    stats = (o.agg(F.count(F.lit(1)).cast("bigint").alias("rows_a"))
             .crossJoin(c.agg(F.count(F.lit(1)).cast("bigint")
                              .alias("rows_b")))
             .crossJoin(ca.agg(F.count(F.lit(1)).cast("bigint")
                               .alias("ndv_a")))
             .crossJoin(cb.agg(F.count(F.lit(1)).cast("bigint")
                               .alias("ndv_b"))))
    return (exact.crossJoin(F.broadcast(stats))
            .withColumn("textbook_estimate",
                        F.expr("rows_a * rows_b DIV "
                               "GREATEST(ndv_a, ndv_b)").cast("bigint"))
            .select("exact_join_rows", "rows_a", "rows_b", "ndv_a", "ndv_b",
                    "textbook_estimate"))


@query(
    "sim_norm_outliers",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ), th AS (
      SELECT percentile_cont(0.02) WITHIN GROUP (ORDER BY nrm) AS p_lo,
             percentile_cont(0.98) WITHIN GROUP (ORDER BY nrm) AS p_hi
      FROM v
    )
    SELECT vec_id, nrm,
           nrm < th.p_lo AS too_small, nrm > th.p_hi AS too_large
    FROM v CROSS JOIN th
    WHERE nrm < th.p_lo OR nrm > th.p_hi
    """,
)
def sim_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QC: vectors whose L2 norm falls outside the exact
    [p2, p98] band — the broken-embedding detector (zero vectors,
    un-normalized stragglers, numeric blowups) run before any cosine
    machinery trusts the corpus. Norms are sequential in-array folds
    (deterministic); thresholds are exact interpolated percentiles
    (functions/aggs.sorted_percentiles — bit-identical to DuckDB
    percentile_cont). The threshold sort runs over the norms column
    only (8 bytes/row; at extreme scale swap in the histogram-strategy
    percentile, same module)."""
    from ..ext.similarity import norm
    from ..functions.aggs import sorted_percentiles

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id",
                   norm(F.transform("embedding",
                                    lambda x: x.cast("double"))).alias("nrm"))
    th = (sorted_percentiles(v.withColumn("__g__", F.lit(1)), ["__g__"],
                             "nrm", {"p_lo": 0.02, "p_hi": 0.98})
          .drop("__g__"))
    return (v.crossJoin(F.broadcast(th))
            .filter((F.col("nrm") < F.col("p_lo"))
                    | (F.col("nrm") > F.col("p_hi")))
            .select("vec_id", "nrm",
                    (F.col("nrm") < F.col("p_lo")).alias("too_small"),
                    (F.col("nrm") > F.col("p_hi")).alias("too_large")))


@query(
    "text_quality_quantile_norm",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS v,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS ns
      FROM documents
    ), p AS (
      SELECT doc_id, source, v,
             CAST(rk - 1 AS DOUBLE) / (ns - 1) AS pct
      FROM w WHERE ns > 1
    ), g AS (
      SELECT CAST(n_chars AS DOUBLE) AS gv,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gi,
             COUNT(*) OVER () AS n
      FROM documents
    ), lk AS (
      SELECT p.doc_id, p.source, p.v, p.pct,
             CAST(floor(p.pct * (g2.n - 1)) AS BIGINT) + 1 AS lo_i,
             p.pct * (g2.n - 1) - floor(p.pct * (g2.n - 1)) AS f
      FROM p CROSS JOIN (SELECT ANY_VALUE(n) AS n FROM g) g2
    )
    SELECT lk.doc_id, lk.source, lk.v AS raw, lk.pct,
           glo.gv * (1.0 - lk.f) + ghi.gv * lk.f AS normalized
    FROM lk
    JOIN g glo ON glo.gi = lk.lo_i
    JOIN g ghi ON ghi.gi = LEAST(lk.lo_i + 1,
                                 (SELECT ANY_VALUE(n) FROM g))
    WHERE lk.doc_id < 150
    """,
)
def text_quality_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True quantile NORMALIZATION across sources: each document's
    within-source percentile rank maps onto the GLOBAL score
    distribution (interpolated order statistics) — the calibration that
    makes one quality threshold mean the same thing for every source
    regardless of its score scale (per-source score drift is the
    classic quality-gate failure). Exact throughout: ranks are
    integers, the interpolation is the percentile helper's
    lo·(1−f)+hi·f. Two rank windows + two integer-keyed lookups into
    the global order statistics — no percentile map, no collect; the
    global order-statistics table is corpus-sized but 16 bytes/row
    (value + rank)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wsp = Window.partitionBy("source")
    p = (d.select("doc_id", "source",
                  F.col("n_chars").cast("double").alias("v"))
         .withColumn("rk", F.row_number().over(
             ws.orderBy(F.col("v"), F.col("doc_id"))))
         .withColumn("ns", F.count(F.lit(1)).over(wsp))
         .filter(F.col("ns") > 1)
         .withColumn("pct", (F.col("rk") - 1).cast("double")
                     / (F.col("ns") - 1)))
    wg = Window.orderBy("gv", "doc_id")
    g = (d.select(F.col("n_chars").cast("double").alias("gv"), "doc_id")
         .withColumn("gi", F.row_number().over(wg))
         .select("gv", "gi"))
    n = g.agg(F.max("gi").alias("n"))
    lk = (p.crossJoin(F.broadcast(n))
          .withColumn("lo_i", F.floor(F.col("pct") * (F.col("n") - 1))
                      .cast("bigint") + 1)
          .withColumn("f", F.col("pct") * (F.col("n") - 1)
                      - F.floor(F.col("pct") * (F.col("n") - 1))))
    glo = g.select(F.col("gi").alias("lo_i"), F.col("gv").alias("glo"))
    ghi = g.select(F.col("gi").alias("hi_i"), F.col("gv").alias("ghi"))
    return (lk.withColumn("hi_i", F.least(F.col("lo_i") + 1, F.col("n")))
            .join(glo, "lo_i").join(ghi, "hi_i")
            .filter(F.col("doc_id") < 150)
            .select("doc_id", "source", F.col("v").alias("raw"), "pct",
                    (F.col("glo") * (F.lit(1.0) - F.col("f"))
                     + F.col("ghi") * F.col("f")).alias("normalized")))


@query(
    "events_freshness_lag",
    oracle="""
    WITH g AS (SELECT MAX(ts) AS global_max FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(ts) AS latest,
           CAST(date_diff('second', MAX(ts), g.global_max) AS BIGINT)
             AS lag_seconds
    FROM events CROSS JOIN g
    GROUP BY event_type, g.global_max
    """,
)
def events_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion freshness monitor: per event type, the newest event and
    its lag behind the stream head — the staleness alarm a pipeline
    pages on (a type whose lag grows is a stuck upstream). One count
    shuffle + a 1-row broadcast; integer seconds."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("global_max"))
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.max("ts").alias("latest"))
            .crossJoin(F.broadcast(g))
            .select("event_type", "n", "latest",
                    (F.unix_timestamp("global_max")
                     - F.unix_timestamp("latest")).cast("bigint")
                    .alias("lag_seconds")))


@query(
    "sample_split_balance_audit",
    oracle=f"""
    WITH lab AS (
      SELECT source,
             CASE WHEN {SA.sql_hash_bucket('doc_id', 'sb1')}
                       < 3435973836 THEN 'train'
                  WHEN {SA.sql_hash_bucket('doc_id', 'sb1')}
                       < 3865470565 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), c AS (
      SELECT source,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_val,
             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_test,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lab GROUP BY source
    )
    SELECT source, n, n_train, n_val, n_test,
           (CAST(n_train AS DOUBLE) - n * 0.8)
             * (CAST(n_train AS DOUBLE) - n * 0.8) / (n * 0.8)
           + (CAST(n_val AS DOUBLE) - n * 0.1)
             * (CAST(n_val AS DOUBLE) - n * 0.1) / (n * 0.1)
           + (CAST(n_test AS DOUBLE) - n * 0.1)
             * (CAST(n_test AS DOUBLE) - n * 0.1) / (n * 0.1) AS chi2
    FROM c
    """,
)
def sample_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance audit: per source, realized train/val/test counts
    under the 80/10/10 hash split and the chi² statistic against the
    target proportions — the check that the GLOBAL hash coin doesn't
    systematically skew any source (it can, by chance, for small
    sources; chi² ≫ 6 on two degrees of freedom is the flag). Fixed
    three-term chi² sum (pivoted columns, not an aggregated float sum)
    — engine-exact."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select("source", SA.split_label(
        F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="sb1").alias("split"))
    c = (lab.groupBy("source")
         .agg(F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
              .cast("bigint").alias("n_train"),
              F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
              .cast("bigint").alias("n_val"),
              F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
              .cast("bigint").alias("n_test"),
              F.count(F.lit(1)).cast("bigint").alias("n")))

    def term(col, frac):
        e = F.col("n") * F.lit(frac)
        d_ = F.col(col).cast("double") - e
        return d_ * d_ / e

    return c.select("source", "n", "n_train", "n_val", "n_test",
                    (term("n_train", 0.8) + term("n_val", 0.1)
                     + term("n_test", 0.1)).alias("chi2"))


@query(
    "sample_split_dedup_safe",
    oracle="WITH RECURSIVE " + _near_dup_pairs_cte(0.2) + f""",
    edges2 AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges2
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges2 e ON r.dst = e.src
      WHERE e.dst <> r.src
    ),
    comp AS (
      SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    keyed AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS split_key
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, split_key,
           CASE WHEN {SA.sql_hash_bucket('split_key', 'ds1')}
                     < {int(0.9 * 4294967296)} THEN 'train'
                ELSE 'eval' END AS split
    FROM keyed
    """,
)
def sample_split_dedup_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split: the hash coin flips on the
    near-dup CLUSTER canonical, not the document — so a document and
    its near-duplicates always land in the SAME split (the classic
    eval-contamination hole in naive per-doc splits: train memorizes a
    near-copy of an eval doc). Docs outside any cluster key on their
    own id; membership stays append-stable as long as clusters are
    (re-run dedup, re-split — deterministic both times)."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    pairs = DD.near_dup_pairs(d, "doc_id", "text", threshold=0.2)
    comp = (DD.connected_components(pairs)
            .select(F.col("id").alias("doc_id"), "cluster_id"))
    keyed = (d.join(comp, "doc_id", "left")
             .select("doc_id",
                     F.coalesce("cluster_id", "doc_id").alias("split_key")))
    return keyed.withColumn(
        "split", SA.split_label(F.col("split_key"),
                                {"train": 0.9, "eval": 0.1}, salt="ds1"))


@query(
    "corpus_release_signature",
    oracle="""
    WITH sh AS (
      SELECT doc_id % 2 AS half, unnest({sh_expr}) AS s
      FROM documents
    ), mins AS (
      SELECT half, {min_cols}
      FROM sh GROUP BY half
    )
    SELECT a.half AS half_a, b.half AS half_b,
           CAST(({agree}) AS BIGINT) AS n_agree,
           ({agree}) / 16.0 AS est_jaccard
    FROM mins a JOIN mins b ON a.half < b.half
    """.format(
        sh_expr="list_distinct(list_transform("
                "range(1, greatest(len(string_split_regex(lower(trim(text)),"
                " '\\s+')) - 2, 0) + 1), i -> array_to_string(list_slice("
                "string_split_regex(lower(trim(text)), '\\s+'), i, i + 2),"
                " ' ')))",
        min_cols=", ".join(
            f"MIN(md5('{i}:' || s)) AS h{i}" for i in range(16)),
        agree=" + ".join(
            f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
            for i in range(16)),
    ),
)
def corpus_release_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-level MinHash: 16 GLOBAL shingle-hash minima per corpus
    half (even/odd ids stand in for release N / release N+1) and the
    agreement-fraction Jaccard estimate between them — an O(1)-storage
    corpus fingerprint for 'how much did this release change', the
    whole-corpus analog of the per-doc signature. One scan + a
    16-column min aggregate; the estimate is a count of equalities."""
    from ..ext.dedup import shingles
    from ..ext.text import tokens

    d = load_table(spark, sf_dir, "documents")
    # r13 opt: stage the token array before the shingle explode
    # (tokenize once — guide §4.1, same as ext.dedup._staged_elems).
    sh = (d.select((F.col("doc_id") % 2).alias("half"),
                   tokens("text").alias("__tk0__"))
          .select("half",
                  F.explode(shingles(F.col("__tk0__"), 3)).alias("s")))
    mins = sh.groupBy("half").agg(*[
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
        for i in range(16)])
    a = mins.select(F.col("half").alias("half_a"),
                    *[F.col(f"h{i}").alias(f"a{i}") for i in range(16)])
    b = mins.select(F.col("half").alias("half_b"),
                    *[F.col(f"h{i}").alias(f"b{i}") for i in range(16)])
    agree = None
    for i in range(16):
        t = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    return (a.join(b, F.col("half_a") < F.col("half_b"))
            .select("half_a", "half_b",
                    agree.cast("bigint").alias("n_agree"),
                    (agree / F.lit(16.0)).alias("est_jaccard")))


@query(
    "text_bm25_and_phrase",
    oracle="WITH " + _bm25_ctes() + """,
    hits AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit FROM tf
      GROUP BY doc_id HAVING COUNT(*) = 3
    )
    SELECT bm.doc_id, bm.bm25, h.n_terms_hit,
           contains(lower(trim(d.text)), 'vector merge') AS has_phrase
    FROM bm JOIN hits h USING (doc_id) JOIN documents d USING (doc_id)
    ORDER BY bm.bm25 DESC, bm.doc_id LIMIT 10
    """,
)
def text_bm25_and_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive retrieval: BM25 top-10 restricted to documents that
    contain ALL query terms (the AND mode a search box defaults to),
    plus an exact-phrase flag for 'vector merge' — the two precision
    levers on top of the ranked OR-mode list. The AND filter is one
    HAVING over the per-doc term hits; the phrase test is a scan-local
    substring."""
    d = load_table(spark, sf_dir, "documents")
    # k = corpus size: the "top-k" is the full scored list here (the
    # AND filter downstream does the cutting); a huge literal k would
    # make TakeOrdered allocate a k-entry heap PER PARTITION (measured
    # OOM with k=1e9)
    bm = TX.bm25_topk(d, "doc_id", "text", list(_BM25_TERMS),
                      k=int(d.count()))
    base = d.select("doc_id", TX.tokens("text").alias("__t__"), "text")
    hits = (base.select("doc_id", F.explode("__t__").alias("__w__"))
            .filter(F.col("__w__").isin(list(_BM25_TERMS)))
            .groupBy("doc_id", "__w__").count()
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"))
            .filter(F.col("n_terms_hit") == len(_BM25_TERMS)))
    return (bm.join(hits, "doc_id")
            .join(d.select("doc_id",
                           F.contains(F.lower(F.trim("text")),
                                      F.lit("vector merge"))
                           .alias("has_phrase")), "doc_id")
            .orderBy(F.desc("bm25"), "doc_id").limit(10))
