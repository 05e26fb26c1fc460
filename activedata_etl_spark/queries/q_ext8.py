"""Round-5 (final) queries: clustering QC, embedding-index sizing, and
storage compaction planning — three pipeline-operations gaps left in the
inventory, each with a bit-exact DuckDB oracle.

Shared determinism discipline (SCALE.md): cosine legs reuse the proven
sequential-fold dot product (identical to DuckDB list_sum), every
derived score is a single IEEE op over identical operands, group/rank
keys are exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..ext import similarity as SIM
from ..io import load_table
from .q_ext import _ivf_ctes, _sql_cos, _sql_dot
from .registry import ensure_built, query, scratch_dir


@query(
    "sim_silhouette",
    oracle=("WITH " + ",\n".join(_ivf_ctes(16, 2)) + f""",
    sc AS (
      SELECT a.vec_id, a.cid AS own_cid, c.cid AS ccid,
             {_sql_cos('a.vv', 'c.cvec')} AS cos
      FROM af a CROSS JOIN c2 c
    ), per AS (
      SELECT vec_id, own_cid,
             MAX(CASE WHEN ccid = own_cid THEN cos END) AS a_cos,
             MAX(CASE WHEN ccid <> own_cid THEN cos END) AS b_cos
      FROM sc GROUP BY vec_id, own_cid
    )
    SELECT vec_id, own_cid, a_cos, b_cos,
           CASE WHEN greatest(1.0 - a_cos, 1.0 - b_cos) = 0 THEN 0.0
                ELSE (a_cos - b_cos) / greatest(1.0 - a_cos, 1.0 - b_cos)
           END AS silhouette
    FROM per
    """),
)
def sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector simplified silhouette (centroid-based, Hruschka et al.):
    a = cosine distance to the OWN k-means centroid, b = distance to the
    nearest OTHER centroid, s = (b − a)/max(a, b) — the cluster-separation
    QC that grades an embedding clustering without any pairwise pass
    (O(N·k), vs O(N²) for the classical silhouette). With nearest-centroid
    assignment s ≥ 0 by construction; values near 0 flag boundary points —
    the vectors that flip clusters between index rebuilds and make ANN
    recall unstable. In cosine space: a = 1 − cos(own), b = 1 − max cos
    over other centroids, so s = (a_cos − b_cos)/max(1 − a_cos, 1 − b_cos).

    Determinism: centroids come from the floor-quantized deterministic
    k-means (ext/similarity.ivf_build — the r4 tie-bug fix), cosines are
    the proven sequential folds, and the silhouette is two single IEEE
    subtractions, one max-pick, one division — no accumulation, no libm.

    Plan: the centroid table (k rows) broadcast-crosses the assignment —
    scan-local scoring — then ONE groupBy on vec_id. Vectors never
    shuffle; at 100 TB the only wide exchange is the k-means build the
    index already paid for."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent, assign = SIM.ivf_build(emb, "vec_id", "embedding",
                                 nlist=16, n_iter=2)
    own = assign.withColumnRenamed("cid", "own_cid")
    scored = (own.crossJoin(F.broadcast(cent))
              .withColumn("cos", SIM.cosine(F.col("__v__"), F.col("cvec"))))
    per = (scored.groupBy("vec_id", "own_cid")
           .agg(F.max(F.when(F.col("cid") == F.col("own_cid"),
                             F.col("cos"))).alias("a_cos"),
                F.max(F.when(F.col("cid") != F.col("own_cid"),
                             F.col("cos"))).alias("b_cos")))
    g = F.greatest(F.lit(1.0) - F.col("a_cos"), F.lit(1.0) - F.col("b_cos"))
    sil = (F.when(g == 0, F.lit(0.0))
           .otherwise((F.col("a_cos") - F.col("b_cos")) / g))
    return per.select("vec_id", "own_cid", "a_cos", "b_cos",
                      sil.alias("silhouette"))


_TRUNC_DIMS = 16
_TRUNC_K = 5
_TRUNC_QUERIES = 10


@query(
    "sim_dim_truncation_audit",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings
    ), p AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             {_sql_cos('q.vv', 'c.vv')} AS cf,
             {_sql_cos(f'list_slice(q.vv, 1, {_TRUNC_DIMS})',
                       f'list_slice(c.vv, 1, {_TRUNC_DIMS})')} AS ct
      FROM v q CROSS JOIN v c
      WHERE q.vec_id < {_TRUNC_QUERIES} AND q.vec_id <> c.vec_id
    ), r AS (
      SELECT q_id, c_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY cf DESC, c_id ASC) AS rf,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY ct DESC, c_id ASC) AS rt
      FROM p
    )
    SELECT q_id,
           CAST(SUM(CASE WHEN rf <= {_TRUNC_K} AND rt <= {_TRUNC_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           CAST(SUM(CASE WHEN rf <= {_TRUNC_K} AND rt <= {_TRUNC_K}
                         THEN 1 ELSE 0 END) AS DOUBLE) / {_TRUNC_K}.0
             AS recall_at_k
    FROM r GROUP BY q_id
    """,
)
def sim_dim_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-sizing audit: recall@k of TRUNCATED-dimension cosine ranking
    vs the full-dimension ground truth (the Matryoshka / dimension-
    reduction question — 'can the ANN index store the first 16 of 64
    dims and keep its neighbors?'). For a fixed query sample, both
    rankings come from ONE pass over the (query × corpus) candidates —
    full-dim and sliced-dim cosine computed side by side, two rank
    windows, exact integer overlap per query. recall = n_overlap/k is an
    integer-operand division (exact).

    Scale: brute force is CONFINED to the fixed query sample — this is
    an audit, not the serving path (index sizing needs only a sample);
    candidate volume is |sample| × corpus, embarrassingly parallel,
    top-k via rank windows partitioned by query."""
    emb = load_table(spark, sf_dir, "embeddings")
    dv = F.transform("embedding", lambda x: x.cast("double"))
    v = emb.select("vec_id", dv.alias("vv"))
    q = (v.filter(F.col("vec_id") < _TRUNC_QUERIES)
         .select(F.col("vec_id").alias("q_id"), F.col("vv").alias("qv")))
    c = v.select(F.col("vec_id").alias("c_id"), F.col("vv").alias("cv"))
    pairs = (q.crossJoin(c)
             .filter(F.col("q_id") != F.col("c_id"))
             .select("q_id", "c_id",
                     SIM.cosine(F.col("qv"), F.col("cv")).alias("cf"),
                     SIM.cosine(F.slice("qv", 1, _TRUNC_DIMS),
                                F.slice("cv", 1, _TRUNC_DIMS)).alias("ct")))
    wf = Window.partitionBy("q_id").orderBy(F.col("cf").desc(),
                                            F.col("c_id").asc())
    wt = Window.partitionBy("q_id").orderBy(F.col("ct").desc(),
                                            F.col("c_id").asc())
    r = (pairs.withColumn("rf", F.row_number().over(wf))
         .withColumn("rt", F.row_number().over(wt)))
    hit = F.when((F.col("rf") <= _TRUNC_K) & (F.col("rt") <= _TRUNC_K),
                 1).otherwise(0)
    return (r.groupBy("q_id")
            .agg(F.sum(hit).cast("bigint").alias("n_overlap"),
                 (F.sum(hit).cast("double") / F.lit(float(_TRUNC_K)))
                 .alias("recall_at_k")))


_COMPACT_TARGET = 2500


@query(
    "etl_file_compaction_plan",
    oracle=f"""
    WITH f AS (
      SELECT 'part-' || lpad(CAST(l_orderkey % 97 AS VARCHAR), 2, '0')
               AS file,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY 1
    ), c AS (
      SELECT file, n_rows,
             CAST(COALESCE(SUM(n_rows) OVER (ORDER BY file
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum
      FROM f
    )
    SELECT file, n_rows,
           cum // {_COMPACT_TARGET} AS grp,
           CAST(SUM(n_rows) OVER (PARTITION BY cum // {_COMPACT_TARGET})
             AS BIGINT) AS grp_size,
           CAST(COUNT(*) OVER (PARTITION BY cum // {_COMPACT_TARGET})
             AS BIGINT) AS grp_files
    FROM c
    """,
)
def etl_file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (lakehouse OPTIMIZE): bin the
    table's files into rewrite groups of ~target cumulative bytes,
    preserving name order so clustered layouts stay clustered (see
    sources/layout.compaction_plan — the same helper runs on a REAL
    write_manifest table; pytest exercises that path). Files here are
    synthesized as 97 hash shards of lineitem sized by row count, so
    the oracle can restate the whole plan relationally — group
    assignment is pure integer arithmetic (cum_before DIV target) with
    no engine-dependent float anywhere.

    Scale: the PLAN runs over a manifest (file-count rows — the
    single-partition running sum is the scheduler-side table, not
    data); the rewrite it prescribes is one grouped read per grp,
    embarrassingly parallel across groups."""
    from ..sources.layout import compaction_plan

    li = load_table(spark, sf_dir, "lineitem")
    files = (li.groupBy(
        F.concat(F.lit("part-"),
                 F.lpad((F.col("l_orderkey") % 97).cast("string"), 2, "0"))
        .alias("file"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")))
    return compaction_plan(files, target=_COMPACT_TARGET,
                           size_col="n_rows").select(
        "file", "n_rows", "grp", "grp_size", "grp_files")


def _top_component_oracle(n_iter: int = 3) -> str:
    """CTE-unrolled power iteration mirroring similarity.top_component:
    lowest-id normalized seed, floor-quantized per-dimension sums,
    position-ordered norm folds."""
    dot = _sql_dot
    ctes = [
        "v AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS vv FROM embeddings)",
        "seed AS (SELECT vv FROM v ORDER BY vec_id LIMIT 1)",
        f"n0 AS (SELECT vv, sqrt({dot('vv', 'vv')}) AS nrm FROM seed)",
        "vt0 AS (SELECT list_transform(vv, x -> x / nrm) AS vt FROM n0)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(f"""d{i} AS (
          SELECT a.vec_id, a.vv, {dot('a.vv', 't.vt')} AS dp
          FROM v a CROSS JOIN vt{i - 1} t)""")
        ctes.append(f"""w{i} AS (
          SELECT pos,
                 CAST(SUM(CAST(floor(x * dp * 1e9) AS BIGINT)) AS DOUBLE)
                   / 1e9 AS w
          FROM (SELECT dp, unnest(vv) AS x,
                       generate_subscripts(vv, 1) AS pos FROM d{i})
          GROUP BY pos)""")
        ctes.append(f"wa{i} AS (SELECT list(w ORDER BY pos) AS wv FROM w{i})")
        ctes.append(f"nn{i} AS (SELECT wv, sqrt({dot('wv', 'wv')}) AS nrm "
                    f"FROM wa{i})")
        ctes.append(f"vt{i} AS (SELECT list_transform(wv, x -> x / nrm) AS vt,"
                    f" nrm AS lam FROM nn{i})")
    ctes.append("""tot AS (
      SELECT CAST(SUM(CAST(floor(sq * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
               AS total_sq
      FROM (SELECT {d} AS sq FROM v))""".format(d=dot("vv", "vv")))
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT CAST(pos - 1 AS BIGINT) AS pos, x AS v, lam,
           lam / total_sq AS ev_share
    FROM (SELECT unnest(vt) AS x, generate_subscripts(vt, 1) AS pos, lam
          FROM vt{n_iter})
    CROSS JOIN tot""")


@query("sim_top_component", oracle=_top_component_oracle())
def sim_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by DETERMINISTIC
    power iteration (ext/similarity.top_component) — the collapse-axis
    diagnostic: a large ev_share means one direction dominates the
    second moment and cosine similarities are saturating (pairs with
    sim_anisotropy_profile, which measures the MEAN direction's share).
    Emits the unit component long-form (pos, v) with the eigenvalue
    estimate ``lam`` = ‖(XᵀX)v‖ and its share of total second moment —
    every value bit-exact against the CTE-unrolled oracle.

    Scale: per iteration, one dim-sized broadcast against the corpus
    (scan-local dot products) + one dim-rows shuffle; vectors never
    move. Brute-force-free and sample-free — this runs on the full
    corpus at any size."""
    from ..ext.similarity import dot as _dot, top_component

    emb = load_table(spark, sf_dir, "embeddings")
    comp = top_component(emb, "vec_id", "embedding", n_iter=3)
    v = emb.select(F.transform("embedding",
                               lambda x: x.cast("double")).alias("vv"))
    tot = (v.select(_dot(F.col("vv"), F.col("vv")).alias("sq"))
           .agg((F.sum(F.floor(F.col("sq") * F.lit(1e9)).cast("bigint"))
                 .cast("double") / F.lit(1e9)).alias("total_sq")))
    return (comp.select(F.posexplode("vt").alias("pos", "v"), "lam")
            .withColumn("pos", F.col("pos").cast("long"))
            .crossJoin(F.broadcast(tot))
            .select("pos", "v", "lam",
                    (F.col("lam") / F.col("total_sq")).alias("ev_share")))


_NG5 = ("list_transform("
        " range(1, greatest(len({t}) - 4, 0) + 1),"
        " i -> array_to_string(list_slice({t}, i, i + 4), ' '))"
        ).format(t="string_split_regex(lower(trim(text)), '\\s+')")


@query(
    "text_dup_ngram_report",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, unnest({_NG5}) AS g FROM documents
    )
    SELECT g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc,
           CAST(MAX(doc_id) AS BIGINT) AS example_doc2
    FROM occ GROUP BY g
    ORDER BY n_docs DESC, g ASC LIMIT 20
    """,
)
def text_dup_ngram_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk report (the Lee et al. 2022 'most duplicated
    n-grams' table): the 20 word-5-grams appearing in the most documents,
    with occurrence counts and example doc ids — the triage list a
    dedup/decontamination pass starts from (a 5-gram in thousands of
    docs is boilerplate or a template; a model WILL memorize it).

    Plan: one n-gram explode (scan-local staged slices, the non-quadratic
    form — ext/text.ngrams), one groupBy on the n-gram, then global
    top-20 via orderBy+limit = TakeOrderedAndProject (heap of 20 per
    partition, no global sort). Deterministic total order (n_docs desc,
    gram asc)."""
    from ..ext import text as TX

    d = load_table(spark, sf_dir, "documents")
    # r13 opt: tokenize once before the n-gram explode (guide §4.1).
    occ = (d.select("doc_id", TX.tokens("text").alias("__tk0__"))
           .select("doc_id",
                   F.explode(TX.ngrams(F.col("__tk0__"), 5)).alias("g")))
    return (occ.groupBy("g")
            .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
                 F.count(F.lit(1)).cast("bigint").alias("n_occ"),
                 F.min("doc_id").cast("bigint").alias("example_doc"),
                 F.max("doc_id").cast("bigint").alias("example_doc2"))
            .orderBy(F.col("n_docs").desc(), F.col("g").asc())
            .limit(20))


@query(
    "corpus_dedup_pareto",
    oracle="""
    WITH g AS (
      SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1 HAVING COUNT(*) >= 2
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ), top AS (
      SELECT h, n FROM g ORDER BY n DESC, h ASC LIMIT 50
    ), r AS (
      SELECT h, n, ROW_NUMBER() OVER (ORDER BY n DESC, h ASC) AS rank,
             CAST(SUM(n) OVER (ORDER BY n DESC, h ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_docs
      FROM top
    )
    SELECT rank, n AS grp_docs, cum_docs,
           CAST(cum_docs AS DOUBLE) / CAST(tot.n_docs AS DOUBLE)
             AS cum_share
    FROM r CROSS JOIN tot
    """,
)
def corpus_dedup_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-mass concentration curve (the dedup-ROI chart): the 50
    largest exact-duplicate groups ranked by size, with the cumulative
    fraction of ALL documents they account for — 'removing the top-k
    duplicate clusters shrinks the corpus by X%'. Steep curves say cheap
    targeted dedup wins; flat curves say the duplication is long-tail
    and needs the full near-dup pipeline.

    Scale: only groups with ≥2 docs enter the ranking, and the global
    order is a top-50 heap (TakeOrderedAndProject), so the
    single-partition cumulative window runs over 50 rows — never the
    group universe. Shares are integer-operand IEEE divisions."""
    d = load_table(spark, sf_dir, "documents")
    g = (d.groupBy(F.md5("text").alias("h"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
         .filter(F.col("n") >= 2))
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    top = g.orderBy(F.col("n").desc(), F.col("h").asc()).limit(50)
    w = Window.orderBy(F.col("n").desc(), F.col("h").asc())
    r = (top.withColumn("rank", F.row_number().over(w))
         .withColumn("cum_docs",
                     F.sum("n").over(
                         w.rowsBetween(Window.unboundedPreceding, 0))
                     .cast("bigint")))
    return (r.crossJoin(F.broadcast(tot))
            .select("rank", F.col("n").alias("grp_docs"), "cum_docs",
                    (F.col("cum_docs").cast("double")
                     / F.col("n_docs").cast("double")).alias("cum_share")))


@query(
    "join_asof_nearest",
    oracle="""
    WITH cand AS (
      SELECT e.event_id, o.o_orderkey,
             abs(epoch(e.ts) - epoch(CAST(o.o_orderdate AS TIMESTAMP)))
               AS d,
             (CAST(o.o_orderdate AS TIMESTAMP) <= e.ts) AS is_b
      FROM events e JOIN orders o ON e.user_id = o.o_custkey
    ), r AS (
      SELECT event_id, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY event_id
               ORDER BY d ASC, is_b DESC,
                        CASE WHEN is_b THEN -o_orderkey
                             ELSE o_orderkey END ASC) AS rn
      FROM cand
    )
    SELECT e.event_id, x.o_orderkey AS nearest_order
    FROM events e
    LEFT JOIN (SELECT event_id, o_orderkey FROM r WHERE rn = 1) x
      USING (event_id)
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of: the order closest in time to each event, in either
    direction (operators/joins.asof_join_nearest) — completes the
    backward/forward/tolerance as-of family. Ties: equidistant opposite
    sides → backward; equal-time within a side → that direction's
    native tiebreak. The oracle ranks ALL candidates by absolute
    distance with the same total order; the Spark plan never builds
    that candidate set — one shuffle, two carry windows over the same
    exchange."""
    from ..operators import joins as J

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate")
    out = J.asof_join_nearest(
        e, o, left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        tiebreak="o_orderkey", right_cols=["o_orderkey"])
    return out.select("event_id", F.col("o_orderkey").alias("nearest_order"))


from .registry import ORACLES as _REG  # noqa: E402


@query("jx_asof_nearest", oracle=_REG["join_asof_nearest"])
def jx_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nearest as-of join as a jx query dict — the reference's
    "JSON query in, result out" contract now covers the as-of family
    (its TUID latest-annotation lookup was exactly this op's backward
    form). Same oracle as join_asof_nearest: front-end routing must be
    result-invisible; the select clause maps the joined columns."""
    from ..io import register_views
    from ..plans import query as JXQ

    register_views(spark, sf_dir)
    return JXQ.run(spark, {
        "from": {"op": "asof",
                 "table": {"from": "events",
                           "select": ["event_id", "user_id", "ts"]},
                 "right": {"from": "orders",
                           "select": ["o_custkey", "o_orderkey",
                                      "o_orderdate"]},
                 "left_on": "user_id", "right_on": "o_custkey",
                 "left_time": "ts", "right_time": "o_orderdate",
                 "tiebreak": "o_orderkey", "right_cols": ["o_orderkey"],
                 "direction": "nearest"},
        "select": ["event_id",
                   {"name": "nearest_order", "value": "o_orderkey"}],
    })


def _kcenter_oracle(k: int = 6) -> str:
    """CTE-unrolled greedy k-center mirroring sampling.kcenter_coreset:
    lowest-id seed, per-round min-distance-to-selected, farthest-point
    argmax with lowest-id tie-break."""
    cos = _sql_cos
    ctes = [
        "v AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS vv FROM embeddings)",
        "sel1 AS (SELECT vec_id, vv FROM v ORDER BY vec_id LIMIT 1)",
        "p1 AS (SELECT CAST(1 AS BIGINT) AS rank, vec_id, "
        "CAST(NULL AS DOUBLE) AS min_dist FROM sel1)",
    ]
    for i in range(2, k + 1):
        ctes.append(f"""cand{i} AS (
          SELECT v.vec_id, v.vv,
                 MIN(1.0 - {cos('v.vv', 'c.vv')}) AS mind
          FROM v CROSS JOIN sel{i - 1} c
          WHERE v.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
          GROUP BY v.vec_id, v.vv)""")
        ctes.append(f"""w{i} AS (
          SELECT vec_id, vv, mind FROM cand{i}
          ORDER BY mind DESC, vec_id ASC LIMIT 1)""")
        ctes.append(f"""sel{i} AS (
          SELECT vec_id, vv FROM sel{i - 1}
          UNION ALL SELECT vec_id, vv FROM w{i})""")
        ctes.append(f"p{i} AS (SELECT CAST({i} AS BIGINT) AS rank, vec_id, "
                    f"mind AS min_dist FROM w{i})")
    union = " UNION ALL ".join(f"SELECT * FROM p{i}" for i in range(1, k + 1))
    return "WITH " + ",\n".join(ctes) + f"\n{union}"


@query("sample_kcenter_coreset", oracle=_kcenter_oracle())
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (farthest-point diversity selection,
    ext/sampling.kcenter_coreset): the 6 maximally-spread embedding
    vectors in selection order with each pick's covering distance —
    the diversity-preserving data-pruning primitive (keep the coreset,
    drop the redundant bulk; min_dist's decay curve says when adding
    centers stops buying coverage). The oracle unrolls every greedy
    round; each rank and distance is bit-checked."""
    from ..ext.sampling import kcenter_coreset

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, "vec_id", "embedding", k=6)


def _overlap_report_sql(shard_expr: str, label: str) -> str:
    """One layout leg of the overlap report: files = ``shard_expr``
    shards of lineitem with min/max l_orderkey stats, then the
    overlap-pair count and floor-quantized mean span fraction."""
    return f"""(
    WITH f AS (
      SELECT CAST({shard_expr} AS VARCHAR) AS file,
             CAST(MIN(l_orderkey) AS BIGINT) AS lo,
             CAST(MAX(l_orderkey) AS BIGINT) AS hi
      FROM lineitem GROUP BY 1
    ), g AS (
      SELECT CAST(MIN(lo) AS BIGINT) AS glo, CAST(MAX(hi) AS BIGINT) AS ghi,
             CAST(COUNT(*) AS BIGINT) AS nf
      FROM f
    ), ov AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap_pairs
      FROM f a JOIN f b
        ON a.file < b.file AND a.lo <= b.hi AND b.lo <= a.hi
    ), sp AS (
      SELECT CAST(SUM(CAST(floor(CAST(f.hi - f.lo AS DOUBLE)
                                 / CAST(g.ghi - g.glo AS DOUBLE) * 1e9)
                           AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 1e9) AS avg_span_frac
      FROM f CROSS JOIN g
    )
    SELECT '{label}' AS layout, g.nf AS n_files, ov.n_overlap_pairs,
           sp.avg_span_frac
    FROM g, ov, sp)"""


@query(
    "etl_layout_overlap_report",
    oracle=(_overlap_report_sql("l_orderkey % 16", "hash")
            + "\nUNION ALL\n"
            + _overlap_report_sql(
                "least(15, l_orderkey // ((SELECT MAX(l_orderkey) "
                "FROM lineitem) // 16 + 1))", "range")),
)
def etl_layout_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality diagnostic (sources/layout.overlap_report, the
    'time to re-cluster?' metric that pairs with compact_layout): for a
    HASH-sharded layout vs a RANGE-sharded layout of the same table,
    the count of file pairs whose stat ranges intersect (every such
    pair is a file a point query may redundantly open — n·(n−1)/2 for
    hash, 0 for clean ranges) and the floor-quantized mean per-file
    span fraction (scan amplification of a range predicate). The same
    helper runs on real write_manifest tables; here the two layouts
    are stated relationally so the oracle can rebuild them.

    Scale: everything is manifest-row arithmetic; the pair join is
    O(F²) over file counts — scheduler-side scale."""
    from ..sources.layout import overlap_report

    li = load_table(spark, sf_dir, "lineitem")
    mx = li.agg(F.max("l_orderkey").alias("__mx__"))

    def manifest(shard_col, lbl):
        return (li.groupBy(shard_col.cast("string").alias("file"))
                .agg(F.min("l_orderkey").cast("bigint")
                     .alias("min_l_orderkey"),
                     F.max("l_orderkey").cast("bigint")
                     .alias("max_l_orderkey")))

    hashm = manifest(F.col("l_orderkey") % 16, "hash")
    rangem = (li.crossJoin(F.broadcast(mx))
              .groupBy(F.least(
                  F.lit(15),
                  F.expr("l_orderkey DIV (__mx__ DIV 16 + 1)"))
                  .cast("string").alias("file"))
              .agg(F.min("l_orderkey").cast("bigint")
                   .alias("min_l_orderkey"),
                   F.max("l_orderkey").cast("bigint")
                   .alias("max_l_orderkey")))
    return (overlap_report(hashm, "l_orderkey", "hash")
            .unionByName(overlap_report(rangem, "l_orderkey", "range")))


def _ahash_index_oracle(max_hamming: int = 6) -> str:
    """The ahash-pairs oracle restricted to DELTA-touching pairs (delta
    = doc_id % 10 >= 7): exactly what pairs_against_index must emit
    when the historical 70% is served from the stored band table."""
    from .q_ext7 import _ahash_oracle

    base = _ahash_oracle(max_hamming).rstrip()
    return (f"SELECT * FROM (\n{base}\n) "
            "WHERE id_a % 10 >= 7 OR id_b % 10 >= 7")


@query("multimodal_ahash_index_pairs", oracle=_ahash_index_oracle())
def multimodal_ahash_index_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly IMAGE-dedup shape: perceptual near-dup pairs between
    a delta batch (docs with id % 10 >= 7) and the PERSISTED aHash band
    index of the historical 70% (built once + one incremental append —
    both index paths exercised), only the delta's payloads hashed
    (ext/multimodal.ahash_pairs_against_index). The oracle rebuilds the
    whole perceptual pipeline relationally and restricts to
    delta-touching pairs — a green check proves index-served results
    equal the full recompute."""
    from ..ext import multimodal as MM

    d = load_table(spark, sf_dir, "documents")
    hist1 = d.filter(F.col("doc_id") % 10 < 5)
    hist2 = d.filter((F.col("doc_id") % 10 >= 5) & (F.col("doc_id") % 10 < 7))
    delta = d.filter(F.col("doc_id") % 10 >= 7)
    path = scratch_dir(sf_dir, "ahash")
    ensure_built(path, lambda: [
        MM.build_ahash_index(hist1, "doc_id", "text", path),
        MM.append_ahash_index(hist2, "doc_id", "text", path)])
    return MM.ahash_pairs_against_index(delta, "doc_id", "text",
                                        spark, path, max_hamming=6)


def _power_ctes(src: str, sfx: str, n_iter: int = 3) -> tuple[list, str]:
    """Parameterized power-iteration CTE chain over source CTE ``src``
    (vec_id, vv) with name suffix ``sfx`` — the _top_component_oracle
    chain, reusable for the deflated spectral profile."""
    dot = _sql_dot
    ctes = [
        f"seed{sfx} AS (SELECT vv FROM {src} ORDER BY vec_id LIMIT 1)",
        f"n0{sfx} AS (SELECT vv, sqrt({dot('vv', 'vv')}) AS nrm "
        f"FROM seed{sfx})",
        f"vt0{sfx} AS (SELECT list_transform(vv, x -> x / nrm) AS vt "
        f"FROM n0{sfx})",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(f"""d{i}{sfx} AS (
          SELECT a.vec_id, a.vv, {dot('a.vv', 't.vt')} AS dp
          FROM {src} a CROSS JOIN vt{i - 1}{sfx} t)""")
        ctes.append(f"""w{i}{sfx} AS (
          SELECT pos,
                 CAST(SUM(CAST(floor(x * dp * 1e9) AS BIGINT)) AS DOUBLE)
                   / 1e9 AS w
          FROM (SELECT dp, unnest(vv) AS x,
                       generate_subscripts(vv, 1) AS pos FROM d{i}{sfx})
          GROUP BY pos)""")
        ctes.append(f"wa{i}{sfx} AS (SELECT list(w ORDER BY pos) AS wv "
                    f"FROM w{i}{sfx})")
        ctes.append(f"nn{i}{sfx} AS (SELECT wv, sqrt({dot('wv', 'wv')}) "
                    f"AS nrm FROM wa{i}{sfx})")
        ctes.append(f"vt{i}{sfx} AS (SELECT list_transform(wv, "
                    f"x -> x / nrm) AS vt, nrm AS lam FROM nn{i}{sfx})")
    return ctes, f"vt{n_iter}{sfx}"


def _spectral_oracle(n_iter: int = 3) -> str:
    ctes = ["v AS (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(x AS DOUBLE)) AS vv FROM embeddings)"]
    c1, fin1 = _power_ctes("v", "a", n_iter)
    ctes += c1
    ctes.append(f"""v2 AS (
      SELECT vec_id,
             list_transform(list_zip(vv, vt), p -> p[1] - dp * p[2]) AS vv
      FROM (SELECT x.vec_id, x.vv, t.vt, {_sql_dot('x.vv', 't.vt')} AS dp
            FROM v x CROSS JOIN {fin1} t))""")
    c2, fin2 = _power_ctes("v2", "b", n_iter)
    ctes += c2
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT comp, lam, lam / (SELECT lam FROM {fin1}) AS lam_ratio
    FROM (SELECT CAST(1 AS BIGINT) AS comp, lam FROM {fin1}
          UNION ALL SELECT CAST(2 AS BIGINT) AS comp, lam FROM {fin2})""")


@query("sim_spectral_profile", oracle=_spectral_oracle())
def sim_spectral_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 eigenvalues of the embedding second moment by DEFLATED
    power iteration (ext/similarity.spectral_profile): λ2/λ1 is the
    spectral-concentration read on representation collapse (near 0 =
    rank-1 degeneration — retrain/renormalize; near 1 = healthy top
    subspace). Deflation x − (x·v)v is scan-local exact arithmetic;
    both chains and the deflation are CTE-unrolled in the oracle and
    every eigenvalue is bit-checked."""
    from ..ext.similarity import spectral_profile

    emb = load_table(spark, sf_dir, "embeddings")
    return spectral_profile(emb, "vec_id", "embedding",
                            n_components=2, n_iter=3)


@query(
    "dedup_family_agreement",
    oracle=None,  # set right below — needs the two registered fragments
)
def dedup_family_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-family calibration audit: the agreement matrix between
    the MinHash/Jaccard pipeline (set similarity, threshold 0.2) and the
    banded SimHash pipeline (weighted-token hamming <= 12) over the SAME
    corpus — n_both / each-only counts plus the pair-level agreement
    Jaccard. This is the report that tunes which family (and which
    thresholds) a dedup deployment should trust: SimHash's wider net vs
    MinHash's exact set semantics. One full-outer join of two verified
    pair sets (both id-normalized), integer counts, one exact integer
    division."""
    from ..ext import dedup as DD
    from ..ext import text as TX

    d = load_table(spark, sf_dir, "documents")
    mh = (DD.near_dup_pairs(d, "doc_id", "text", threshold=0.2)
          .select("id_a", "id_b", F.lit(1).alias("__mh__")))
    sig = DD.simhash64_md5(d, "doc_id", TX.tokens("text"))
    sh = (DD.simhash_band_pairs(sig, "doc_id", max_hamming=12)
          .select("id_a", "id_b", F.lit(1).alias("__sh__")))
    j = mh.join(sh, ["id_a", "id_b"], "full_outer")
    both = F.when(F.col("__mh__").isNotNull()
                  & F.col("__sh__").isNotNull(), 1).otherwise(0)
    mo = F.when(F.col("__mh__").isNotNull()
                & F.col("__sh__").isNull(), 1).otherwise(0)
    so = F.when(F.col("__mh__").isNull()
                & F.col("__sh__").isNotNull(), 1).otherwise(0)
    return j.agg(
        F.sum(F.when(F.col("__mh__").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_minhash"),
        F.sum(F.when(F.col("__sh__").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_simhash"),
        F.sum(both).cast("bigint").alias("n_both"),
        F.sum(mo).cast("bigint").alias("n_minhash_only"),
        F.sum(so).cast("bigint").alias("n_simhash_only"),
        (F.sum(both).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("agreement_jaccard"))


from .registry import ORACLES as _ORC  # noqa: E402

_ORC["dedup_family_agreement"] = f"""
    WITH mh AS (SELECT id_a, id_b FROM ({_ORC['dedup_lsh_jaccard_pairs']})),
    sh AS (SELECT id_a, id_b FROM ({_ORC['dedup_simhash_pairs']})),
    j AS (
      SELECT mh.id_a IS NOT NULL AS in_mh, sh.id_a IS NOT NULL AS in_sh
      FROM mh FULL OUTER JOIN sh
        ON mh.id_a = sh.id_a AND mh.id_b = sh.id_b
    )
    SELECT
      CAST(SUM(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash,
      CAST(SUM(CASE WHEN in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash,
      CAST(SUM(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS BIGINT)
        AS n_both,
      CAST(SUM(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END) AS BIGINT)
        AS n_minhash_only,
      CAST(SUM(CASE WHEN NOT in_mh AND in_sh THEN 1 ELSE 0 END) AS BIGINT)
        AS n_simhash_only,
      CAST(SUM(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS agreement_jaccard
    FROM j
"""
