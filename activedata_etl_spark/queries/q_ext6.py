"""Round-5 queries: manifest-pruned standard reads, hot-key-split as-of
join, CMS heavy hitters from the persisted index.

Each pairs a VERDICT r4 "next round" item with a driver-checkable
oracle. The manifest and CMS queries build their derived state under the
system temp dir (the dedup_index_query pattern): derived data is
bit-reproducible from the base tables, so the oracle never needs to see
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.exact import dsum, sql_dsum
from ..io import load_parquet, load_table
from ..staging import scratch_path
from .q_ext5 import _CMS_CELLS
from .registry import ensure_built, query, scratch_dir


@query(
    "etl_manifest_pruned_read",
    oracle=f"""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('o_totalprice')} AS total
    FROM orders
    WHERE o_custkey >= 100 AND o_custkey <= 500
    GROUP BY o_orderpriority
    """,
)
def etl_manifest_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r4 #3 — manifest pruning through the STANDARD load path:
    orders is rewritten once as a z-ordered layout with a persisted
    per-file min/max manifest (sources/layout.write_manifest), then read
    back through io.load_parquet with a range bound. load_parquet finds
    the sibling manifest itself and opens only the files whose stat
    ranges intersect the bound — no opt-in helper call — and applies the
    exact predicate on top, so the result is provably the full-scan
    filter (pruning is one-sided). The oracle never sees the layout:
    full-scan SQL over the base table. The strict file-subset effect is
    measured in test_etl (test_load_path_manifest_pruning)."""
    import os

    from ..sources import layout as L

    o = load_table(spark, sf_dir, "orders")
    data = os.path.join(scratch_dir(sf_dir, "manifest"), "orders.parquet")

    def _build():
        # dims normalized to the SAME 10-bit range (layout.py docstring
        # rule — a wide dim interleaved with a narrow one parks the
        # narrow dim in dead high bits and nothing clusters on it):
        # custkey scaled by its max, orderkey folded mod 1024. The
        # manifest stores the RAW column stats, so pruning is on real
        # values.
        hi_ck = o.agg(F.max("o_custkey")).first()[0]
        L.write_zordered(
            o, data,
            [F.floor(F.col("o_custkey") * 1024 / (hi_ck + 1)).cast("bigint"),
             F.pmod(F.col("o_orderkey"), F.lit(1024))],
            n_files=8, bits=10)
        L.write_manifest(spark, data, ["o_custkey"])

    ensure_built(os.path.dirname(data), _build)
    pruned = load_parquet(spark, data, bounds={"o_custkey": (100, 500)})
    return (pruned.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 dsum("o_totalprice").alias("total")))


@query(
    "join_asof_hotkey_split",
    oracle="""
    WITH cand AS (
      SELECT e.event_id, o.o_orderkey, o.o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e
      JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT e.event_id, c.o_orderkey AS asof_order
    FROM events e
    LEFT JOIN (SELECT event_id, o_orderkey FROM cand WHERE rn = 1) c USING (event_id)
    """,
)
def join_asof_hotkey_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r4 #5 — the as-of join under ``split_hot_keys=4``: every
    key's window partition is pre-split into 4 time ranges and range
    boundaries are stitched by carrying each range's final right payload
    forward (operators/joins.asof_join). The oracle is join_asof's,
    UNCHANGED — the rewrite is result-invisible by construction; this
    query pins that claim. The skew effect (bounded per-task sort under
    a planted celebrity key) is measured in the SCALE.md rig
    (test_asof_hotkey_split_equivalence covers correctness under planted
    skew)."""
    from ..operators import joins as J

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate")
    out = J.asof_join(
        e, o,
        left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        tiebreak="o_orderkey", right_cols=["o_orderkey"],
        split_hot_keys=4,
    )
    return out.select("event_id", F.col("o_orderkey").alias("asof_order"))


@query(
    "agg_cms_heavy_hitters",
    oracle=f"""
    WITH {_CMS_CELLS},
    cand AS (SELECT DISTINCT event_type, user_id FROM events),
    probe_cells AS (
      SELECT p.event_type, p.user_id, CAST(r.row AS INT) AS row,
             CAST(CAST(('0x' || substring(md5('r' || r.row || '|' ||
               CAST(p.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS INT) AS col
      FROM cand p, LATERAL (SELECT unnest(range(0, 4)) AS row) r
    ),
    est AS (
      SELECT pc.event_type, pc.user_id,
             CAST(MIN(COALESCE(cr.n, 0)) AS BIGINT) AS est
      FROM probe_cells pc
      LEFT JOIN cms_regs cr USING (event_type, row, col)
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, user_id, est,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY est DESC, user_id) AS INT) AS rank
      FROM est
    ),
    exact AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS exact
      FROM events GROUP BY 1, 2
    )
    SELECT r.event_type, r.user_id, r.est, r.rank, e.exact,
           r.est >= e.exact AS one_sided_ok
    FROM ranked r JOIN exact e USING (event_type, user_id)
    WHERE r.rank <= 10
    """,
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r4 #6 — top-k frequent users per event type answered from
    the PERSISTED count-min index (functions/cms.py): the sketch is
    written as two batch-keyed register shards (the streaming-index
    layout), merged on read with the CMS SUM rule — counters are
    additive, so two half-corpus sketches merge into exactly the
    full-corpus sketch the oracle reconstructs — then candidate keys
    rank by their min-over-rows estimate with a total tie order. The
    in-query audit pins the one-sided guarantee per returned row
    (est >= exact, the agg_sketch_audit pattern). At 100 TB the ranking
    join touches only the d·w-per-group register table; the corpus is
    scanned exactly once, at index-build time."""
    from ..functions import cms

    e = load_table(spark, sf_dir, "events")
    path = scratch_path("cms_hh")
    # two deterministic half-corpus batches — idempotent batch-keyed
    # overwrites (replay-safe, see append_cms_index)
    for b in (0, 1):
        cms.append_cms_index(
            e.filter(F.pmod("user_id", F.lit(2)) == b),
            ["event_type"], "user_id", path, batch_id=b)
    regs = cms.read_cms_index(spark, path, ["event_type"])
    cand = e.select("event_type", "user_id").distinct()
    hh = cms.cms_heavy_hitters(regs, cand, ["event_type"], "user_id", k=10)
    exact = (e.groupBy("event_type", "user_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("exact")))
    return (hh.join(exact, ["event_type", "user_id"])
            .select("event_type", "user_id", "est", "rank", "exact",
                    (F.col("est") >= F.col("exact")).alias("one_sided_ok")))


# ---- jx front-end reach into the extension ops (VERDICT r4 #9) ----
# Each query drives an LLM-pipeline operator THROUGH the JSON front-end
# (plans/extensions.py) and reuses the direct-path query's oracle
# verbatim: green means front-end-routed ≡ Python-API ≡ independent SQL.

from ..io import register_views  # noqa: E402
from ..plans import query as JXQ  # noqa: E402
from .registry import ORACLES as _REG  # noqa: E402


def _jx(spark: SparkSession, sf_dir: str, q: dict) -> DataFrame:
    register_views(spark, sf_dir)
    return JXQ.run(spark, q)


@query("jx_near_dup_pairs", oracle=_REG["dedup_lsh_jaccard_pairs"])
def jx_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash/LSH near-dup pipeline as a jx query: the reference's
    "JSON query in, result out" contract now covers the dedup surface.
    Same oracle as dedup_lsh_jaccard_pairs — the front-end routing must
    be result-invisible."""
    return _jx(spark, sf_dir, {
        "from": {"op": "near_dup_pairs", "table": "documents",
                 "id": "doc_id", "text": "text", "threshold": 0.2},
    })


@query("jx_ann_topk", oracle=_REG["sim_cosine_topk"])
def jx_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-cosine top-k through the jx front-end, with the query-row
    selection expressed as a jx expression (``queries`` clause of the
    op spec). Same oracle as sim_cosine_topk."""
    return _jx(spark, sf_dir, {
        "from": {"op": "ann_topk", "table": "embeddings",
                 "id": "vec_id", "vector": "embedding",
                 "queries": {"lt": {"vec_id": 5}}, "k": 5},
    })


@query(
    "jx_quality_gate",
    oracle=f"SELECT * FROM (\n{_REG['text_gopher_rules']}\n) WHERE keep",
)
def jx_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality gate through the jx front-end, COMPOSED with an
    ordinary jx where on the op's output (keep=true) — proving the op's
    DataFrame enters the normal clause pipeline."""
    return _jx(spark, sf_dir, {
        "from": {"op": "quality_gate", "table": "documents",
                 "id": "doc_id", "text": "text"},
        "where": {"eq": {"keep": True}},
    })


@query(
    "corpus_source_containment",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok,
             generate_subscripts(
               string_split_regex(lower(trim(text)), '\\s+'), 1) AS i
      FROM documents
    ), ch0 AS (
      SELECT doc_id, source, md5(string_agg(tok, ' ' ORDER BY i)) AS h
      FROM t GROUP BY doc_id, source, floor((i - 1) / 10)
    ), ch AS (SELECT DISTINCT source, h FROM ch0),
    tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ch GROUP BY source),
    shared AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM ch a JOIN ch b USING (h)
      WHERE a.source <> b.source GROUP BY 1, 2
    )
    SELECT s.src_a, s.src_b, s.n_shared, t2.n AS n_chunks_a,
           CAST(s.n_shared AS DOUBLE) / t2.n AS frac_contained
    FROM shared s JOIN tot t2 ON s.src_a = t2.source
    """,
)
def corpus_source_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED chunk-containment matrix
    (ext/dedup.source_overlap_matrix): for every ordered source pair,
    the fraction of a's distinct 10-token chunks appearing in b — the
    asymmetric complement of corpus_source_overlap's undirected shared
    counts (q_ext4): containment tells you WHICH side is the mirror/
    subset, which the symmetric count cannot.
    Per-hash join fan-out is bounded by n_sources² regardless of how
    common a chunk is, so there is no hot-key hazard at any corpus
    size; text never shuffles. The closing fraction is one IEEE
    division of exact bigints — bit-identical cross-engine."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    return DD.source_overlap_matrix(d, "doc_id", "text", "source", chunk=10)


@query(
    "dedup_cdc_chunks",
    oracle="""
    WITH tk AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), fl AS (
      SELECT doc_id, toks,
             list_transform(range(1, len(toks) + 1), i ->
               i >= 4 AND CAST(('0x' || substring(md5(array_to_string(
                 list_slice(toks, greatest(i - 3, 1), i), ' ')), 1, 8))
                 AS BIGINT) % 16 = 0) AS flags
      FROM tk
    ), t AS (
      SELECT doc_id, unnest(toks) AS tok, unnest(flags) AS fl,
             generate_subscripts(toks, 1) AS i
      FROM fl
    ), s AS (
      SELECT doc_id, tok, i,
             COALESCE(SUM(CASE WHEN fl THEN 1 ELSE 0 END) OVER
               (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
      FROM t
    ), ch AS (
      SELECT doc_id, seg, md5(string_agg(tok, ' ' ORDER BY i)) AS h,
             CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM s GROUP BY 1, 2
    ), dup AS (
      SELECT h FROM ch GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT ch.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_chunks,
           CAST(SUM(CASE WHEN dup.h IS NULL THEN ch.n_tok ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM ch LEFT JOIN dup USING (h)
    GROUP BY ch.doc_id
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup (ext/dedup.cdc_chunk_table — the
    rsync/LBFS boundary trick): chunk boundaries are decided by the
    rolling content hash, not position, so an EDITED near-copy (injected
    header, changed sentence) still shares most chunks — the case
    fixed-window chunk dedup (dedup_chunk_level) structurally misses
    because one inserted token shifts every downstream window. Same
    cross-doc dup-stats shape as the C4-style query; both engines build
    boundaries, segments, and chunk hashes independently and every
    per-doc count must agree. Insertion-robustness is pinned in
    test_cdc_chunks_survive_insertion."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    ch = DD.cdc_chunk_table(d, "doc_id", "text", window=4, mask=15)
    dup = (ch.groupBy("h")
           .agg(F.countDistinct("doc_id").alias("__nd__"))
           .filter(F.col("__nd__") >= 2)
           .select("h").withColumn("__dup__", F.lit(True)))
    return (ch.join(dup, "h", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
                 F.sum(F.coalesce("__dup__", F.lit(False)).cast("int"))
                  .cast("bigint").alias("n_dup_chunks"),
                 F.sum(F.when(F.col("__dup__").isNull(), F.col("n_tok"))
                       .otherwise(F.lit(0)))
                  .cast("bigint").alias("kept_tokens")))


def _skew_block(table: str, col: str) -> str:
    return f"""
    SELECT '{col}' AS "column",
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS ndv,
           CAST(MAX(n) AS DOUBLE) / SUM(n) AS top1_share,
           CAST((SELECT SUM(n) FROM (
              SELECT COUNT(*) AS n FROM {table} GROUP BY {col}
              ORDER BY n DESC LIMIT 10)) AS DOUBLE) / SUM(n) AS top10_share
    FROM (SELECT COUNT(*) AS n FROM {table} GROUP BY {col})"""


@query(
    "etl_skew_audit",
    oracle=" UNION ALL ".join([
        _skew_block("lineitem", "l_orderkey"),
        _skew_block("lineitem", "l_partkey"),
        _skew_block("lineitem", "l_suppkey"),
        _skew_block("events", "user_id"),
    ]),
)
def etl_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile (operators/skew.key_skew_profile) over the
    fact tables' join columns — the measurement that decides shuffle
    strategy BEFORE the nightly join runs (plain hash join vs AQE skew
    split vs salting vs broadcast). NDV and hot-key shares per column;
    the top-10 mass comes from a distributed TakeOrdered, never a
    global window, so the profile itself is skew-proof. Shares are
    single IEEE divisions of exact counts — bit-identical
    cross-engine."""
    from ..operators.skew import key_skew_profile

    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    return (key_skew_profile(li, ["l_orderkey", "l_partkey", "l_suppkey"])
            .unionByName(key_skew_profile(ev, ["user_id"])))


@query(
    "agg_percentile_approx_audit",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ), bounds AS (
      SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
             MAX(CASE WHEN rn = greatest(CAST(floor(0.48 * n) AS BIGINT), 1)
                 THEN l_extendedprice END) AS lo,
             MAX(CASE WHEN rn = least(CAST(ceil(0.52 * n) AS BIGINT), n)
                 THEN l_extendedprice END) AS hi
      FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, lo, hi, TRUE AS within_bounds FROM bounds
    """,
)
def agg_percentile_approx_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's builtin approximate percentile (GK sketch,
    `percentile_approx(..., accuracy)`) audited IN-QUERY against its
    documented rank-error guarantee (≤ 1/accuracy): the sketch's median
    must lie between the EXACT order statistics at ranks (0.5 ± 2ε)·n.
    The approx value itself is NOT emitted — GK merge order varies with
    partition layout, so the value isn't hashable cross-engine; the
    audit boolean and the exact rank bounds are, and both engines
    compute the bounds independently. Completes the quantile leg of the
    sketch-audit family (HLL/CMS/Bloom audits emit the same shape). A
    false `within_bounds` here would hash-mismatch the oracle's TRUE —
    the gate catches a guarantee violation, not just a crash."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select(
        "l_returnflag", "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("l_returnflag")).alias("n"))
    bounds = ranked.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(F.when(
            F.col("rn") == F.greatest(F.floor(0.48 * F.col("n"))
                                      .cast("bigint"), F.lit(1)),
            F.col("l_extendedprice"))).alias("lo"),
        F.max(F.when(
            F.col("rn") == F.least(F.ceil(0.52 * F.col("n"))
                                   .cast("bigint"), F.col("n")),
            F.col("l_extendedprice"))).alias("hi"))
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 100).alias("__ap__"))
    return (bounds.join(approx, "l_returnflag")
            .select("l_returnflag", "n", "lo", "hi",
                    ((F.col("__ap__") >= F.col("lo"))
                     & (F.col("__ap__") <= F.col("hi")))
                    .alias("within_bounds")))


@query(
    "dedup_index_delta_pairs",
    oracle=("SELECT * FROM (\n" + _REG["dedup_lsh_jaccard_pairs"]
            + "\n) WHERE id_a % 2 = 1 OR id_b % 2 = 1"),
)
def dedup_index_delta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NIGHTLY-INGEST dedup query (ext/dedup_index.
    pairs_against_index): near-dup pairs between a delta batch (odd doc
    ids) and the pre-built corpus index (even ids) plus within-delta
    pairs — only the delta is ever tokenized; the corpus side is the
    stored band table (~1% of corpus size). The oracle is the FULL
    LSH pipeline restricted to pairs touching a delta doc: green means
    the incremental path produces exactly the pairs a from-scratch run
    would attribute to the new batch. At 100 TB this is the shape that
    makes daily dedup O(|delta|), not O(|corpus|)."""
    from ..ext import dedup_index as DI

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.pmod("doc_id", F.lit(2)) == 0)
    delta = d.filter(F.pmod("doc_id", F.lit(2)) == 1)
    path = scratch_dir(sf_dir, "dedup_delta_v2")
    ensure_built(path, lambda: DI.build_index(corpus, "doc_id", "text", path))
    return DI.pairs_against_index(delta, "doc_id", "text", spark, path,
                                  threshold=0.2)


@query(
    "dedup_chunk_delta_stats",
    oracle=("SELECT * FROM (\n" + _REG["dedup_chunk_level"]
            + "\n) WHERE doc_id % 2 = 1"),
)
def dedup_chunk_delta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-restricted query for the CHUNK index family (VERDICT r5 #8,
    the dedup_index_delta_pairs shape): corpus chunk index = even doc
    ids (two appended batches), nightly delta = odd ids; per-delta-doc
    boilerplate stats with the corpus side served from the persisted
    index — only the delta is tokenized. Oracle = the full-corpus
    chunk-dedup SQL restricted to delta ids: green proves the
    incremental path reproduces exactly what a from-scratch corpus run
    reports for the new docs."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.pmod("doc_id", F.lit(2)) == 0)
    delta = d.filter(F.pmod("doc_id", F.lit(2)) == 1)
    path = scratch_dir(sf_dir, "chunkidx")

    def _build():
        half = d.count() // 2
        DD.append_chunk_index(corpus.filter(F.col("doc_id") < half),
                              "doc_id", "text", path)
        DD.append_chunk_index(corpus.filter(F.col("doc_id") >= half),
                              "doc_id", "text", path)

    ensure_built(path, _build)
    return DD.chunk_delta_stats(delta, "doc_id", "text", spark, path)


def _hll_global_est_ctes(tag: str, where: str) -> str:
    """Global (ungrouped) HLL register chain + raw estimate for one
    subset of orders — the q_ext4 _HLL_REGS_CTE math without the group
    column, parameterized so the delta query can build two sketches."""
    return f"""h{tag} AS (
      SELECT md5(CAST(o_orderkey AS VARCHAR)) AS hx FROM orders {where}
    ), r{tag} AS (
      SELECT (strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
               + strpos('0123456789abcdef', substring(hx, 2, 1)) - 1 AS bucket,
             list_reduce(list_transform(range(3, 18),
               i -> CAST(strpos('0123456789abcdef', substring(hx, i, 1)) - 1
                         AS BIGINT)),
               (a, b) -> a * 16 + b) AS x
      FROM h{tag}
    ), regs{tag} AS (
      SELECT CAST(bucket AS INT) AS bucket,
             MAX(CASE WHEN x = 0 THEN 61 ELSE 61 - length(bin(x)) END)
               AS max_rho
      FROM r{tag} GROUP BY 1
    ), e{tag} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nb,
             1.0854228543761655e+23 / CAST(CAST(
               SUM(CAST((CAST(1 AS BIGINT) << (61 - max_rho))
                        AS DECIMAL(38,0)))
               + (256 - COUNT(*))
                 * CAST((CAST(1 AS BIGINT) << 61) AS DECIMAL(38,0))
               AS VARCHAR) AS DOUBLE) AS raw_est
      FROM regs{tag}
    )"""


@query(
    "agg_hll_delta_ndv",
    oracle=f"""
    WITH {_hll_global_est_ctes('c', 'WHERE o_orderkey % 2 = 0')},
    {_hll_global_est_ctes('m', '')}
    SELECT c.nb AS corpus_n_buckets, c.raw_est AS corpus_raw_est,
           m.nb AS merged_n_buckets, m.raw_est AS merged_raw_est,
           m.raw_est - c.raw_est AS delta_novel_est,
           (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
            WHERE o_orderkey % 2 = 1) AS exact_novel_ndv
    FROM ec c CROSS JOIN em m
    """,
)
def agg_hll_delta_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-restricted query for the HLL index family (VERDICT r5 #8):
    corpus registers = batch 0 (even order keys), nightly delta = batch
    1; answer "how much NEW cardinality did tonight's batch add" from
    the persisted index alone — corpus estimate from a partition-pruned
    batch=0 read, merged estimate from the max-merge of ALL batches,
    novel ≈ merged − corpus. The oracle rebuilds both register sets from
    scratch in SQL: green proves a batch-keyed register shard is
    independently queryable AND that max-merge of shards equals the
    from-scratch full sketch, bucket for bucket. At 100 TB the nightly
    cost is one delta scan + two m-row register reads."""
    import os

    from ..functions import hll

    o = load_table(spark, sf_dir, "orders")
    path = scratch_dir(sf_dir, "hll_delta")
    ensure_built(path, lambda: [
        hll.append_registers(o.filter(F.pmod("o_orderkey", F.lit(2)) == 0),
                             [], "o_orderkey",
                             os.path.join(path, "batch=0")),
        hll.append_registers(o.filter(F.pmod("o_orderkey", F.lit(2)) == 1),
                             [], "o_orderkey",
                             os.path.join(path, "batch=1"))])
    corpus = hll.hll_estimate(
        hll.read_registers(spark, os.path.join(path, "batch=0"), []), [])
    merged = hll.hll_estimate(hll.read_registers(spark, path, []), [])
    exact = (o.filter(F.pmod("o_orderkey", F.lit(2)) == 1)
             .agg(F.countDistinct("o_orderkey").alias("exact_novel_ndv")))
    return (corpus.select(F.col("n_buckets").alias("corpus_n_buckets"),
                          F.col("raw_est").alias("corpus_raw_est"))
            .crossJoin(F.broadcast(merged.select(
                F.col("n_buckets").alias("merged_n_buckets"),
                F.col("raw_est").alias("merged_raw_est"))))
            .withColumn("delta_novel_est",
                        F.col("merged_raw_est") - F.col("corpus_raw_est"))
            .crossJoin(F.broadcast(exact)))


_CMS_DELTA_CELLS = _CMS_CELLS.replace(
    "FROM events,",
    "FROM (SELECT * FROM events WHERE event_id % 2 = 1) events,")


@query(
    "agg_cms_delta_heavy_hitters",
    oracle=f"""
    WITH {_CMS_DELTA_CELLS},
    cand AS (SELECT DISTINCT event_type, user_id FROM events
             WHERE event_id % 2 = 1),
    probe_cells AS (
      SELECT p.event_type, p.user_id, CAST(r.row AS INT) AS row,
             CAST(CAST(('0x' || substring(md5('r' || r.row || '|' ||
               CAST(p.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS INT) AS col
      FROM cand p, LATERAL (SELECT unnest(range(0, 4)) AS row) r
    ),
    est AS (
      SELECT pc.event_type, pc.user_id,
             CAST(MIN(COALESCE(cr.n, 0)) AS BIGINT) AS est
      FROM probe_cells pc
      LEFT JOIN cms_regs cr USING (event_type, row, col)
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, user_id, est,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY est DESC, user_id) AS INT) AS rank
      FROM est
    ),
    exact AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS exact
      FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2
    )
    SELECT r.event_type, r.user_id, r.est, r.rank, e.exact,
           r.est >= e.exact AS one_sided_ok
    FROM ranked r JOIN exact e USING (event_type, user_id)
    WHERE r.rank <= 5
    """,
)
def agg_cms_delta_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-restricted query for the CMS index family (VERDICT r5 #8):
    "TONIGHT's top users per event type" answered from the batch=1
    register shard ALONE — a partition-pruned read of the delta's d·w
    counters, never the corpus shards (the window-query twin of
    agg_cms_heavy_hitters' merge-on-read). Batches are keyed by
    event_id parity here (time-sliced shards in production); the oracle
    rebuilds the delta-subset sketch from scratch: green proves a
    single batch shard is an independently correct sketch of exactly
    its batch — the property that makes retraction (delete a shard)
    and sliding-window sketches (sum the last K shards) correct."""
    import os

    from ..functions import cms

    e = load_table(spark, sf_dir, "events")
    path = scratch_path("cms_delta")
    for b in (0, 1):
        cms.append_cms_index(
            e.filter(F.pmod("event_id", F.lit(2)) == b),
            ["event_type"], "user_id", path, batch_id=b)
    regs = (spark.read.option("basePath", path)
            .parquet(os.path.join(path, "batch=1"))
            .select("event_type", "row", "col", "n"))
    delta = e.filter(F.pmod("event_id", F.lit(2)) == 1)
    cand = delta.select("event_type", "user_id").distinct()
    hh = cms.cms_heavy_hitters(regs, cand, ["event_type"], "user_id", k=5)
    exact = (delta.groupBy("event_type", "user_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("exact")))
    return (hh.join(exact, ["event_type", "user_id"])
            .select("event_type", "user_id", "est", "rank", "exact",
                    (F.col("est") >= F.col("exact")).alias("one_sided_ok")))


from .q_ext import _FP  # noqa: E402  (md5 fingerprint SQL fragment)


@query(
    "corpus_release_manifest",
    oracle=f"""
    WITH q AS ({_REG['text_gopher_rules']}),
    fp AS (SELECT doc_id, {_FP} AS fp FROM documents),
    canon AS (SELECT doc_id,
                     doc_id = MIN(doc_id) OVER (PARTITION BY fp)
                       AS is_canonical
              FROM fp),
    sd AS ({_REG['sample_split_decontaminated']})
    SELECT q.doc_id, q.keep AS quality_keep, c.is_canonical,
           sd.split, sd.is_contaminated,
           q.keep AND c.is_canonical AND sd.split = 'train'
             AND NOT sd.is_contaminated AS keep_final
    FROM q JOIN canon c ON q.doc_id = c.doc_id
           JOIN sd ON q.doc_id = sd.doc_id
    """,
)
def corpus_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INTEGRATED corpus-release pipeline, per-doc disposition in one
    plan: Gopher quality gate ∘ exact-dup canonical filter ∘
    deterministic train/eval split ∘ chunk-level decontamination →
    quality_keep / is_canonical / split / is_contaminated / keep_final.
    Each stage is an already-verified operator; this query pins the
    COMPOSITION (the artifact a release process actually ships — every
    doc's fate and why). Plan: all stages are scan-local flags or
    hash-keyed joins (fingerprint groups, chunk-hash semi-join); no
    stage rescans text another stage already tokenized more than the
    standalone operators would, and the final assembly is three
    id-keyed joins AQE sizes. The oracle composes the same three
    verified oracle fragments verbatim."""
    from ..ext import dedup as DD
    from ..ext import sampling as SA
    from ..ext import text as TX

    d = load_table(spark, sf_dir, "documents")
    quality = (TX.gopher_table(d, ["doc_id"], "text")
               .withColumn("quality_keep", TX.gopher_keep())
               .select("doc_id", "quality_keep"))
    fp = d.select("doc_id", TX.fingerprint("text").alias("fp"))
    groups = fp.groupBy("fp").agg(F.min("doc_id").alias("canonical_id"))
    canon = (fp.join(groups, "fp")
             .select("doc_id", (F.col("doc_id") == F.col("canonical_id"))
                     .alias("is_canonical")))
    labeled = d.withColumn("split", SA.split_label(
        F.col("doc_id"), {"train": 0.9, "eval": 0.1}, salt="split1"))
    ch = DD.chunk_table(labeled, "doc_id", "text", chunk=10,
                        extra_cols=("split",))
    eval_chunks = ch.filter(F.col("split") == "eval").select("h").distinct()
    contaminated = (ch.filter(F.col("split") == "train")
                    .join(eval_chunks, "h", "left_semi")
                    .select("doc_id").distinct()
                    .withColumn("__c__", F.lit(True)))
    return (labeled.select("doc_id", "split")
            .join(quality, "doc_id")
            .join(canon, "doc_id")
            .join(contaminated, "doc_id", "left")
            .select("doc_id", "quality_keep", "is_canonical", "split",
                    F.coalesce("__c__", F.lit(False)).alias("is_contaminated"),
                    (F.col("quality_keep") & F.col("is_canonical")
                     & (F.col("split") == "train")
                     & ~F.coalesce("__c__", F.lit(False)))
                    .alias("keep_final")))


@query(
    "dedup_exact_substrings",
    oracle="""
    WITH tk AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), w AS (
      SELECT doc_id, i AS p,
             md5(array_to_string(list_slice(toks, i, i + 9), ' ')) AS h
      FROM tk, LATERAL (SELECT unnest(range(1,
             greatest(len(toks) - 10 + 2, 1))) AS i)
    ), dup AS (
      SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2
    ), dp AS (
      SELECT w.doc_id, w.p,
             LAG(w.p) OVER (PARTITION BY w.doc_id ORDER BY w.p) AS lg
      FROM w JOIN dup USING (h)
    ), agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_dup_windows,
             CAST(SUM(CASE WHEN lg IS NULL THEN 10
                           ELSE LEAST(10, p - lg) END) AS BIGINT)
               AS covered_tokens,
             CAST(SUM(CASE WHEN lg IS NULL OR p - lg > 10
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
      FROM dp GROUP BY doc_id
    ), base AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(greatest(len(toks) - 10 + 1, 0) AS BIGINT) AS n_windows
      FROM tk
    )
    SELECT b.doc_id, b.n_tokens, b.n_windows,
           COALESCE(a.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(a.covered_tokens, 0) AS covered_tokens,
           COALESCE(a.n_spans, 0) AS n_spans,
           CAST(COALESCE(a.covered_tokens, 0) AS DOUBLE) / b.n_tokens
             AS dup_token_share
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def dedup_exact_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-substring dedup (Lee et al. 2022) via
    stride-1 window hashing (ext/dedup.exact_substring_spans): every
    ≥10-token run appearing twice anywhere in the corpus is detected
    EXACTLY (a repeat contains a duplicated 10-window at every offset —
    no chunk-boundary misses), marked positions merge into spans, and
    each doc reports its duplicated-token coverage. The oracle
    reconstructs windows, the global dup test, and the merged-interval
    fold independently; every count and the final share must agree."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    return DD.exact_substring_spans(d, "doc_id", "text", k=10)


@query(
    "dedup_exact_substr_removal",
    oracle="""
    WITH tk AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), w AS (
      SELECT doc_id AS d, i AS p,
             md5(array_to_string(list_slice(toks, i, i + 9), ' ')) AS h
      FROM tk, LATERAL (SELECT unnest(range(1,
             greatest(len(toks) - 10 + 2, 1))) AS i)
    ), marked AS (
      SELECT h, d, p,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY d, p) AS rn,
             COUNT(*) OVER (PARTITION BY h) AS cnt
      FROM w
    ), flags AS (
      SELECT d, p, 1 AS dup,
             CASE WHEN rn = 1 THEN 1 ELSE 0 END AS canon
      FROM marked WHERE cnt >= 2
    ), t AS (
      SELECT doc_id AS d, generate_subscripts(toks, 1) AS i,
             unnest(toks) AS tok
      FROM tk
    ), u AS (
      SELECT d, i AS pos, tok, CAST(NULL AS INT) AS dup,
             CAST(NULL AS INT) AS canon FROM t
      UNION ALL
      SELECT d, p, NULL, dup, canon FROM flags
    ), scored AS (
      SELECT d, pos, tok,
             MAX(dup) OVER (PARTITION BY d ORDER BY pos
               RANGE BETWEEN 9 PRECEDING AND CURRENT ROW) AS dc,
             MAX(canon) OVER (PARTITION BY d ORDER BY pos
               RANGE BETWEEN 9 PRECEDING AND CURRENT ROW) AS cc
      FROM u
    )
    SELECT d AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN dc IS NOT NULL AND COALESCE(cc, 0) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           md5(COALESCE(string_agg(
             CASE WHEN dc IS NULL OR cc = 1 THEN tok END,
             ' ' ORDER BY pos), '')) AS kept_hash
    FROM scored WHERE tok IS NOT NULL
    GROUP BY d
    """,
)
def dedup_exact_substr_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION half of ExactSubstr dedup
    (ext/dedup.exact_substring_removal): every duplicated ≥10-token run
    is CUT, keeping only its corpus-canonical occurrence (smallest
    (doc, position) — deterministic, so both engines elect the same
    survivor). The rewritten text is compared by md5 so the gate checks
    every kept token in order without hashing megabytes of rows. Golden
    span arithmetic in test_exact_substring_removal_golden."""
    from ..ext import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    out = DD.exact_substring_removal(d, "doc_id", "text", k=10)
    return out.select("doc_id", "n_tokens", "n_removed",
                      F.md5("kept_text").alias("kept_hash"))
