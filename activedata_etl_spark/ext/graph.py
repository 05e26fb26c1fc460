"""Graph operators over relational co-occurrence data (north-star §2.11).

Training-data pipelines meet graphs constantly: near-dup pair graphs
(connected components live in ext/dedup.py), user/session co-occurrence,
citation webs. The two primitives here — bounded co-occurrence edge
extraction and degree-oriented triangle counting — are the building
blocks of community/bot detection and graph-feature enrichment.

Scale design:

- **Edges**: co-occurrence via self-join on the slot key explodes
  quadratically in slot size, the exact analog of a hot LSH bucket, so
  ``max_slot_size`` drops oversized slots (a slot shared by millions of
  entities carries no pair information, the same argument as
  dedup.lsh_candidate_pairs' ``max_bucket_size``).
- **Triangles**: the classic degree-ordered orientation (each edge
  points low→high in the (degree, id) total order) bounds the wedge
  fan-out per node by its out-degree, giving O(m^1.5) total work
  instead of Σ deg² — the difference between hours and forever on a
  skewed graph. Every join is an equi-join Catalyst/AQE can plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..staging import stage


def cooccurrence_edges(df: DataFrame, id_col: str, slot_cols: list[str],
                       min_common: int = 2,
                       max_slot_size: int | None = None) -> DataFrame:
    """Undirected edges between entities sharing ≥ ``min_common``
    distinct slots (e.g. users active in the same (event_type, hour)).
    Output: (a, b, w) with a < b, w = number of shared slots."""
    occ = df.select(F.col(id_col), *[F.col(c) for c in slot_cols]).distinct()
    if max_slot_size is not None:
        sizes = (occ.groupBy(*slot_cols).count()
                 .filter(F.col("count") <= max_slot_size).drop("count"))
        occ = occ.join(sizes, slot_cols)  # AQE broadcasts the slot list
    left = occ.select(F.col(id_col).alias("a"), *slot_cols)
    right = occ.select(F.col(id_col).alias("b"), *slot_cols)
    return (left.join(right, slot_cols)
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
            .filter(F.col("w") >= min_common))


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected simple graph given as canonical (a < b, distinct) edges.

    Orientation: edge {u,v} points u→v iff (deg(u), u) < (deg(v), v);
    each triangle x≺y≺z is found exactly once as the wedge (x→y, x→z)
    closed by y→z. Output: (node, degree, n_triangles, clustering) for
    every node of degree ≥ 2; clustering = 2T / (d(d−1))."""
    e = edges.select("a", "b")
    deg = (e.select(F.col("a").alias("node"))
           .unionAll(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    ed = (e.join(deg.withColumnRenamed("node", "a")
                 .withColumnRenamed("degree", "da"), "a")
          .join(deg.withColumnRenamed("node", "b")
                .withColumnRenamed("degree", "db"), "b"))
    fwd = F.struct("da", "a") < F.struct("db", "b")
    o = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.struct(F.col("db").alias("d"), F.col("b").alias("n")))
         .otherwise(F.struct(F.col("da").alias("d"), F.col("a").alias("n")))
         .alias("dkey"))
    w = (o.alias("e1").join(o.alias("e2"), "src")
         .filter(F.col("e1.dkey") < F.col("e2.dkey"))
         .select(F.col("src").alias("x"), F.col("e1.dst").alias("y"),
                 F.col("e2.dst").alias("z")))
    closing = o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    tri = w.join(closing, ["y", "z"])
    tn = (tri.select(F.col("x").alias("node"))
          .unionAll(tri.select(F.col("y").alias("node")))
          .unionAll(tri.select(F.col("z").alias("node")))
          .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")))
    return (deg.filter(F.col("degree") >= 2)
            .join(tn, "node", "left")
            .select("node", "degree",
                    F.coalesce("n_triangles", F.lit(0).cast("bigint"))
                     .alias("n_triangles"))
            .withColumn("clustering",
                        (2.0 * F.col("n_triangles"))
                        / (F.col("degree") * (F.col("degree") - 1))))


def pagerank(edges: DataFrame, n_iter: int = 3,
             damping: float = 0.85,
             deterministic: bool = True) -> DataFrame:
    """Fixed-iteration PageRank over an undirected simple graph given as
    canonical (a < b, distinct) edges — the crawl-prioritization /
    host-authority ranking a web pipeline runs over its link graph.
    Returns (node, r) after ``n_iter`` synchronous iterations from the
    uniform start.

    Determinism contract (what makes this oracle-checkable): per-node
    contribution sums fold over a (src)-sorted struct array, never a
    shuffle-ordered float sum; the teleport term is computed as
    double(1) − double(damping) IN-PLAN so the oracle can state the
    bit-identical expression (a Python-side ``1 - 0.85`` bakes the same
    value, but keeping it symbolic keeps both engines honest).
    Undirected edges mean no dangling mass: every node that exists has
    out-degree ≥ 1.

    Scale: each iteration is one equi-join of the edge list against the
    current rank vector plus one groupBy(dst) — the rank vector is
    |V| rows (broadcastable for host graphs, shuffle-join for page
    graphs), the edge list never re-shuffles if pre-partitioned by src.
    Iterations chain lineage; checkpoint every ~10 on long runs (the
    connected-components operator documents the same practice).

    ``deterministic=False`` swaps the src-sorted fold for a plain
    shuffle SUM per dst: float addition order then varies run-to-run in
    the last ulp — irrelevant for ranking, and it removes the
    O(in-degree) per-node array the fold materializes. On a DENSE graph
    that array dominates: the sf1 rig's 100×-edge co-occurrence graph
    (avg in-degree ~2000) runs the fold form ~3× slower than the plain
    sum. Keep True for oracle parity; pass False in production."""
    # STAGE the directed edge list in memory: every iteration joins
    # against it, and nodes/outdeg each scan it once more — unstaged,
    # the whole upstream edge-generation lineage (for co-occurrence
    # graphs a quadratic slot self-join) re-executes per consumer
    # (sf1 rig, 14M edges: 28.1s → ~1s for 3 iterations). The returned
    # ranks read it lazily, so it lives until the caller's scope closes.
    directed = stage(edges.select(F.col("a").alias("src"),
                                  F.col("b").alias("dst"))
                     .unionAll(edges.select(F.col("b").alias("src"),
                                            F.col("a").alias("dst"))),
                     "memory")
    nodes = directed.select(F.col("src").alias("node")).distinct()
    nn = nodes.groupBy().agg(F.count(F.lit(1)).alias("__N__"))
    outdeg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("__d__"))
    teleport = (F.lit(1.0) - F.lit(damping)) / F.col("__N__")
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("__N__")).alias("r"))
    for _ in range(n_iter):
        contribs = (directed.join(outdeg, "src")
                    .join(ranks.withColumnRenamed("node", "src"), "src")
                    .select("dst", "src",
                            (F.col("r") / F.col("__d__")).alias("c")))
        if deterministic:
            sums = (contribs.groupBy("dst")
                    .agg(F.aggregate(
                        F.array_sort(F.collect_list(F.struct("src", "c"))),
                        F.lit(0.0), lambda a, s: a + s["c"]).alias("s")))
        else:
            sums = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (nodes.join(sums.withColumnRenamed("dst", "node"), "node", "left")
                 .crossJoin(F.broadcast(nn))
                 .select("node",
                         (teleport + F.lit(damping)
                          * F.coalesce("s", F.lit(0.0))).alias("r")))
    return ranks


def bipartite_hits(edges: DataFrame, src_col: str, dst_col: str,
                   n_iter: int = 2) -> DataFrame:
    """HITS (Kleinberg, JACM 1999) on a bipartite interaction graph —
    hubs on the ``src`` side, authorities on the ``dst`` side (users ×
    items: the classic co-HITS recommendation primitive; on a directed
    web graph the same recursion ranks pages). ``n_iter`` synchronous
    half-step pairs from the all-ones start, L1-normalizing after each
    half-step.

    Determinism contract (the pagerank rules plus one): neighbor sums
    fold over join-key-sorted struct arrays, and the GLOBAL L1 norm —
    which pagerank avoids via its teleport form but HITS requires —
    closes through the floor-quantize pattern (Σ floor(x·1e12) as
    BIGINT, one double division), so normalization is order-free and
    engine-exact.

    Scale: each half-step is one equi-join of the edge list against a
    score vector + one groupBy — the same shape as a pagerank
    iteration; norms are single-row aggregates broadcast back. Returns
    (kind 'hub'|'authority', node STRING, score)."""
    e = edges.select(F.col(src_col).alias("s"),
                     F.col(dst_col).alias("d")).distinct()
    hubs = e.select(F.col("s").alias("node")).distinct()
    auths = e.select(F.col("d").alias("node")).distinct()

    def _norm(df, col):
        s = df.agg(F.sum(F.floor(F.col(col) * F.lit(1e12))
                         .cast("bigint")).cast("bigint").alias("__S__"))
        return (df.crossJoin(F.broadcast(s))
                .select("node", (F.col(col)
                                 / (F.col("__S__").cast("double")
                                    / F.lit(1e12))).alias(col)))

    h = hubs.select("node", F.lit(1.0).alias("h"))
    a = None
    for _ in range(n_iter):
        a_raw = (e.join(h.withColumnRenamed("node", "s"), "s")
                 .groupBy(F.col("d").alias("node"))
                 .agg(F.aggregate(
                     F.array_sort(F.collect_list(F.struct("s", "h"))),
                     F.lit(0.0), lambda acc, x: acc + x["h"]).alias("a")))
        a = _norm(auths.join(a_raw, "node", "left")
                  .select("node", F.coalesce("a", F.lit(0.0)).alias("a")), "a")
        h_raw = (e.join(a.withColumnRenamed("node", "d"), "d")
                 .groupBy(F.col("s").alias("node"))
                 .agg(F.aggregate(
                     F.array_sort(F.collect_list(F.struct("d", "a"))),
                     F.lit(0.0), lambda acc, x: acc + x["a"]).alias("h")))
        h = _norm(hubs.join(h_raw, "node", "left")
                  .select("node", F.coalesce("h", F.lit(0.0)).alias("h")), "h")
    return (h.select(F.lit("hub").alias("kind"),
                     F.col("node").cast("string").alias("node"),
                     F.col("h").alias("score"))
            .unionByName(a.select(F.lit("authority").alias("kind"),
                                  F.col("node").cast("string").alias("node"),
                                  F.col("a").alias("score"))))
