"""Similarity search over embedding columns (north-star §2.11).

Two paths:

- **Brute-force cosine top-k** — the exactness baseline. Dot products are
  per-row sequential folds over the vector (deterministic IEEE, no Python);
  the only shuffle is the final per-query top-k. O(Q·N) compute but
  embarrassingly parallel: at 100 TB you partition the candidate side and
  let TakeOrderedAndProject do distributed top-k per query.
- **Sign-LSH bucketed ANN** — the scale path: an 8-bit sign pattern over
  fixed dimensions buckets vectors; candidates = same-bucket vectors, so
  search is an equi-join instead of a cross product. Recall is tunable via
  multi-probe (flip one bit); still fully deterministic + oracle-checkable.

All math is done in DOUBLE: the stored vectors are float32, and
float×float in single precision rounds differently than an oracle engine
computing in double — cast first, multiply after.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..staging import is_plan_only, release, stage
from .dedup import FANOUT_BUCKET_LIMIT, bounded_bucket_pairs


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def centroids(df: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label mean vector (the E-step aggregate of k-means, the class
    prototype of a label-balanced dataset audit).

    Plan: posexplode to (label, pos, x) — scan-local — then ONE shuffle on
    (label, pos) for a decimal-sum mean per dimension (order-independent,
    see functions/exact.py), then a cheap (label)-keyed regroup to
    reassemble the array in position order. Dimensions × labels rows in
    the intermediate: tiny at any corpus scale."""
    from ..functions.exact import davg

    ex = df.select(F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "x"))
    per_dim = ex.groupBy(label_col, "pos").agg(davg("x").alias("m"))
    return per_dim.groupBy(label_col).agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m")).alias("centroid"))


def sign_bucket(vec: Column, n_bits: int = 8) -> Column:
    """Sign pattern of the first ``n_bits`` dimensions as a compact string
    bucket key — a degenerate (axis-aligned) random-hyperplane LSH."""
    return F.concat_ws(
        "",
        F.transform(F.slice(vec, 1, n_bits),
                    lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0"))),
    )


def topk_per_query(scored: DataFrame, query_id: str, score: str,
                   tiebreak: str, k: int) -> DataFrame:
    """Deterministic per-query top-k: total order = (score desc, id asc)."""
    w = Window.partitionBy(query_id).orderBy(F.col(score).desc(), F.col(tiebreak).asc())
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def cosine_topk(queries: DataFrame, candidates: DataFrame,
                q_id: str, q_vec: str, c_id: str, c_vec: str, k: int) -> DataFrame:
    """Brute-force cosine top-k of candidates per query vector."""
    scored = (
        queries.crossJoin(candidates)
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("cos", cosine(F.col(q_vec), F.col(c_vec)))
    )
    return topk_per_query(scored, q_id, "cos", c_id, k).select(q_id, c_id, "cos")


def sign_band_keys(vec: Column, n_bits: int = 16,
                   n_bands: int = 4) -> list[Column]:
    """Banded random-hyperplane LSH keys (axis-aligned): band *b* is the
    sign pattern of dimensions [b·n_bits, (b+1)·n_bits). Vectors agreeing
    on ANY band become candidates — the same band-OR construction as the
    MinHash bands in :mod:`ext.dedup`, so bucket count scales as
    2^n_bits PER BAND instead of one fixed 2^8 universe."""
    return [
        F.concat_ws(
            "",
            F.transform(F.slice(vec, b * n_bits + 1, n_bits),
                        lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0"))),
        ).alias(f"band_{b}")
        for b in range(n_bands)
    ]


def sign_band_ints(vec: Column, n_bits: int = 16,
                   n_bands: int = 4) -> list[Column]:
    """Integer twin of :func:`sign_band_keys` for INLINE blocking: band
    *b* packs the sign bits of dimensions [b·n_bits, (b+1)·n_bits) into
    the low bits of a long, with the band's present-dimension COUNT in
    the bits above, so two vectors' int sigs are equal iff their string
    sigs are equal (ragged vectors included: a 2-dim tail must not
    collide with a 16-dim band whose higher signs are all "0" — the
    count term separates them exactly like the string length does).

    Why it exists (r13, guide §4.1/§2.3): the string form is a
    ``concat_ws(transform(slice(...)))`` chain — a higher-order function
    that drops the projection out of whole-stage codegen and builds a
    16-char string per band per row, which then rides the bucket shuffle
    as the groupBy key. The int form is flat bit arithmetic (16
    element_at + conditional adds), stays inside codegen, and shuffles 8
    bytes per band. The PERSISTED band index keeps the string columns —
    that format is frozen on disk; this is for in-query blocking only."""
    out = []
    for b in range(n_bands):
        bits: Column = F.lit(0)
        for j in range(n_bits):
            bits = bits + F.when(
                F.element_at(vec, b * n_bits + j + 1) >= 0,
                F.lit(1 << j)).otherwise(F.lit(0))
        cnt = F.least(F.greatest(F.size(vec) - F.lit(b * n_bits), F.lit(0)),
                      F.lit(n_bits))
        out.append((cnt.cast("long") * F.lit(1 << n_bits).cast("long")
                    + bits.cast("long")).alias(f"band_{b}"))
    return out


def cosine_dedup_pairs(df: DataFrame, id_col: str, vec_col: str,
                       threshold: float = 0.95, n_bits: int = 16,
                       n_bands: int = 4,
                       max_bucket_size: int | None = None,
                       cluster_col: str | None = None,
                       fanout_limit: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold).

    Scale shape (the r2 verdict's fix list, all three applied):

    1. **Exact-vector prepass** — bit-identical vectors (the dominant
       duplicate mode in scraped corpora) are collapsed to one canonical
       row via a structural xxhash64 groupBy BEFORE any pairwise work, so
       K copies cost K rows in one hash-shuffle instead of inflating every
       LSH bucket K× and the pairwise stage K² (the lesson SCALE.md's 100×
       text probe measured). Copy-pairs are reconstructed from the group
       id-lists at the end; the cosine emitted for them is the vector's
       self-cosine computed by the SAME fold as every other pair, so
       values stay bit-identical to an oracle that never deduped.
    2. **Banded sign-LSH** — ``n_bands`` independent ``n_bits``-wide sign
       patterns over disjoint dimension slices (default 4×16 = 64 dims).
       2^16 buckets per band, and bucket population shrinks exponentially
       in n_bits, vs the old single 8-bit key whose ≤256 buckets went
       quadratic on big corpora. Candidates = agree on ≥1 band (recall
       for borderline-τ pairs comes from the band-OR, exactly like
       MinHash banding).
    3. **Bucket cap + single shuffle** — per-band bucket lists are built
       with ONE shuffle on (band_idx, band_sig) and pairs fan out from
       the sorted in-bucket id array (no aliased self-join, mirroring
       dedup.lsh_candidate_pairs); ``max_bucket_size`` drops adversarial
       mega-buckets (boilerplate embeddings) — route those to the exact
       prepass's groups instead, which has already absorbed true copies.

    On a cluster, persist() becomes writing the canonical-vector table
    bucketed by band keys; everything downstream is equi-join-shaped.

    ``cluster_col`` fuses this blocking with a PRE-ASSIGNED partition of
    the corpus (SemDeDup's k-means clusters from :func:`ivf_build`, a
    per-source split, a language shard): the bucket key becomes
    (cluster, band, signature), so candidates must share the cluster AND
    a band. One operator then serves both policies — global banded
    near-dup (``cluster_col=None``) and the within-cluster ε-ball
    refinement of semantic dedup, now with the banding + bucket caps the
    plain cid self-join lacks. The quadratic is confined to
    bucket ∩ cluster, so a mega-cluster no longer degenerates: its
    members still split across 2^n_bits band buckets (measured in
    SCALE.md's 10× rig — pair-bound growth, not cluster²).
    """
    cl = [cluster_col] if cluster_col else []
    # identical vectors always co-assign (deterministic clustering), so
    # grouping by (hash, cluster) only splits hash collisions across
    # clusters — never true copies
    groups = (df.groupBy(F.xxhash64(F.col(vec_col)).alias("__h__"), *cl)
              .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("__ids__"),
                   F.first(F.col(vec_col)).alias("__v0__")))
    canon = stage(groups.select(
        *cl,
        F.element_at("__ids__", 1).alias("__cid__"),
        "__ids__",
        F.transform(F.col("__v0__"), lambda x: x.cast("double")).alias("__v__"),
        norm(F.col("__v0__")).alias("__n__"),
        F.array(*sign_band_ints(F.col("__v0__"), n_bits, n_bands)).alias("__bands__"),
    ), "memory")

    # r13 opt (guide §2.4/§2.3, remove shuffles): three rewrites vs the
    # r2 shape, all blocking-equivalent —
    # 1. a pair agreeing on k bands used to be emitted k times and
    #    collapsed by `.distinct()` (a full Exchange+HashAggregate over
    #    the CANDIDATE set, which at scale is larger than the corpus);
    #    the first-shared-band guard emits each pair exactly once.
    # 2. band sigs are packed longs (sign_band_ints — bijective to the
    #    string keys, see its docstring) instead of 16-char strings:
    #    flat codegen arithmetic, 8-byte shuffle keys.
    # 3. bucket members carry (ids, v, n) THROUGH the bucket shuffle, so
    #    the verify cosine computes inside the fan-out projection — the
    #    two candidate↔canonical shuffle joins (4 Exchanges: cand by
    #    ca, canon, cand-out by cb, canon again) are gone. Cost: vector
    #    bytes ride the bucket exchange n_bands×; saving: the canonical
    #    table no longer shuffles twice and the candidate set — the
    #    LARGEST intermediate in the family — never shuffles at all.
    #    ``max_bucket_size`` bounds per-bucket state exactly as before
    #    (now vectors, not just ids — set it on adversarial corpora).
    banded = canon.select(
        *cl,
        F.struct(F.col("__cid__").alias("id"), F.col("__bands__").alias("bs"),
                 F.col("__ids__").alias("ids"), F.col("__v__").alias("v"),
                 F.col("__n__").alias("n")).alias("m"),
        F.posexplode("__bands__").alias("band_idx", "band_sig"))
    if max_bucket_size is None:
        # r14 (guide §5/§2.5): members carry FULL VECTORS through the
        # bucket shuffle (the r13 verify-join elimination), so an
        # unbounded collect_list here is one aggregation row holding a
        # hot band's whole population of vectors — bounded_bucket_pairs
        # keeps the r13 fast path for normal buckets and routes hot
        # ones to a spillable self-join. banded re-references read the
        # PERSISTED canon, so the three-consumer cost is a cheap
        # re-explode, not a corpus re-scan.
        pair = bounded_bucket_pairs(
            banded, [*cl, "band_idx", "band_sig"],
            fanout_limit or FANOUT_BUCKET_LIMIT).select("band_idx", "p")
        pair = pair.filter(F.array_position(
            F.zip_with("p.a.bs", "p.b.bs", lambda u, v: u == v), F.lit(True))
            == F.col("band_idx").cast("long") + F.lit(1).cast("long"))
    else:
        buckets = (banded.groupBy(*cl, "band_idx", "band_sig")
                   .agg(F.array_sort(F.collect_list("m")).alias("mem"))
                   .filter(F.size("mem") >= 2)
                   .filter(F.size("mem") <= max_bucket_size))
        pair = buckets.select("band_idx", F.explode(F.flatten(F.transform(
            "mem",
            lambda x, i: F.transform(
                F.slice(F.col("mem"), i + F.lit(2), F.size(F.col("mem"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        ))).alias("p"))
        # Capped corpora keep the legacy distinct semantics: a pair
        # whose first-shared-band bucket was dropped by the cap must
        # still surface from a later, smaller shared band — the guard
        # would drop it. Uncapped (every registered query) the guard is
        # exact and the exchange over candidates disappears.
        pair = (pair.withColumn("__ka__", F.col("p.a.id"))
                .withColumn("__kb__", F.col("p.b.id"))
                .dropDuplicates(["__ka__", "__kb__"]))
    cross = (pair
        .withColumn("cos", dot(F.col("p.a.v"), F.col("p.b.v"))
                    / (F.col("p.a.n") * F.col("p.b.n")))
        .filter(F.col("cos") >= threshold)
        .select(F.explode("p.a.ids").alias("x"), F.col("p.b.ids").alias("ids_b"),
                "cos")
        .select("x", F.explode("ids_b").alias("y"), "cos")
        .select(F.least("x", "y").alias("id_a"),
                F.greatest("x", "y").alias("id_b"), "cos"))

    within = (canon.filter(F.size("__ids__") >= 2)
              .withColumn("cos", dot(F.col("__v__"), F.col("__v__"))
                          / (F.col("__n__") * F.col("__n__")))
              .filter(F.col("cos") >= threshold)
              .select(F.explode(F.flatten(F.transform(
                  "__ids__",
                  lambda x, i: F.transform(
                      F.slice(F.col("__ids__"), i + F.lit(2), F.size(F.col("__ids__"))),
                      lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                  ),
              ))).alias("p"), "cos")
              .select("p.id_a", "p.id_b", "cos"))
    return cross.unionByName(within)


def _dvec(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _argmax_centroid(vectors: DataFrame, id_col: str, vec_col: str,
                     centroids: DataFrame) -> DataFrame:
    """Assign each vector to its max-cosine centroid (ties → lowest cid).
    Centroids broadcast — assignment is a map-side cross product, no
    shuffle of the vector table.

    r10 (VERDICT r9 #5): the argmax is a ``max_by`` hash aggregate, not
    a row_number Window — the Window form shuffled AND sorted all
    N·nlist scored rows; max_by partial-aggregates them to one row per
    vector map-side, so the exchange carries N rows whatever nlist is.
    The (cos DESC, cid ASC) order is encoded as max of the struct
    (cos, -cid): identical output values, plan-level change only."""
    scored = (vectors.crossJoin(F.broadcast(centroids))
              .withColumn("__cos__", dot(F.col(vec_col), F.col("cvec"))
                          / (norm(F.col(vec_col)) * norm(F.col("cvec")))))
    return (scored.groupBy(id_col)
            .agg(F.max_by(F.struct(F.col(vec_col), F.col("cid")),
                          F.struct(F.col("__cos__"), -F.col("cid")))
                 .alias("__a__"))
            .select(id_col, F.col(f"__a__.{vec_col}").alias(vec_col),
                    F.col("__a__.cid").alias("cid")))


# Below this centroid count the flat cross product is cheap and exact;
# at the √N "auto" widths the two-level pruned quantizer caps per-vector
# comparisons at ~2·√nlist instead of nlist.
_TWO_LEVEL_MIN = 64


def _super_quantizer(cent: DataFrame,
                     n_super: int) -> tuple[DataFrame, DataFrame]:
    """Coarse quantizer OVER the centroid table: ~√nlist super-centroids
    (one deterministic Lloyd step, lowest-cid seeds, the ivf_build
    floor-quantized mean) plus the child map. Centroid-table-sized work
    — never touches the vector corpus."""
    m = cent.select(F.col("cid").alias("__mid__"),
                    F.col("cvec").alias("__mvec__"))
    seed = (m.orderBy("__mid__").limit(n_super)
            .select(F.col("__mid__").alias("cid"),
                    F.col("__mvec__").alias("cvec")))
    a = _argmax_centroid(m, "__mid__", "__mvec__", seed)
    sup = (a.select(F.col("cid").alias("sid"),
                    F.posexplode("__mvec__").alias("__i__", "__x__"))
           .groupBy("sid", "__i__")
           .agg((F.sum(F.floor(F.col("__x__") * F.lit(1000000000.0))
                       .cast("bigint")).cast("double")
                 / (F.count("__x__") * F.lit(1000000000.0))).alias("__m__"))
           .groupBy("sid")
           .agg(F.array_sort(F.collect_list(F.struct("__i__", "__m__")))
                .alias("__s__"))
           .select("sid", F.col("__s__.__m__").alias("svec")))
    child = a.select(F.col("__mid__").alias("cid"), F.col("cid").alias("sid"))
    return sup, child


def _argmax_centroid_pruned(vectors: DataFrame, id_col: str, vec_col: str,
                            cent: DataFrame, nlist: int) -> DataFrame:
    """Two-level assignment for WIDE centroid tables (the √N ``auto``
    regime, VERDICT r9 #5): route each vector to its best super-centroid
    (√nlist comparisons), then argmax over only that super's children
    (~√nlist more) — O(N·√nlist·dim) instead of O(N·nlist·dim).
    Deterministic but PRUNED: a vector whose true-best centroid lives
    under an unprobed super lands one cluster over — a valid quantizer
    still (SemDeDup needs balanced clusters, not exact Lloyd), used only
    behind corpus-derived knobs that are rows-only registered, never
    under an exact-value oracle (those pin nlist ≤ 16 and take the flat
    exact path)."""
    import math

    sup, child = _super_quantizer(cent, max(2, math.isqrt(int(nlist))))
    vs = _argmax_centroid(vectors, id_col, vec_col,
                          sup.select(F.col("sid").alias("cid"),
                                     F.col("svec").alias("cvec")))
    vs = vs.select(id_col, vec_col, F.col("cid").alias("sid"))
    scored = (vs.join(F.broadcast(child), "sid")
              .join(F.broadcast(cent), "cid")
              .withColumn("__cos__", dot(F.col(vec_col), F.col("cvec"))
                          / (norm(F.col(vec_col)) * norm(F.col("cvec")))))
    return (scored.groupBy(id_col)
            .agg(F.max_by(F.struct(F.col(vec_col), F.col("cid")),
                          F.struct(F.col("__cos__"), -F.col("cid")))
                 .alias("__a__"))
            .select(id_col, F.col(f"__a__.{vec_col}").alias(vec_col),
                    F.col("__a__.cid").alias("cid")))


def ivf_build(df: DataFrame, id_col: str, vec_col: str,
              nlist: int = 16, n_iter: int = 2,
              two_level: bool = False) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: k-means (Lloyd) with DETERMINISTIC seeding —
    the ``nlist`` lowest-id vectors — and per-dimension floor-quantized
    integer-sum means (no decimal tie rule; deterministic on every engine), so index construction is reproducible across partitionings and
    engines (the DuckDB oracle unrolls the same iterations as CTEs).

    Returns (centroids[cid, cvec], assignment[id, vec, cid]). Per
    iteration: broadcast-centroid argmax assignment (map-side), then
    posexplode → groupBy(cid, dim) mean → collect back in dim order —
    the explode+agg form, NOT per-dim expressions under one Generate
    (no CSE there, see dedup.minhash_table).

    At 100 TB: assignment stays map-side (centroid table is tiny);
    the mean shuffle carries nlist×dim rows. Write the assignment out
    partitioned by cid — queries then read only probed clusters
    (partition pruning does the inverted-file part)."""
    v = df.select(F.col(id_col), _dvec(F.col(vec_col)).alias("__v__"))
    centroids = (v.orderBy(id_col).limit(nlist)
                 .select(F.col(id_col).alias("cid"), F.col("__v__").alias("cvec")))
    # two_level: √nlist super-quantizer pruning for √N-wide centroid
    # tables (VERDICT r9 #5) — only behind rows-only corpus knobs
    pruned = two_level and nlist >= _TWO_LEVEL_MIN

    pin = None
    for i in range(n_iter + 1):
        if pruned:
            # PIN the centroid frontier before the pruned assignment:
            # the two-level path references it several times per
            # iteration (super seeds, super assignment, child map, the
            # final broadcast) and Catalyst plans each reference's tree
            # independently — unpinned, every reference re-runs the
            # whole upstream Lloyd chain and the recompute compounds
            # per iteration (measured 18.2s vs 3.9s fixed at the 10×
            # rig). Only the next round reads a pin, so each round
            # releases its predecessor's. The flat path references the
            # centroids once, so it stays lazy (and plan-only probes
            # never pin: pruned is False under explain).
            centroids = stage(centroids, "checkpoint")
            if pin is not None:
                release(pin)
            pin = centroids
            assign = _argmax_centroid_pruned(v, id_col, "__v__", centroids,
                                             nlist)
        else:
            assign = _argmax_centroid(v, id_col, "__v__", centroids)
        if i == n_iter:
            return centroids, assign
        # Per-dimension mean via FLOOR-quantized integer sums, not a
        # decimal cast: double→decimal rounding has a tie rule (Spark
        # HALF_UP vs DuckDB) and a real tie surfaced at sf0.1 — one
        # addend off by 1e-9 moved a centroid dimension by 1e-9/n and
        # broke the first query to EMIT centroid cosines
        # (sim_cluster_outliers). floor(x·1e9) is a pure function of the
        # double with no tie rule; sums are exact bigints; the closing
        # division is one IEEE op — deterministic on every engine.
        centroids = (
            assign.select("cid", F.posexplode("__v__").alias("__i__", "__x__"))
            .groupBy("cid", "__i__")
            .agg((F.sum(F.floor(F.col("__x__") * F.lit(1000000000.0))
                        .cast("bigint")).cast("double")
                  / (F.count("__x__") * F.lit(1000000000.0))).alias("__m__"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("__i__", "__m__"))).alias("__s__"))
            .select("cid", F.col("__s__.__m__").alias("cvec"))
        )


def ivf_topk(queries: DataFrame, centroids: DataFrame, assign: DataFrame,
             q_id: str, q_vec: str, id_col: str,
             k: int = 3, nprobe: int = 2) -> DataFrame:
    """IVF search: rank centroids per query, take ``nprobe``, equi-join
    candidates on cluster id, exact cosine + deterministic top-k. The
    all-pairs product never materializes — candidate volume is
    nprobe/nlist of the corpus per query."""
    q = queries.select(F.col(q_id), _dvec(F.col(q_vec)).alias("__qv__"))
    pw = Window.partitionBy(q_id).orderBy(
        F.col("__pcos__").desc(), F.col("cid").asc())
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("__pcos__", dot(F.col("__qv__"), F.col("cvec"))
                    / (norm(F.col("__qv__")) * norm(F.col("cvec"))))
        .withColumn("__rn__", F.row_number().over(pw))
        .filter(F.col("__rn__") <= nprobe)
        .select(q_id, "__qv__", "cid")
    )
    scored = (
        probes.join(assign, "cid")
        .filter(F.col(q_id) != F.col(id_col))
        .withColumn("cos", dot(F.col("__qv__"), F.col("__v__"))
                    / (norm(F.col("__qv__")) * norm(F.col("__v__"))))
    )
    return topk_per_query(scored, q_id, "cos", id_col, k).select(q_id, id_col, "cos")


def probe_buckets(vec: Column, n_bits: int = 8) -> Column:
    """Multi-probe bucket list: the vector's own sign bucket plus each
    one-bit flip — the standard LSH recall lever. A near-neighbor differs
    from the query's bucket in at most a few signs, and single-bit probes
    recover exactly the pairs that straddle ONE hyperplane (the dominant
    miss mode at high cosine)."""

    def bucket_with_flip(flip_idx: int | None) -> Column:
        chars = [
            F.when(F.element_at(vec, j + 1) >= 0,
                   F.lit("0" if j == flip_idx else "1"))
            .otherwise(F.lit("1" if j == flip_idx else "0"))
            for j in range(n_bits)
        ]
        return F.concat(*chars)

    return F.array(bucket_with_flip(None),
                   *[bucket_with_flip(i) for i in range(n_bits)])


def auto_sign_bits(candidates: DataFrame, vec_col: str,
                   target_bucket: int = 64, min_bits: int = 4) -> int:
    """Corpus-adaptive sign-LSH width: ``ceil(log2(n / target_bucket))``
    bits, clamped to [min_bits, vector dimension] — expected bucket
    occupancy stays ~``target_bucket`` as the corpus grows.

    This is the knob the sf1 rig showed MUST scale: at fixed bits, 10×
    vectors mean 10× occupancy per bucket, and with a query set that
    also grows with the corpus the candidate join volume goes ×100
    (BASELINE.md r8-sf1 adjudication of sim_ann_multiprobe_bulk).
    Auto-width restores ~linear candidate volume: buckets track n, the
    per-query probe fan-out grows only as log n. Costs one count() at
    plan-construction time (driver-scalar, the _observed_parts pattern);
    recall at a given cosine threshold decreases slowly with width —
    single-bit multi-probe recovers the dominant one-hyperplane misses,
    and the recall-audit queries measure the rest per corpus."""
    import math

    n = candidates.count()
    first = candidates.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = int(first["d"]) if first and first["d"] is not None else min_bits
    bits = max(min_bits, math.ceil(math.log2(max(2.0, n / target_bucket))))
    return min(bits, dim)


def _resolve_bits(n_bits, candidates: DataFrame, vec_col: str) -> int:
    if n_bits == "auto":
        if is_plan_only():
            # explain contract: "analyze + optimize, execute NOTHING" —
            # auto-width costs a count() + first() over the candidate
            # table, so plan-only probes get a fixed representative
            # width instead (same guard as _observed_parts and the
            # prefix-filter family's checkpoint).
            return 8
        return auto_sign_bits(candidates, vec_col)
    return int(n_bits)


def ann_multiprobe_topk(queries: DataFrame, candidates: DataFrame,
                        q_id: str, q_vec: str, c_id: str, c_vec: str,
                        k: int, n_bits: int | str = 8) -> DataFrame:
    """Sign-LSH ANN with single-bit multi-probe: each query searches its
    own bucket plus the ``n_bits`` one-flip neighbors. Probe fan-out
    multiplies only the QUERY side (n_bits+1 rows per query); the
    candidate table still shuffles once on its single bucket key, so the
    plan stays an equi-join — recall rises without touching the corpus
    side. Probe buckets are pairwise distinct and each candidate lives in
    exactly one bucket, so no pair dedup is needed.

    ``n_bits="auto"`` picks the width from the candidate count
    (:func:`auto_sign_bits`) so bucket occupancy — and with it the
    candidate join volume — stays bounded as the corpus grows."""
    n_bits = _resolve_bits(n_bits, candidates, c_vec)
    qb = queries.select(
        F.col(q_id), F.col(q_vec),
        F.explode(probe_buckets(F.col(q_vec), n_bits)).alias("__bucket__"))
    cb = candidates.withColumn("__bucket__", sign_bucket(F.col(c_vec), n_bits))
    scored = (
        qb.join(cb, "__bucket__")
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("cos", cosine(F.col(q_vec), F.col(c_vec)))
    )
    return topk_per_query(scored, q_id, "cos", c_id, k).select(q_id, c_id, "cos")


def ann_sign_lsh_topk(queries: DataFrame, candidates: DataFrame,
                      q_id: str, q_vec: str, c_id: str, c_vec: str,
                      k: int, n_bits: int | str = 8) -> DataFrame:
    """Bucketed ANN: candidates sharing the query's sign bucket, then
    exact cosine + top-k within the bucket. ``n_bits="auto"`` scales the
    width with the corpus (:func:`auto_sign_bits`)."""
    n_bits = _resolve_bits(n_bits, candidates, c_vec)
    qb = queries.withColumn("__bucket__", sign_bucket(F.col(q_vec), n_bits))
    cb = candidates.withColumn("__bucket__", sign_bucket(F.col(c_vec), n_bits))
    scored = (
        qb.join(cb, "__bucket__")
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("cos", cosine(F.col(q_vec), F.col(c_vec)))
    )
    return topk_per_query(scored, q_id, "cos", c_id, k).select(q_id, c_id, "cos")


def exact_vector_dedup_groups(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Bit-identical-vector dedup groups: (vec_hash, canonical_id,
    n_copies). The vector twin of text exact-dedup — and the prepass that
    keeps :func:`cosine_dedup_pairs` O(unique content): identical vectors
    share every sign bucket, so K copies inflate every bucket K× and the
    pairwise stage K²× (measured on the 10× replicated corpus — see
    SCALE.md). xxhash64 hashes the float array structurally (JVM-side,
    no serialization round-trip); library-level only, no oracle pairing
    needed — the paired query operates on canonical vectors.
    """
    return (df.groupBy(F.xxhash64(F.col(vec_col)).alias("vec_hash"))
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def canonical_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Rows whose id is its duplicate-group canonical (lowest id per
    bit-identical vector) — run pairwise similarity on THIS frame."""
    groups = exact_vector_dedup_groups(df, id_col, vec_col)
    return df.join(groups.select(F.col("canonical_id").alias(id_col)),
                   id_col, "left_semi")


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str,
                   nlist: int | str = 16, n_iter: int = 2,
                   threshold: float = 0.995) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): k-means the
    embedding space, then within each cluster drop members whose cosine
    to the cluster REPRESENTATIVE (the centroid-closest member, ties →
    lowest id) clears ``threshold``.

    Anchoring comparisons at one representative per cluster keeps the
    work O(N) — the full SemDeDup ε-ball sweep is O(Σ cluster²), and the
    paper itself notes most removed pairs share the densest point. The
    O(cluster²) refinement, if wanted, is :func:`cosine_dedup_pairs`
    run per-cluster.

    Scale: reuses :func:`ivf_build` (broadcast-centroid assignment, no
    vector-table shuffle); representative selection is one max_by agg
    over cid (nlist rows out, broadcast back). ``nlist="auto"`` picks
    ≈√N clusters (the SemDeDup contract) from one count().

    Auto-vs-fixed adjudication (r11, measure_semantic_crossover): on
    CLUSTERING ALONE the √N path has NOT crossed below fixed-16 at any
    measured size — 2.14× at 20k, 2.47× at 80k, 1.48× at 200k vectors
    (the ratio bends down past the constant-bound regime but stays
    >1). √N-clustering-is-cheaper remains UNPROVEN below N≈10⁶; the
    default therefore stays fixed nlist=16, and auto's justification
    remains the REFINEMENT stage — fixed nlist means cluster sizes
    grow with N and the within-cluster O(Σ cluster²) pair work grows
    ×(N/nlist); √N keeps both cluster size and count at √N (the r8
    composed-query evidence, where auto beat fixed end-to-end).

    Returns (id, cid, rep_id, cos_rep, keep)."""
    two_level = False
    if nlist == "auto":
        import math

        # same explain-contract guard as _resolve_bits: the √N probe is
        # a full count() — plan-only gets a fixed representative nlist.
        nlist = 16 if is_plan_only() else max(2, int(math.isqrt(df.count())))
        # √N-wide assignment is O(N·nlist·dim) flat — the r9 measurement
        # priced auto at 2.3× fixed-16 on clustering alone; the pruned
        # two-level quantizer (√nlist supers) is what makes √N usable
        # (VERDICT r9 #5). Only the auto form takes it: fixed-nlist
        # callers are oracle-paired to exact Lloyd.
        two_level = True
    cent, assign = ivf_build(df, id_col, vec_col, nlist=nlist,
                             n_iter=n_iter, two_level=two_level)
    withc = (assign.join(F.broadcast(cent), "cid")
             .withColumn("__ccos__", cosine(F.col("__v__"), F.col("cvec"))))
    reps = (withc.groupBy("cid")
            .agg(F.max_by(F.struct(F.col(id_col).alias("rep_id"),
                                   F.col("__v__").alias("rep_vec")),
                          F.struct(F.col("__ccos__"), -F.col(id_col)))
                 .alias("__r__"))
            .select("cid", "__r__.rep_id", "__r__.rep_vec"))
    return (withc.join(F.broadcast(reps), "cid")
            .withColumn("cos_rep", cosine(F.col("__v__"), F.col("rep_vec")))
            .select(F.col(id_col), F.col("cid"), F.col("rep_id"),
                    F.col("cos_rep"),
                    ((F.col(id_col) == F.col("rep_id"))
                     | (F.col("cos_rep") < threshold)).alias("keep")))


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 scalar quantization:
    struct(scale double, q array<int>) with q_i = round(x_i / scale),
    scale = max|x| / 127.

    The 100 TB ANN lever: a float32 embedding table shrinks 4× (the
    candidate side of every similarity join shrinks with it), and
    quantized DOT PRODUCTS become exact integer arithmetic — quantized
    cosine is int_dot / (sqrt(int_dot_aa) · sqrt(int_dot_bb)), where the
    two scales cancel, so scores are bit-deterministic across engines and
    partitionings (no float-accumulation order sensitivity at all).
    Rounding is floor(x/scale + 0.5) — identical IEEE ops on both engines,
    vs round() whose half-case rule differs between them. A zero vector
    quantizes to scale 0, all-zero codes."""
    dv = F.transform(vec, lambda x: x.cast("double"))
    mx = F.array_max(F.transform(dv, lambda x: F.abs(x)))
    scale = mx / F.lit(127.0)
    q = F.when(mx > 0, F.transform(
        dv, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    ).otherwise(F.transform(dv, lambda x: F.lit(0)))
    return F.struct(scale.alias("scale"), q.alias("q"))


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int8-code arrays."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
                       F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def quantized_cosine(qa: Column, qb: Column) -> Column:
    """Cosine of two quantized vectors — scales cancel, so this is pure
    integer dots + two sqrt + one division: bit-deterministic."""
    return (int_dot(qa, qb).cast("double")
            / (F.sqrt(int_dot(qa, qa).cast("double"))
               * F.sqrt(int_dot(qb, qb).cast("double"))))


# --- persisted embedding index (quantized codes + band keys) -------------

def band_index_rows(df: DataFrame, id_col: str, vec_col: str,
                    n_bits: int = 16, n_bands: int = 4) -> DataFrame:
    """One index row per vector: id, int8 codes (+scale), float-sign band
    keys. ~vector/4 bytes per row — the embedding analog of the minhash
    signature table (ext/dedup_index.py): everything pairwise downstream
    reads THIS, never the float table. Band keys come from the ORIGINAL
    float signs, so index blocking is identical to the float pipeline's;
    scores come from the codes, so they are bit-deterministic."""
    qz = quantize_int8(F.col(vec_col))
    return df.select(
        F.col(id_col).alias("id"),
        qz["scale"].alias("scale"),
        qz["q"].alias("q"),
        *sign_band_keys(F.col(vec_col), n_bits, n_bands))


def build_band_index(df: DataFrame, id_col: str, vec_col: str, path: str,
                     n_bits: int = 16, n_bands: int = 4) -> None:
    band_index_rows(df, id_col, vec_col, n_bits, n_bands) \
        .write.mode("overwrite").parquet(path)


def append_to_band_index(df_new: DataFrame, id_col: str, vec_col: str,
                         path: str, n_bits: int = 16, n_bands: int = 4) -> None:
    """Incremental maintenance: new vectors append their own rows —
    scan-local, no touch of the historical index. Quantization and band
    keys are pure functions of the vector, so at-least-once replay writes
    bit-identical rows that the id-dedupe on read collapses."""
    band_index_rows(df_new, id_col, vec_col, n_bits, n_bands) \
        .write.mode("append").parquet(path)


def read_band_index(spark, path: str) -> DataFrame:
    from pyspark.sql import SparkSession  # noqa: F401  (typing only)

    return spark.read.parquet(path)


def pairs_from_band_index(spark, path: str, threshold: float = 0.95,
                          n_bands: int = 4,
                          max_bucket_size: int | None = None,
                          fanout_limit: int | None = None) -> DataFrame:
    """Near-dup pairs answered from the INDEX alone (id_a < id_b,
    quantized cosine ≥ threshold): band-bucket candidate fan-out (one
    shuffle, same construction as cosine_dedup_pairs) + integer-dot
    verify. dropDuplicates(id) first makes replayed appends harmless.

    Identical-CODE prepass (the quantized twin of cosine_dedup_pairs'
    exact-vector prepass, same K-copies-inflate-buckets-K× rationale —
    SCALE.md): rows sharing a code array collapse to one canonical id
    BEFORE the fan-out, carrying the UNION of the group's band keys
    (vectors with equal codes can disagree on a float sign where a tiny
    value rounds to 0, so bands are unioned, not taken from the
    canonical). Within-group pairs are emitted with
    quantized_cosine(q, q) — the identical expression the verify stage
    (and the oracle) computes for equal codes — so the collapse is
    invisible in the result."""
    idx = read_band_index(spark, path).dropDuplicates(["id"])
    bands_arr = F.array(*[
        F.struct(F.lit(b).alias("band_idx"),
                 F.col(f"band_{b}").alias("band_sig"))
        for b in range(n_bands)])
    groups = (idx.select(F.xxhash64("q").alias("__h__"), "id", "q",
                         bands_arr.alias("__bs__"))
              .groupBy("__h__")
              .agg(F.array_sort(F.collect_list("id")).alias("__ids__"),
                   F.first("q").alias("q"),
                   F.array_distinct(F.flatten(
                       F.collect_list("__bs__"))).alias("__bands__")))
    canon = stage(groups.select(
        F.element_at("__ids__", 1).alias("__cid__"), "__ids__", "q",
        F.array_sort("__bands__").alias("__bands__")), "memory")

    # r13 opt (guide §2.4, same rewrites as cosine_dedup_pairs): the
    # `.distinct()` over candidates was a full extra exchange; the
    # first-shared-band guard emits each pair once instead. Here a
    # canonical's band set is the UNION over its group (multiple sigs
    # per band_idx possible), so "first shared band" = the first
    # element of the intersection of the two SORTED band-set arrays
    # (array_sort above makes the order deterministic; array_intersect
    # keeps left-array order) — emitted only from that bucket. Bucket
    # members also carry (ids, q) through the bucket shuffle so the
    # quantized-cosine verify computes inside the fan-out — the two
    # candidate↔canonical shuffle joins are gone; the candidate set
    # (the largest intermediate) never shuffles. Band sigs stay the
    # persisted STRING columns — the on-disk index format is frozen.
    banded = canon.select(
        F.struct(F.col("__cid__").alias("id"), F.col("__bands__").alias("bs"),
                 F.col("__ids__").alias("ids"), F.col("q").alias("q")).alias("m"),
        F.explode("__bands__").alias("b")) \
        .select("m", "b.band_idx", "b.band_sig")
    if max_bucket_size is None:
        # r14 bounded fan-out — same rationale as cosine_dedup_pairs:
        # members carry (ids, codes) through the bucket shuffle; canon
        # is persisted so the helper's re-references are cheap.
        pair = bounded_bucket_pairs(banded, ["band_idx", "band_sig"],
                                    fanout_limit or FANOUT_BUCKET_LIMIT)
        pair = pair.filter(
            F.element_at(F.array_intersect("p.a.bs", "p.b.bs"), 1)
            == F.struct(F.col("band_idx"), F.col("band_sig")))
    else:
        buckets = (banded.groupBy("band_idx", "band_sig")
                   .agg(F.array_sort(F.collect_list("m")).alias("mem"))
                   .filter(F.size("mem") >= 2)
                   .filter(F.size("mem") <= max_bucket_size))
        pair = buckets.select(
            "band_idx", "band_sig",
            F.explode(F.flatten(F.transform(
                "mem",
                lambda x, i: F.transform(
                    F.slice(F.col("mem"), i + F.lit(2), F.size(F.col("mem"))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            ))).alias("p"))
        # legacy distinct under a bucket cap — same rationale as
        # cosine_dedup_pairs: the cap contract lets a pair surface from
        # a later surviving shared band.
        pair = (pair.withColumn("__ka__", F.col("p.a.id"))
                .withColumn("__kb__", F.col("p.b.id"))
                .dropDuplicates(["__ka__", "__kb__"]))
    cross = (pair
        .withColumn("qcos", quantized_cosine(F.col("p.a.q"), F.col("p.b.q")))
        .filter(F.col("qcos") >= threshold)
        .select(F.explode("p.a.ids").alias("x"), F.col("p.b.ids").alias("ids_b"),
                "qcos")
        .select("x", F.explode("ids_b").alias("y"), "qcos")
        .select(F.least("x", "y").alias("id_a"),
                F.greatest("x", "y").alias("id_b"), "qcos"))
    within = (canon.filter(F.size("__ids__") >= 2)
              .withColumn("qcos", quantized_cosine(F.col("q"), F.col("q")))
              .filter(F.col("qcos") >= threshold)
              .select(F.explode(F.flatten(F.transform(
                  "__ids__",
                  lambda x, i: F.transform(
                      F.slice(F.col("__ids__"), i + F.lit(2),
                              F.size(F.col("__ids__"))),
                      lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                  ),
              ))).alias("p"), "qcos")
              .select("p.id_a", "p.id_b", "qcos"))
    return cross.unionByName(within)


def knn_graph(df: DataFrame, id_col: str, vec_col: str,
              k: int = 3, nlist: int = 8, n_iter: int = 2) -> DataFrame:
    """k-nearest-neighbor graph over an embedding corpus, cluster-
    confined: every vector gets its exact top-``k`` cosine neighbors
    WITHIN its IVF cluster (the deterministic :func:`ivf_build`
    k-means). The standard substrate for graph-based semantic analysis
    — connected-component topic grouping, kNN-density outlier scores,
    label propagation — and the offline half of HNSW-style index
    builders.

    Approximation contract: like IVF search with nprobe=1, neighbors
    across a cluster boundary are missed; the SemDeDup literature
    (Abbas et al. 2023) accepts exactly this trade for corpus-scale
    grouping. Recall lever = larger clusters (smaller ``nlist``).

    Scale: the quadratic pair space is confined per cluster — the
    self-join is an equi-join on cid, so candidate volume is
    Σ|cluster|², not |corpus|². ``nlist`` must GROW with the corpus
    (target |cluster| ≈ a few thousand: at 100 TB, nlist ~ N/4096),
    which simultaneously bounds per-task memory and keeps shuffle
    parallelism ≥ nlist. The assignment is persisted before the
    self-join so k-means doesn't run twice (both join sides read one
    materialization; write-out partitioned by cid in a real pipeline).
    """
    _, assign = ivf_build(df, id_col, vec_col, nlist, n_iter)
    assign = stage(assign, "memory")
    a = assign.select("cid", F.col(id_col).alias("src"),
                      F.col("__v__").alias("__sv__"))
    b = assign.select("cid", F.col(id_col).alias("dst"),
                      F.col("__v__").alias("__dv__"))
    scored = (a.join(b, "cid")
              .filter(F.col("src") != F.col("dst"))
              .withColumn("cos", dot(F.col("__sv__"), F.col("__dv__"))
                          / (norm(F.col("__sv__")) * norm(F.col("__dv__")))))
    return (topk_per_query(scored, "src", "cos", "dst", k)
            .select("src", "dst", "cos"))


def top_component(df: DataFrame, id_col: str, vec_col: str,
                  n_iter: int = 3) -> DataFrame:
    """Dominant principal direction of the (uncentered) second-moment
    matrix XᵀX by power iteration — the representation-collapse axis
    (pair with :func:`anisotropy` for the MEAN direction; together they
    answer "is the embedding space degenerating onto one line?").

    Determinism contract (the HITS rules applied to linear algebra):
    per-row dot products are sequential in-array folds; the global
    per-dimension accumulation Σᵢ xᵢⱼ·(xᵢ·v) closes through the
    floor-quantize pattern (Σ floor(x·dp·1e9) as BIGINT, one double
    division — order-free on any partitioning); the L2 normalization
    folds over the POSITION-ORDERED 64-term array (same order as the
    oracle's list_sum); the seed is the lowest-id vector normalized (no
    randomness, sign pinned). Every emitted value is engine-exact.

    Scale: each iteration is one broadcast of the current direction
    (dim-sized) against the corpus — scan-local scoring — plus one
    (pos)-keyed shuffle of dim rows. Vectors never shuffle. The BIGINT
    quantized sums bound the corpus at ~1e6 rows per unit |x·dp| at the
    1e9 scale; widen to decimal(38,0) sums past that (same pattern,
    see functions/exact.py).

    Returns a 1-row frame (vt array<double>, lam double) — ``lam`` is
    ‖(XᵀX)v‖ at the last step, the eigenvalue estimate.
    """
    v = df.select(F.col(id_col).alias("__id__"),
                  _dvec(F.col(vec_col)).alias("__v__"))
    return _power_direction(v, n_iter)


def _power_direction(v: DataFrame, n_iter: int) -> DataFrame:
    """Power-iteration core over a (__id__, __v__) frame — shared by
    top_component and the deflated spectral profile; see top_component
    for the determinism contract."""
    seed = (v.orderBy("__id__").limit(1)
            .withColumn("__n__", norm(F.col("__v__")))
            .select(F.transform("__v__",
                                lambda x: x / F.col("__n__")).alias("vt"),
                    F.lit(0.0).alias("lam")))
    vt = seed
    for _ in range(n_iter):
        d = (v.crossJoin(F.broadcast(vt.select("vt")))
             .withColumn("__dp__", dot(F.col("__v__"), F.col("vt"))))
        w = (d.select("__dp__", F.posexplode("__v__").alias("pos", "x"))
             .groupBy("pos")
             .agg((F.sum(F.floor(F.col("x") * F.col("__dp__") * F.lit(1e9))
                         .cast("bigint")).cast("double")
                   / F.lit(1e9)).alias("w")))
        wa = (w.groupBy()
              .agg(F.array_sort(F.collect_list(F.struct("pos", "w")))
                   .alias("__s__"))
              .select(F.col("__s__.w").alias("wv")))
        vt = (wa.withColumn("__n__", norm(F.col("wv")))
              .select(F.transform("wv",
                                  lambda x: x / F.col("__n__")).alias("vt"),
                      F.col("__n__").alias("lam")))
    return vt


def spectral_profile(df: DataFrame, id_col: str, vec_col: str,
                     n_components: int = 2, n_iter: int = 3) -> DataFrame:
    """Leading eigenvalues of the uncentered second moment by DEFLATED
    power iteration — the spectral-concentration diagnostic (λ2/λ1 near
    1 = an isotropic-ish top subspace; λ2/λ1 near 0 = rank-1 collapse;
    complements top_component, which emits the direction itself).

    Deflation is scan-local exact arithmetic: after extracting v, each
    row becomes x − (x·v)·v (a sequential-fold dot, then one multiply
    and one subtract per element — no accumulation), and the next
    component runs on the deflated corpus. Component directions are
    broadcast (dim-sized); vectors never shuffle.

    Returns (comp bigint [1-based], lam double, lam_ratio double =
    lam/lam_1)."""
    v = df.select(F.col(id_col).alias("__id__"),
                  _dvec(F.col(vec_col)).alias("__v__"))
    comps = []
    for c in range(n_components):
        vt = _power_direction(v, n_iter)
        comps.append(vt.select(F.lit(c + 1).cast("bigint").alias("comp"),
                               F.col("lam")))
        if c + 1 < n_components:
            v = (v.crossJoin(F.broadcast(vt.select("vt")))
                 .withColumn("__dp__", dot(F.col("__v__"), F.col("vt")))
                 .select("__id__",
                         F.zip_with(
                             "__v__", "vt",
                             lambda x, w: x - F.col("__dp__") * w)
                         .alias("__v__")))
    out = comps[0]
    for c in comps[1:]:
        out = out.unionByName(c)
    first = comps[0].select(F.col("lam").alias("__l1__"))
    return (out.crossJoin(F.broadcast(first))
            .select("comp", "lam",
                    (F.col("lam") / F.col("__l1__")).alias("lam_ratio")))
