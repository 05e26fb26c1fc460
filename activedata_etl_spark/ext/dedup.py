"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of these at 100 TB):

- exact: hash-groupBy on a 128-bit fingerprint — one shuffle of (hash, id),
  never of document bodies.
- near-dup: never all-pairs. MinHash signatures are computed scan-local;
  LSH bands turn similarity search into an equi-join on (band, signature),
  so candidate generation is an ordinary shuffle join Catalyst/AQE can
  plan (including skew splitting for hot buckets). Exact Jaccard runs
  only on band-collided candidates.
- hashes are md5-based (not xxhash64) so every stage is reproducible
  bit-for-bit by any engine — the same property that makes the pipeline's
  incremental re-runs idempotent.

MinHash here uses the min-of-keyed-md5-STRING construction: for seed i,
h_i(doc) = min over shingles of md5(i || ':' || shingle). A hash-ordered
min is a uniform random permutation minimum, which is exactly the MinHash
estimator; strings avoid hex→int conversions that not every engine has.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..staging import release, stage
from .text import fingerprint, shingles, tokens


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical (normalized) documents: canonical = min id.
    Output one row per distinct content with its duplicate count."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _staged_elems(df: DataFrame, text_col: str, shingle_n: int | None,
                  keep: list[Column]):
    """Materialize the token array in its own projection BEFORE the
    shingle/element expression (r13, guide §4.1 — tokenize once).

    ``shingles(tokens(x), n)`` inlined under a Generate re-embeds the
    tokenizer regex in every shifted slice (~n+4 copies per row), and
    generator input gets no subexpression elimination — the same blowup
    class minhash_signature's docstring records for banding. Staging
    ``tokens`` as its own column runs the regex once per row; the
    n-gram slices then reference the materialized array (CollapseProject
    keeps the stages apart: the alias is non-cheap and multiply
    referenced). Returns (staged_df, elems_column); values identical.
    """
    staged = df.select(*keep, tokens(text_col).alias("__tk0__"))
    col = (shingles(F.col("__tk0__"), shingle_n) if shingle_n
           else F.array_distinct(F.col("__tk0__")))
    return staged, col


def _seeded_md5(seed: int):
    # NB: the lambda must be unary — a second parameter would make
    # F.transform pass the array index into it.
    prefix = f"{seed}:"
    return lambda s: F.md5(F.concat(F.lit(prefix), s))


def minhash_signature(toks: Column, n_hashes: int = 16, shingle_n: int = 3) -> Column:
    """Array of n MinHash values (md5-string minima) per document.

    Expression form — fine for one-off projection. For anything feeding a
    join use :func:`minhash_table`: expressions inlined under a Generate
    node get NO common-subexpression elimination, so banding this array
    recomputes the whole shingle pipeline once per band per hash
    (measured 64× blowup at sf0.1).
    """
    sh = shingles(toks, shingle_n)
    return F.array(*[
        F.array_min(F.transform(sh, _seeded_md5(i))) for i in range(n_hashes)
    ])


def shingle_table(df: DataFrame, id_col: str, text_col: str,
                  shingle_n: int = 3) -> DataFrame:
    """(id, shingle) rows, hash-partitioned by id.

    The repartition matters twice: it spreads the md5/shingle compute
    across all cores even when the source is a single small file, and it
    pre-partitions on the id so the downstream signature groupBy needs no
    second shuffle (Exchange reuse). The rows are :func:`shingle_rows_sql`
    over ``df``."""
    return df.sparkSession.sql(
        shingle_rows_sql(id_col, text_col, shingle_n,
                         df.sparkSession.sparkContext.defaultParallelism),
        df=df)


def shingle_rows_sql(id_col: str, text_col: str, shingle_n: int | None,
                     parallelism: int) -> str:
    """The :func:`shingle_table` rows as SQL over a ``{df}`` argument of
    ``spark.sql``, for callers that build a whole statement on top of it
    in one py4j round trip. The token array is its own projection below
    the n-gram slices, so the tokenizer regex runs once per row (see
    :func:`_staged_elems`); tokens and n-grams match text.tokens and
    text.shingles."""
    ident = f"`{id_col}`"
    if shingle_n:
        ln = f"size(__tk0__) - {shingle_n - 1}"
        grams = f"slice(__tk0__, 1, {ln})"
        for j in range(1, shingle_n):
            grams = (f"zip_with({grams}, slice(__tk0__, {j + 1}, {ln}), "
                     "(a, b) -> concat(a, ' ', b))")
        elems = (f"array_distinct(CASE WHEN {ln} >= 1 THEN {grams} "
                 "ELSE CAST(array() AS array<string>) END)")
    else:
        elems = "array_distinct(__tk0__)"
    return (f"SELECT {ident}, explode({elems}) AS __s__ FROM ("
            # the SQL literal '\\s+' (escaped for Python, then for SQL)
            # is the regex \s+ that text.tokens splits on
            f"SELECT {ident}, split(lower(trim(`{text_col}`)), '\\\\s+') "
            "AS __tk0__ FROM ("
            f"SELECT /*+ REPARTITION({int(parallelism)}, {ident}) */ * "
            "FROM {df}))")


def minhash_table(df: DataFrame, id_col: str, text_col: str,
                  n_hashes: int = 16, shingle_n: int = 3,
                  sh: DataFrame | None = None) -> DataFrame:
    """MinHash as a grouped aggregation: explode shingles once, take n
    keyed-md5 minima per doc. One scan + one shuffle on the doc id; the
    aggregate output is a materialization boundary, so downstream banding
    and joins work over plain columns (h0..h{n-1}) — the 100 TB plan.
    Docs with fewer than ``shingle_n`` tokens have no shingles and drop out.
    """
    if sh is None:
        sh = shingle_table(df, id_col, text_col, shingle_n)
    return sh.groupBy(id_col).agg(*minhash_minima(n_hashes))


def minhash_minima(n_hashes: int = 16) -> list[Column]:
    """The n keyed-md5 minima over a shingle_table group: h0..h{n-1}.
    SQL strings, one py4j round trip each: the Column-builder form cost
    ~6 per hash, a plan-construction cost paid by every call."""
    return [F.expr(e) for e in minhash_minima_sql(n_hashes)]


def minhash_minima_sql(n_hashes: int = 16) -> list[str]:
    return [f"min(md5(concat('{i}:', __s__))) AS h{i}"
            for i in range(n_hashes)]


def band_keys(n_hashes: int = 16, n_bands: int = 4) -> list[Column]:
    """Band signatures over minhash_table columns (cheap md5 of a concat)."""
    return [F.expr(e) for e in band_keys_sql(n_hashes, n_bands)]


def band_keys_sql(n_hashes: int = 16, n_bands: int = 4) -> list[str]:
    rpb = n_hashes // n_bands
    return ["md5(concat_ws('|', {})) AS band_{}".format(
        ", ".join(f"h{b * rpb + j}" for j in range(rpb)), b)
        for b in range(n_bands)]


# Members per band bucket above which the in-bucket pair fan-out leaves
# the collect_list path (r14, guide §5 bounded state / §2.5 skew): the
# fan-out holds ONE aggregation row per bucket — a value that cannot
# spill — and its pair explode materializes an O(m²) array, so a hot
# band signature (correlated dims put a big slice of a real embedding
# corpus in one all-positive band; boilerplate docs share a minhash
# band) would OOM an executor at corpus scale. 256 keeps the transient
# pair array ≤ ~32k structs; fixture buckets top out at 20 members
# (sf0.1 probe, OPTIMIZATION_r14.md), so every registered query stays
# on the fast path and the hot leg plans empty.
FANOUT_BUCKET_LIMIT = 256


def bounded_bucket_pairs(banded: DataFrame, keys: list[str],
                         limit: int = FANOUT_BUCKET_LIMIT) -> DataFrame:
    """Every unordered in-bucket member pair, exactly once per bucket,
    with per-task aggregation state bounded by ``limit`` members.

    Input: ``banded`` with columns ``*keys`` (the bucket key) and ``m``
    (the member struct, whose FIRST field ``id`` is unique and orderable
    — both legs depend on it for the a<b orientation). Output:
    ``*keys, p`` with ``p = struct(a, b)`` member pairs, ``a.id < b.id``.

    Two legs (guide §5/§2.5):

    - **cold** (size ≤ limit — every bucket of a normal corpus): the r13
      shape — ONE shuffle, per-bucket sorted collect_list, pair fan-out
      from the array, no join.
    - **hot** (size > limit): a sort-merge SELF-JOIN on the bucket key.
      Per-key join buffers spill to disk, the pair stream never
      materializes as one array, and AQE skew-join can split the
      oversized partition — none of which the collect_list leg can do.

    The hot-key set comes from a keys-only count (narrow shuffle — a few
    bytes/member vs the member payload on the main exchange) and is
    broadcast: by the adversarial-bucket assumption it is tiny, and on a
    normal corpus it is EMPTY, so the anti-join passes everything to the
    cold leg untouched and the hot leg's stages scan zero rows. Callers
    whose ``banded`` is expensive to recompute must stage it — this
    helper references it three times.

    Measured-and-rejected alternative (r14): sizing via a count WINDOW
    over the same (keys) partitioning — no count job, no broadcast —
    but the cold/hot-a/hot-b branches fork above the member exchange
    and exchange reuse does NOT fire across the re-aliased self-join
    (final adaptive plan materialized ShuffleQueryStages 4/5/6 — three
    separate MEMBER shuffles, i.e. 3× the vector-carrying exchange at
    corpus scale, vs this form's one member exchange plus a keys-only
    count). The fixed broadcast-build latency this form pays is a
    bench-scale artifact; the window form's extra member shuffles grow
    with the corpus.
    """
    # the hot-key table is staged: it is tiny by construction, has two
    # consumers (the anti and semi splits below), and each broadcast
    # build then scans a few cached rows instead of re-running the count
    hot_keys = stage(banded.groupBy(*keys).count()
                     .filter(F.col("count") > limit).select(*keys), "memory")
    hot = F.broadcast(hot_keys)
    cold = banded.join(hot, keys, "left_anti")
    buckets = (cold.groupBy(*keys)
               .agg(F.array_sort(F.collect_list("m")).alias("mem"))
               .filter(F.size("mem") >= 2))
    pair_cold = buckets.select(*keys, F.explode(F.flatten(F.transform(
        "mem",
        lambda x, i: F.transform(
            F.slice(F.col("mem"), i + F.lit(2), F.size(F.col("mem"))),
            lambda y: F.struct(x.alias("a"), y.alias("b")),
        ),
    ))).alias("p"))
    hm = banded.join(hot, keys, "left_semi")
    pair_hot = (hm.select(*keys, F.col("m").alias("__ma__"))
                .join(hm.select(*keys, F.col("m").alias("__mb__")), keys)
                .filter(F.col("__ma__.id") < F.col("__mb__.id"))
                .select(*keys, F.struct(F.col("__ma__").alias("a"),
                                        F.col("__mb__").alias("b")).alias("p")))
    return pair_cold.unionByName(pair_hot)


def lsh_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                        n_hashes: int = 16, n_bands: int = 4,
                        shingle_n: int = 3,
                        sig: DataFrame | None = None,
                        max_bucket_size: int | None = None,
                        fanout_limit: int | None = None) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) that collide in ≥1 band.

    Plan shape: scan → per-band explode (n_bands rows/doc) → ONE shuffle on
    (band_idx, band_sig) → per-bucket sorted id list → in-bucket pair
    fan-out (array combinatorics, no join) → distinct pairs. The earlier
    self-join form computed the signature aggregate on BOTH join sides
    (ReusedExchange doesn't fire across aliased self-joins) and shuffled
    the banded table twice; groupBy+fan-out does it once.

    Bucket skew (boilerplate docs): a bucket of B docs yields B²/2
    candidate pairs materialized as one in-memory array before its
    explode, so for adversarial corpora set ``max_bucket_size``. Buckets
    above the cap are DROPPED from candidate generation — at 100 TB, route
    them to a separate exact-dup pass (hash-groupBy) instead of pairwise
    verification; near-identical docs still collide in the other
    n_bands-1 bands when genuinely similar. The cap is a size() filter on
    the already-grouped id list — no extra shuffle, and it bounds the
    fan-out array at cap²/2 entries.
    """
    if sig is None:
        sig = minhash_table(df, id_col, text_col, n_hashes, shingle_n)
    # r13 opt (guide §2.4): a pair colliding in k bands used to be
    # emitted k times and collapsed by a trailing `.distinct()` — a full
    # Exchange + HashAggregate over the CANDIDATE set. The
    # first-shared-band guard (same rewrite as cosine_dedup_pairs):
    # members carry their band array through the one bucket shuffle
    # (+n_bands md5s/row) and a pair is emitted only from the FIRST band
    # the two sides agree on — exactly one emission, no distinct.
    bsdf = sig.select(
        F.col(id_col).alias("id"),
        F.array(*[k for k in band_keys(n_hashes, n_bands)]).alias("bs"),
    )
    if max_bucket_size is None:
        # r14 bounded fan-out (guide §5/§2.5): bounded_bucket_pairs
        # references the banded table THREE times (hot-set count, cold
        # leg, hot leg) and the signature pipeline above it — a full
        # tokenize+shingle+minhash pass — must not run per reference.
        # (id, bands) is ~150 B/doc, the natural stage boundary; on a
        # cluster this is the signature table the pipeline would write
        # to storage anyway (see near_dup_pairs' docstring).
        bsdf = stage(bsdf, "memory")
        banded = bsdf.select(F.struct("id", "bs").alias("m"),
                             F.posexplode("bs").alias("band_idx", "band_sig"))
        pairs = bounded_bucket_pairs(banded, ["band_idx", "band_sig"],
                                     fanout_limit or FANOUT_BUCKET_LIMIT)
        return (pairs.filter(F.array_position(
            F.zip_with("p.a.bs", "p.b.bs", lambda u, v: u == v), F.lit(True))
            == F.col("band_idx").cast("long") + F.lit(1).cast("long"))
            .select(F.col("p.a.id").alias("id_a"),
                    F.col("p.b.id").alias("id_b")))
    banded = bsdf.select(F.struct("id", "bs").alias("m"),
                         F.posexplode("bs").alias("band_idx", "band_sig"))
    buckets = (banded.groupBy("band_idx", "band_sig")
               .agg(F.array_sort(F.collect_list("m")).alias("mem"))
               .filter(F.size("mem") >= 2)
               .filter(F.size("mem") <= max_bucket_size))
    # members sorted ascending by unique id → pairing each element with
    # its suffix yields exactly the id_a < id_b pairs the old self-join
    # produced.
    pairs = buckets.select("band_idx", F.explode(F.flatten(F.transform(
        "mem",
        lambda x, i: F.transform(
            F.slice(F.col("mem"), i + F.lit(2), F.size(F.col("mem"))),
            lambda y: F.struct(x["id"].alias("id_a"), y["id"].alias("id_b"),
                               x["bs"].alias("ba"), y["bs"].alias("bb")),
        ),
    ))).alias("p"))
    # Capped corpora keep the legacy distinct: the documented cap
    # contract lets a pair whose first-shared-band bucket was dropped
    # still surface from a later, smaller shared band — the guard would
    # drop it. Uncapped (every registered query) the guard is exact.
    return pairs.select("p.id_a", "p.id_b").distinct()


def jaccard_pairs(df: DataFrame, candidates: DataFrame, id_col: str,
                  text_col: str, shingle_n: int = 3,
                  threshold: float = 0.5,
                  sh_rows: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (the verify stage after LSH
    blocking). |A∩B| / |A∪B| over distinct shingle sets."""
    if sh_rows is not None:
        sh = (sh_rows.groupBy(id_col).agg(F.collect_set("__s__").alias("sh"))
              .withColumnRenamed(id_col, "id"))
    else:
        staged, elems = _staged_elems(df, text_col, shingle_n,
                                      keep=[F.col(id_col).alias("id")])
        sh = staged.select("id", elems.alias("sh"))
    j = (
        candidates
        .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size("sh_a") + F.size("sh_b") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def jaccard_pairs_ids(candidates: DataFrame, sh_rows: DataFrame,
                      id_col: str, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard verify over DICTIONARY-ENCODED token arrays (r11):
    the middle ground between the two existing verifies. The array form
    (:func:`jaccard_pairs`) attaches ~10 KB STRING arrays to every
    candidate pair — measured GC meltdown at 10×; the long form
    (:func:`jaccard_pairs_counts`) is memory-bounded but shuffles
    pairs × tokens rows (the 15-17s wall of the stable-delta bulk
    fixture, SCALE.md r11). Here each distinct token gets an integer id
    and each doc becomes a ~1 KB int-array — 10-20× smaller than the
    string form, so the per-pair intersect is memory-safe at delta-
    bounded pair counts while avoiding the pairs×tokens fan-out.

    Token ids must be BIJECTIVE (a collision would silently inflate an
    intersection — xxhash64 alone is not exact), deterministic, and
    assigned without a global sort: id = bucket·2⁴⁰ + rank, where
    bucket = xxhash64(token) % 1024 and rank = row_number within the
    bucket ordered by token — a parallel per-bucket sort of the
    vocabulary, unique by construction. ``sh_rows`` must be DISTINCT
    (id, token) rows (the positioned-index contract)."""
    sh = sh_rows.select(F.col(id_col).alias("__id__"), F.col("__s__"))
    w = Window.partitionBy("__b__").orderBy("__s__")
    vocab = (sh.select("__s__").distinct()
             .withColumn("__b__", F.pmod(F.xxhash64("__s__"),
                                         F.lit(1024)).cast("long"))
             .withColumn("__tid__",
                         F.col("__b__") * F.lit(1 << 40)
                         + F.row_number().over(w))
             .select("__s__", "__tid__"))
    sets_ = (sh.join(vocab, "__s__")
             .groupBy("__id__")
             .agg(F.collect_list("__tid__").alias("__ta__"),
                  F.count(F.lit(1)).alias("__n__")))
    j = (candidates
         .join(sets_.select(F.col("__id__").alias("id_a"),
                            F.col("__ta__").alias("__ta_a__"),
                            F.col("__n__").alias("__na__")), "id_a")
         .join(sets_.select(F.col("__id__").alias("id_b"),
                            F.col("__ta__").alias("__ta_b__"),
                            F.col("__n__").alias("__nb__")), "id_b")
         .withColumn("inter",
                     F.size(F.array_intersect("__ta_a__", "__ta_b__")))
         .withColumn("jaccard",
                     F.col("inter")
                     / (F.col("__na__") + F.col("__nb__") - F.col("inter"))))
    return (j.filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def jaccard_pairs_counts(candidates: DataFrame, sh_rows: DataFrame,
                         id_col: str, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard verify in LONG FORM: shared-shingle COUNTS via joins
    over (id, shingle) rows — no shingle arrays are ever materialized.

    The array-based verify (:func:`jaccard_pairs`) attaches both docs'
    full shingle-set arrays to every candidate pair; at 10× the bench
    corpus that's pairs × ~10 KB of strings held per row — measured JVM
    GC meltdown on local[32], and an OOM machine at cluster scale. Here
    the widest thing in flight is (id_a, id_b, shingle) rows feeding a
    partial-aggregatable count: more shuffle volume, bounded memory —
    the standard trade for the 100 TB path.

    Values are identical to the array form (same distinct sets, same
    counts), so the DuckDB oracle doesn't change.
    """
    sh = sh_rows.select(F.col(id_col).alias("__id__"), F.col("__s__"))
    sizes = sh.groupBy("__id__").agg(F.count(F.lit(1)).alias("n"))
    # No pre-filter of sh to candidate ids: AQE broadcasts the candidate
    # side when it's small (making the first join a scan-side probe), and
    # a measured semi-join pre-filter only added stages without shrinking
    # the (id, shingle) shuffle when blocking recall is high.
    inter = (
        candidates
        .join(sh.withColumnRenamed("__id__", "id_a"), "id_a")
        .join(sh.withColumnRenamed("__id__", "id_b"), ["id_b", "__s__"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = (
        inter
        .join(sizes.withColumnRenamed("__id__", "id_a")
                   .withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("__id__", "id_b")
                   .withColumnRenamed("n", "n_b"), "id_b")
        .withColumn("jaccard",
                    F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                   n_hashes: int = 16, n_bands: int = 4, shingle_n: int = 3,
                   threshold: float = 0.5,
                   max_bucket_size: int | None = None,
                   verify: str = "arrays") -> DataFrame:
    """End-to-end near-dup pipeline with shared intermediates:

        shingles (memory stage) → minhash signatures → LSH bands →
        candidate pairs → exact-Jaccard verify

    The shingle table feeds both signature computation and the verify
    stage; staging it avoids recomputing the tokenize/shingle scan 4×.
    On a cluster against 100 TB, stage it on disk instead (the
    signature/shingle tables are ~1% of corpus size) — the plan shape
    is identical.

    ``verify`` picks the Jaccard stage: ``"arrays"`` attaches both docs'
    shingle-set arrays per pair (fastest — measured 2.8× over counts at
    10× bench scale — and AQE's byte-based partition sizing shrinks
    rows-per-task as arrays grow, so it self-regulates); ``"counts"``
    (:func:`jaccard_pairs_counts`) streams (pair, shingle) rows into a
    partial-aggregated count — same values, bounded per-ROW memory, for
    corpora whose individual shingle sets are themselves huge.
    """
    sh = stage(shingle_table(df, id_col, text_col, shingle_n), "memory")
    sig = minhash_table(df, id_col, text_col, n_hashes, shingle_n, sh=sh)
    cands = lsh_candidate_pairs(df, id_col, text_col, n_hashes, n_bands,
                                shingle_n, sig=sig,
                                max_bucket_size=max_bucket_size)
    if verify == "counts":
        return jaccard_pairs_counts(cands, sh, id_col, threshold)
    return jaccard_pairs(df, cands, id_col, text_col, shingle_n, threshold,
                         sh_rows=sh)


def simhash64(df: DataFrame, id_col: str, toks: Column) -> DataFrame:
    """64-bit SimHash per document: per-bit majority vote of token hashes.

    Plan: explode tokens → xxhash64 (JVM-side) → 64 conditional-sum
    aggregates with STATIC shift amounts → reassemble bits. One shuffle on
    the doc id; scales linearly in corpus size. Near-dup = small Hamming
    distance (``hamming64``). Not oracle-paired: xxhash64 has no portable
    equivalent in the oracle engine — covered by determinism tests and a
    rows-only check.
    """
    exploded = (
        df.select(F.col(id_col), F.explode(toks).alias("__t__"))
        .select(F.col(id_col), F.xxhash64(F.col("__t__")).alias("__h__"))
    )
    votes = exploded.groupBy(id_col).agg(*[
        F.sum(F.when(F.shiftright(F.col("__h__"), b).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"b{b}")
        for b in range(64)
    ])
    sim = None
    for b in range(64):
        val = (1 << b) if b < 63 else -(1 << 63)  # bit 63 = sign bit of i64
        bit = F.when(F.col(f"b{b}") > 0, F.lit(val).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash64_md5(df: DataFrame, id_col: str, toks: Column) -> DataFrame:
    """Portable 64-bit SimHash: bit votes derived from the md5 HEX STRING
    (first 16 chars → 16 hex digits → 4 bits each), so an oracle engine
    reproduces the signature exactly — unlike ``simhash64``'s xxhash64.

    Same plan shape as simhash64: explode tokens → one md5 per token →
    16 digit columns decoded ONCE per row (conv base16, JVM-side) → 64
    conditional-sum votes → majority bits reassembled into a BIGINT
    (bit 63 is the sign bit). One shuffle on the doc id."""
    ex = (df.select(F.col(id_col), F.explode(toks).alias("__t__"))
            .select(F.col(id_col), F.md5("__t__").alias("__h__"))
            .select(F.col(id_col), *[
                F.conv(F.substring("__h__", i + 1, 1), 16, 10).cast("int").alias(f"d{i}")
                for i in range(16)]))
    votes = ex.groupBy(id_col).agg(*[
        F.sum(F.when(F.shiftright(F.col(f"d{b // 4}"), b % 4)
                     .bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(64)])
    sim = None
    for b in range(64):
        val = (1 << b) if b < 63 else -(1 << 63)
        bit = (F.when(F.col(f"b{b}") > 0, F.lit(val).cast("bigint"))
               .otherwise(F.lit(0).cast("bigint")))
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_band_pairs(sig: DataFrame, id_col: str,
                       max_hamming: int = 12) -> DataFrame:
    """Near-dup pairs from SimHash signatures via 4×16-bit banding: docs
    agreeing on ANY 16-bit quarter of the signature are candidates
    (pigeonhole: hamming ≤ 3 GUARANTEES a shared band; higher distances
    are caught probabilistically), then exact Hamming ≤ ``max_hamming``
    verifies.

    Same single-shuffle shape as ``lsh_candidate_pairs``: group each
    (band_idx, band_key) bucket, sort its (id, simhash) members, fan out
    in-bucket pairs with the Hamming distance computed inline — the
    signature aggregate (64 conditional sums) runs ONCE, not once per
    self-join side. Same skew story as LSH banding (boilerplate buckets);
    cap upstream if the corpus is adversarial."""
    bands = sig.select(
        F.col(id_col), "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), 16 * k).bitwiseAND(F.lit(65535))
            for k in range(4)])).alias("band_idx", "band_key"))
    buckets = (bands.groupBy("band_idx", "band_key")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col(id_col).alias("id"), "simhash"))).alias("ms"))
               .filter(F.size("ms") >= 2))
    pairs = buckets.select(F.explode(F.flatten(F.transform(
        "ms",
        lambda x, i: F.transform(
            F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
            lambda y: F.struct(
                x.getField("id").alias("id_a"),
                y.getField("id").alias("id_b"),
                hamming64(x.getField("simhash"),
                          y.getField("simhash")).alias("hamming"),
            ),
        ),
    ))).alias("p"))
    return (pairs.select("p.id_a", "p.id_b", "p.hamming")
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit SimHashes (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def signature_agreement(sig: DataFrame, pairs: DataFrame, id_col: str,
                        n_hashes: int = 16) -> DataFrame:
    """MinHash Jaccard ESTIMATE per candidate pair: the fraction of
    signature positions agreeing. E[agreement] = exact Jaccard — joining
    this against the exact verify stage is the estimator-quality audit
    that tells you whether n_hashes is adequate for your threshold before
    scaling a corpus run. Two broadcast-or-shuffle equi-joins on the id;
    the signature table is ~1% of corpus size."""
    agree = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return (pairs
            .join(sig.alias("a"), F.col("id_a") == F.col(f"a.{id_col}"))
            .join(sig.alias("b"), F.col("id_b") == F.col(f"b.{id_col}"))
            .select("id_a", "id_b",
                    (agree / F.lit(float(n_hashes))).alias("est_jaccard")))


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components of the near-dup pair graph by min-label
    propagation: every node's label converges to the smallest id reachable
    from it. Output (id, cluster_id) for every node appearing in ``pairs``
    (columns id_a/id_b); cluster_id is the cluster's minimum id, so the
    canonical document of each cluster is the one with id == cluster_id.

    Each iteration is one distributed join+groupBy (label of each node :=
    min of own and neighbors' labels); the driver only checks the
    converged-yet count. Iterations needed = graph diameter, which for
    near-dup clusters (cliques plus a few chains) is small — typically
    2-4. At 100 TB-scale graphs with long chains, switch to the
    large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14), which converges in
    O(log² n) rounds with the same join-per-round shape; plain min-label
    is the right default for dedup graphs because their diameter is tiny
    and each round is a single shuffle.

    Raises RuntimeError if not converged after ``max_iter`` rounds
    (a correctness guard, not a truncation: partial labels would silently
    split clusters).
    """
    edges = stage(pairs.select(F.col("id_a").alias("src"),
                               F.col("id_b").alias("dst"))
                  .union(pairs.select(F.col("id_b").alias("src"),
                                      F.col("id_a").alias("dst")))
                  .distinct(), "memory")
    # Each round MUST truncate lineage (a checkpoint stage), not just
    # cache: persist() keeps the logical plan, and a self-referencing
    # join per round makes Catalyst re-analyze an exponentially growing
    # tree (a 10-round chain OOMs the driver). A round's labels are read
    # only by the next round, so each round releases its predecessor.
    labels = stage(edges.select(F.col("src").alias("node"))
                   .distinct()
                   .withColumn("label", F.col("node")), "checkpoint")
    try:
        for _ in range(max_iter):
            prop = (edges.join(labels, edges.dst == labels.node)
                    .groupBy("src").agg(F.min("label").alias("nbr_min")))
            new_labels = stage(
                labels.join(prop, labels.node == prop.src, "left")
                .select(labels.node,
                        F.least(labels.label, F.col("nbr_min")).alias("label")),
                "checkpoint")
            changed = (new_labels.alias("n")
                       .join(labels.alias("o"), "node")
                       .filter(F.col("n.label") < F.col("o.label")).count())
            release(labels)
            labels = new_labels
            if changed == 0:
                return labels.select(F.col("node").alias("id"),
                                     F.col("label").alias("cluster_id"))
        raise RuntimeError(
            f"connected_components: not converged after {max_iter} rounds")
    finally:
        release(edges)


def canonical_filter(df: DataFrame, pairs: DataFrame, id_col: str,
                     max_iter: int = 25) -> DataFrame:
    """Keep one document per near-dup cluster (the cluster's min id) plus
    every unclustered document — the drop-near-dups step of corpus prep.
    Anti-join on the non-canonical member set: docs never appearing in a
    pair pass through untouched, so the join is sized by the pair graph,
    not the corpus."""
    non_canonical = (connected_components(pairs, max_iter)
                     .filter(F.col("id") != F.col("cluster_id"))
                     .select(F.col("id").alias(id_col)))
    return df.join(non_canonical, id_col, "left_anti")


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      n_hashes: int = 16, n_bands: int = 4,
                      shingle_n: int = 3,
                      threshold: float = 0.6) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup: C(A→B) = |A∩B| / |A|.

    Jaccard misses subset relationships — a short doc fully quoted inside
    a long one scores |A|/|B| ≈ 0 Jaccard but containment 1.0. That makes
    containment the right signal for eval-set contamination and
    quote/inclusion detection in training corpora. Same LSH blocking as
    :func:`near_dup_pairs` (MinHash bands still collide for subset pairs
    when the small side dominates shared shingles), then both directed
    containments per candidate pair; a pair is emitted when EITHER
    direction clears ``threshold``. Note blocking recall for extreme
    size ratios is lower than for Jaccard-near pairs — for a guaranteed
    sweep of a small eval set against a huge corpus, use the broadcast
    shingle join (text_decontamination) instead.
    """
    sh = stage(shingle_table(df, id_col, text_col, shingle_n), "memory")
    sig = minhash_table(df, id_col, text_col, n_hashes, shingle_n, sh=sh)
    cands = lsh_candidate_pairs(df, id_col, text_col, n_hashes, n_bands,
                                shingle_n, sig=sig)
    sets = (sh.groupBy(id_col).agg(F.collect_set("__s__").alias("sh"))
            .withColumnRenamed(id_col, "id"))
    j = (
        cands
        .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("c_ab", F.col("inter") / F.size("sh_a"))
        .withColumn("c_ba", F.col("inter") / F.size("sh_b"))
    )
    return (j.filter((F.col("c_ab") >= threshold) | (F.col("c_ba") >= threshold))
            .select("id_a", "id_b", "c_ab", "c_ba"))


def chunk_dedup_stats(df: DataFrame, id_col: str, text_col: str,
                      chunk: int = 10, min_docs: int = 2) -> DataFrame:
    """C4-style duplicated-CHUNK removal stats (sub-document dedup).

    Doc-level dedup (exact/minhash above) misses boilerplate that repeats
    ACROSS otherwise-distinct documents — nav bars, license headers,
    templated paragraphs. C4's answer is line-level: drop any line that
    occurs in ≥ ``min_docs`` documents corpus-wide. Our corpus has no
    line structure, so the unit is a fixed ``chunk``-token window (the
    same unit the sequence chunker emits), which is the same algorithm
    with a deterministic segmenter.

    Plan shape (scale is the point):
      1. scan-local: tokenize → non-overlapping chunks → md5(chunk);
         document bodies never shuffle, only (doc_id, hash, n_tok) rows.
      2. one shuffle: countDistinct(doc) per hash (partial-agg'd).
      3. the duplicated-hash set (count ≥ min_docs) is FILTERED FIRST and
         then left-joined back — at corpus scale the dup set is a small
         fraction of distinct chunks, so AQE turns this into a broadcast
         join; the fallback is a plain hash join on uniform md5 keys (no
         skew by construction).
      4. per-doc regroup for the keep/drop accounting.

    Returns one row per non-empty doc: n_chunks, n_dup_chunks (chunks
    appearing in ≥ min_docs docs), kept_tokens (tokens surviving removal).
    """
    ch = chunk_table(df, id_col, text_col, chunk)
    dup = (ch.groupBy("h")
           .agg(F.countDistinct(id_col).alias("n_docs"))
           .filter(F.col("n_docs") >= min_docs)
           .select("h", F.lit(True).alias("is_dup")))
    return (
        ch.join(dup, "h", "left")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("bigint")
              .alias("n_dup_chunks"),
             F.sum(F.when(F.col("is_dup").isNull(), F.col("n_tok")).otherwise(0))
              .cast("bigint").alias("kept_tokens"))
    )


def chunk_table(df: DataFrame, id_col: str, text_col: str,
                chunk: int = 10, extra_cols: tuple = ()) -> DataFrame:
    """One row per fixed ``chunk``-token window of each doc: (id,
    [extra_cols,] chunk_idx, h=md5 of the chunk text, n_tok). Scan-local
    (no shuffle); the shared segmenter behind chunk-level dedup and
    cross-source overlap profiling."""
    from .text import chunk_tokens, tokens

    return (
        df.select(F.col(id_col), *[F.col(c) for c in extra_cols],
                  F.posexplode(chunk_tokens(tokens(text_col), chunk))
                  .alias("chunk_idx", "chunk_toks"))
        .select(id_col, *extra_cols, "chunk_idx",
                F.md5(F.array_join("chunk_toks", " ")).alias("h"),
                F.size("chunk_toks").alias("n_tok"))
    )


def cdc_chunk_table(df: DataFrame, id_col: str, text_col: str,
                    window: int = 4, mask: int = 15,
                    extra_cols: tuple = ()) -> DataFrame:
    """CONTENT-DEFINED chunking (the rsync/LBFS boundary trick): a chunk
    ends wherever the rolling window hash of the last ``window`` tokens
    hits 0 mod ``mask+1`` (mean chunk ≈ (mask+1) tokens), so boundaries
    are decided by local CONTENT, not position. Fixed-window chunking
    (:func:`chunk_table`) loses every downstream chunk when one token is
    inserted — all windows shift; CDC boundaries re-synchronize within
    ~one chunk, which is what makes chunk-level dedup catch EDITED
    near-copies (the common real-world case: a mirrored page with an
    injected header). Robustness is pinned in
    test_cdc_chunks_survive_insertion.

    Hashes are md5-derived (engine-portable, oracle-reconstructable).
    Plan: boundary flags compute INSIDE the token array (O(n·window)
    work, scan-local, no row blow-up — the per-token row carries one
    token, never the array); segment ids are one cumulative-sum window
    and chunks one grouped aggregation, both keyed by (doc, …) — two
    shuffles of token-width rows, bodies never move.

    Output: (id [, extra_cols], seg, h, n_tok)."""
    w, m = int(window), int(mask) + 1
    toks = tokens(text_col)
    flags = F.transform(
        F.sequence(F.lit(1), F.size(toks)),
        lambda i: (i >= w) & (
            F.pmod(F.conv(F.substring(
                F.md5(F.array_join(
                    F.slice(toks, F.greatest(i - w + 1, F.lit(1)),
                            i - F.greatest(i - w + 1, F.lit(1)) + 1), " ")),
                1, 8), 16, 10).cast("bigint"), F.lit(m)) == 0))
    t = (df.select(F.col(id_col), *[F.col(c) for c in extra_cols],
                   F.posexplode(F.arrays_zip(toks.alias("tok"),
                                             flags.alias("__b__")))
                   .alias("pos", "__z__"))
         .select(id_col, *extra_cols, "pos",
                 F.col("__z__").getField("tok").alias("tok"),
                 F.col("__z__").getField("__b__").alias("__b__")))
    cum = Window.partitionBy(id_col).orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, -1)
    seg = (t.withColumn(
        "seg", F.coalesce(F.sum(F.col("__b__").cast("bigint")).over(cum),
                          F.lit(0))))
    return (seg.groupBy(id_col, *extra_cols, "seg")
            .agg(F.md5(F.array_join(
                     F.transform(F.array_sort(F.collect_list(
                         F.struct("pos", "tok"))),
                         lambda x: x.getField("tok")), " ")).alias("h"),
                 F.count(F.lit(1)).cast("bigint").alias("n_tok")))


def exact_substring_spans(df: DataFrame, id_col: str, text_col: str,
                          k: int = 10) -> DataFrame:
    """Exact repeated-substring detection (the ExactSubstr dedup of Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): any ≥k-token run appearing ≥2 times corpus-wide is a
    duplicated span. The paper builds a suffix array; the distributed
    equivalent used here is STRIDE-1 window hashing — every k-token
    window is hashed, a window hash seen twice marks positions, and
    overlapping/adjacent marked windows merge into spans. Detection is
    EXACT for repeats of length ≥ k (every such repeat contains a
    duplicated k-window at each offset; md5 collisions aside), unlike
    fixed-stride chunking which misses repeats straddling chunk
    boundaries.

    Output per doc: n_tokens, n_windows, n_dup_windows, covered_tokens
    (union length of all duplicated spans — the merged-interval fold:
    a window at p extends the running span by min(k, p − prev_p)),
    n_spans, dup_token_share.

    Plan: window hashes compute inside the token array (O(n·k)
    scan-local work, one row per window, no array carried); the global
    dup test is one hash-keyed groupBy; span merging is one LAG window
    per doc over dup positions only. Bodies never shuffle; everything
    keyed on (hash) or (doc)."""
    toks = tokens(text_col)
    n = F.size(toks)
    hashes = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")))
    ).otherwise(F.array().cast("array<string>"))
    w = (df.select(F.col(id_col), F.posexplode(hashes).alias("p0", "h"))
         .select(id_col, (F.col("p0") + 1).alias("p"), "h"))
    dup = (w.groupBy("h").agg(F.count(F.lit(1)).alias("__n__"))
           .filter(F.col("__n__") >= 2).select("h"))
    dwin = Window.partitionBy(id_col).orderBy("p")
    dp = (w.join(dup, "h", "left_semi")
          .withColumn("lg", F.lag("p").over(dwin)))
    agg = dp.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_windows"),
        F.sum(F.when(F.col("lg").isNull(), F.lit(k))
              .otherwise(F.least(F.lit(k), F.col("p") - F.col("lg"))))
         .cast("bigint").alias("covered_tokens"),
        F.sum((F.col("lg").isNull()
               | (F.col("p") - F.col("lg") > k)).cast("int"))
         .cast("bigint").alias("n_spans"))
    base = df.select(F.col(id_col), n.cast("bigint").alias("n_tokens"),
                     F.greatest(n - k + 1, F.lit(0)).cast("bigint")
                     .alias("n_windows"))
    return (base.join(agg, id_col, "left")
            .select(id_col, "n_tokens", "n_windows",
                    F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
                    F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
                    F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                    (F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"))
                    .alias("dup_token_share")))


def exact_substring_removal(df: DataFrame, id_col: str, text_col: str,
                            k: int = 10) -> DataFrame:
    """The ACTION half of ExactSubstr dedup (Lee et al. 2022): cut every
    duplicated ≥k-token run, keeping its corpus-CANONICAL occurrence —
    the smallest (doc, position) holding each duplicated window.

    Per token the rule is: removable iff ≥1 duplicated window covers it
    and NO canonical window covers it. Canonical spans survive intact,
    second occurrences (across docs OR within one doc) lose their
    tokens, text outside duplicated spans is untouched. Output:
    (id, n_tokens, n_removed, kept_text — kept tokens re-joined in
    order).

    Plan: stride-1 window hashes (scan-local, as exact_substring_spans);
    one hash groupBy marks dup windows and elects the canonical
    occurrence (min struct — deterministic); token rows get their
    covering-window flags via ONE integer range-frame window per doc
    ([-(k-1), 0] over window positions); kept text is one ordered
    grouped fold. Bodies never shuffle — only (hash) and (doc)-keyed
    token-width rows."""
    toks = tokens(text_col)
    n = F.size(toks)
    win_hashes = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")))
    ).otherwise(F.array().cast("array<string>"))
    w = (df.select(F.col(id_col), F.posexplode(win_hashes).alias("p0", "h"))
         .select(F.col(id_col).alias("__d__"), (F.col("p0") + 1).alias("p"),
                 "h"))
    marked = (w.groupBy("h")
              .agg(F.count(F.lit(1)).alias("__n__"),
                   F.min(F.struct(F.col("__d__").alias("d"),
                                  F.col("p").alias("p"))).alias("__c__"))
              .filter(F.col("__n__") >= 2)
              .select("h", "__c__"))
    flags = (w.join(marked, "h")
             .select("__d__", "p",
                     F.lit(1).alias("dup"),
                     ((F.col("__d__") == F.col("__c__.d"))
                      & (F.col("p") == F.col("__c__.p"))).cast("int")
                     .alias("canon")))
    t = (df.select(F.col(id_col).alias("__d__"),
                   F.posexplode(toks).alias("i0", "tok"))
         .select("__d__", (F.col("i0") + 1).alias("i"), "tok"))
    # token rows and window-flag rows share the integer position axis:
    # union them, and a range frame [-(k-1), 0] over position sees every
    # window covering the token (window at p covers tokens p..p+k-1)
    u = (t.select("__d__", F.col("i").alias("pos"), "tok",
                  F.lit(None).cast("int").alias("dup"),
                  F.lit(None).cast("int").alias("canon"))
         .unionByName(flags.select(
             "__d__", F.col("p").alias("pos"),
             F.lit(None).cast("string").alias("tok"), "dup", "canon")))
    cover = (Window.partitionBy("__d__").orderBy("pos")
             .rangeBetween(-(k - 1), 0))
    scored = (u.withColumn("__dup_cov__", F.max("dup").over(cover))
              .withColumn("__can_cov__", F.max("canon").over(cover))
              .filter(F.col("tok").isNotNull()))
    kept = scored.withColumn(
        "__keep__",
        F.col("__dup_cov__").isNull() | (F.col("__can_cov__") == 1))
    return (kept.groupBy("__d__")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.sum((~F.col("__keep__")).cast("int")).cast("bigint")
                 .alias("n_removed"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.when(
                             F.col("__keep__"),
                             F.struct(F.col("pos"), F.col("tok"))))),
                         lambda x: x.getField("tok")), " ")
                 .alias("kept_text"))
            .withColumnRenamed("__d__", id_col))


def source_overlap_matrix(df: DataFrame, id_col: str, text_col: str,
                          group_col: str, chunk: int = 10) -> DataFrame:
    """Directed chunk-containment between subcorpora: for each ordered
    group pair (a, b), how much of a's DISTINCT chunk set also appears
    in b — the cross-source leakage report a curator reads before
    mixing subcorpora (frac near 1 = a largely contained in b; high
    both ways = mirrored crawls or shared boilerplate; it is also the
    corpus-level view of the per-doc decontamination guard).

    Output: (src_a, src_b, n_shared, n_chunks_a, frac_contained),
    pairs with zero overlap omitted.

    Plan: chunk hashes are scan-local (bodies never shuffle, the
    chunk_table invariant); one distinct on (group, h); a self equi-join
    on h whose per-hash fan-out is bounded by n_groups² — data-size
    independent, so no hot-hash hazard no matter how common a chunk is;
    one count aggregation + a broadcast of the n_groups-row totals. At
    100 TB everything after the scan is hash-width rows."""
    ch = (chunk_table(df, id_col, text_col, chunk, extra_cols=(group_col,))
          .select(group_col, "h").distinct())
    tot = ch.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_chunks_a"))
    a = ch.select(F.col(group_col).alias("src_a"), "h")
    b = ch.select(F.col(group_col).alias("src_b"), "h")
    shared = (a.join(b, "h")
              .filter(F.col("src_a") != F.col("src_b"))
              .groupBy("src_a", "src_b")
              .agg(F.count(F.lit(1)).alias("n_shared")))
    return (shared
            .join(F.broadcast(tot.withColumnRenamed(group_col, "src_a")),
                  "src_a")
            .select("src_a", "src_b", "n_shared", "n_chunks_a",
                    (F.col("n_shared") / F.col("n_chunks_a"))
                    .alias("frac_contained")))


def append_chunk_index(df: DataFrame, id_col: str, text_col: str,
                       path: str, chunk: int = 10) -> None:
    """Append this batch's (chunk-hash, doc) pairs to an APPEND-ONLY
    parquet index. Like the HLL register index (functions/hll.py), the
    merge operation — countDistinct at read — absorbs duplicate rows,
    so at-least-once replay is a no-op without any read-modify-write."""
    (chunk_table(df, id_col, text_col, chunk)
     .select(F.col("h"), F.col(id_col).alias("doc"))
     .write.mode("append").parquet(path))


def chunk_delta_stats(delta: DataFrame, id_col: str, text_col: str,
                      spark, path: str, chunk: int = 10,
                      min_docs: int = 2) -> DataFrame:
    """The NIGHTLY-INGEST form of :func:`chunk_dedup_stats`: per-DELTA-doc
    boilerplate stats against corpus ∪ delta, with the corpus side served
    from the persisted chunk index (:func:`append_chunk_index`) — only
    the delta batch is ever tokenized. Same output schema as
    chunk_dedup_stats, restricted to delta docs; a green oracle against
    the full-corpus SQL restricted to delta ids proves index-served ≡
    from-scratch.

    Plan: the index side is semi-joined on the DELTA's hash set before
    the dup-count aggregation, so the shuffled row count is (delta
    hashes × their corpus occurrences), not index-sized — with the index
    stored bucketed/sorted by ``h`` this is an index seek; either way
    nightly cost is O(|delta| + matching postings), never a corpus
    re-tokenize."""
    dch = chunk_table(delta, id_col, text_col, chunk)
    idx = spark.read.parquet(path).select("h", "doc")
    delta_hashes = dch.select("h").distinct()
    union = (idx.join(delta_hashes, "h", "left_semi")
             .unionByName(dch.select("h", F.col(id_col).alias("doc"))))
    dup = (union.groupBy("h")
           .agg(F.countDistinct("doc").alias("n_docs"))
           .filter(F.col("n_docs") >= min_docs)
           .select("h", F.lit(True).alias("is_dup")))
    return (
        dch.join(dup, "h", "left")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("bigint")
              .alias("n_dup_chunks"),
             F.sum(F.when(F.col("is_dup").isNull(), F.col("n_tok"))
                   .otherwise(0)).cast("bigint").alias("kept_tokens"))
    )


def duplicated_chunks_from_index(spark, path: str,
                                 min_docs: int = 2) -> DataFrame:
    """Merge-on-read of the chunk index: hashes occurring in ≥ min_docs
    distinct docs — the corpus-wide boilerplate set, maintainable
    incrementally (each nightly batch appends; no corpus rescan)."""
    return (spark.read.parquet(path)
            .groupBy("h")
            .agg(F.countDistinct("doc").alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
            .select("h", "n_docs"))


def winnowing_fingerprints(df: DataFrame, id_col: str, text_col: str,
                           k: int = 4, w: int = 4) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the MOSS algorithm): from each window of ``w``
    consecutive k-gram hashes, keep the minimum (ties → RIGHTMOST
    occurrence, the paper's rule), then dedup selections. Guarantees:
    any shared run of ≥ w+k-1 tokens between two documents shares at
    least one selected fingerprint, while storing only ~2/(w+1) of all
    k-gram hashes — the density/guarantee trade the paper proves, and
    the third fingerprint family here next to fixed chunks and CDC.

    Entirely scan-local array arithmetic (no self-join for the window
    selection — the SQL form needs a positional self-join; the Spark
    form is one ``transform`` over window starts, O(n·w) inside the
    row). Hashes are md5-derived 32-bit ints, bit-reproducible by any
    engine. Output: (id, fpos, h) — selected position + fingerprint.
    """
    from .text import ngrams

    # r13 opt (guide §4.1): stage the token array too — the k-gram
    # source re-embeds the tokenizer regex in every shifted slice
    # (~k+4 evaluations per row, no CSE under the transform), the same
    # class as the staged hash array below. Values unchanged.
    toked = df.select(F.col(id_col).alias("id"),
                      tokens(text_col).alias("__tk0__"))
    g_expr = F.transform(
        ngrams(F.col("__tk0__"), k),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"))
    # STAGE the hash array into a column: inlined into every window
    # lambda, the md5 chain re-evaluates per window element (O(n²) md5
    # work per row — the ahash re-inlining lesson again; unstaged, the
    # sf0.1 fingerprint scan did not finish in 4 minutes, staged it is
    # sub-second).
    staged = toked.select("id", g_expr.alias("__g__"))
    g = F.col("__g__")
    n = F.size(g)
    starts = F.when(n >= w, F.sequence(F.lit(1), n - (w - 1))) \
        .otherwise(F.expr("CAST(array() AS array<int>)"))
    sel = F.transform(starts, lambda i: F.struct(
        (i + w - F.array_position(
            F.reverse(F.slice(g, i, w)),
            F.array_min(F.slice(g, i, w)))).cast("int").alias("fpos"),
        F.array_min(F.slice(g, i, w)).alias("h")))
    return (staged.select("id", F.explode(F.array_distinct(sel)).alias("fp"))
            .select("id", "fp.fpos", "fp.h"))


def winnowing_pairs(df: DataFrame, id_col: str, text_col: str,
                    k: int = 4, w: int = 4, min_shared: int = 2,
                    max_df: int | None = 50) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints —
    the MOSS match candidates. One equi-join shuffle on the fingerprint
    hash; ``max_df`` drops hashes present in more than that many docs
    before the join (the standing hot-key cap: a boilerplate fingerprint
    in half the corpus fans out quadratically and carries no match
    signal). Output (id_a, id_b, shared)."""
    fp = winnowing_fingerprints(df, id_col, text_col, k, w)
    fph = fp.select("id", "h").distinct()
    if max_df is not None:
        keep = (fph.groupBy("h")
                .agg(F.count(F.lit(1)).alias("__df__"))
                .filter(F.col("__df__") <= max_df).select("h"))
        fph = fph.join(keep, "h")
    a = fph.select(F.col("id").alias("id_a"), "h")
    b = fph.select(F.col("id").alias("id_b"), "h")
    return (a.join(b, "h")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
            .filter(F.col("shared") >= min_shared))


def append_winnowing_index(df: DataFrame, id_col: str, text_col: str,
                           path: str, batch_id: int,
                           k: int = 4, w: int = 4) -> None:
    """Persist a batch's winnowing fingerprints (id, fpos, h) —
    per-document FACTS like the bm25 postings, so batch-keyed overwrite
    gives at-least-once replay safety and deleting a batch directory
    retracts its documents. Completes the persisted-index family: every
    fingerprint scheme here (minhash bands, chunks, CDC, band-LSH,
    winnowing) has an incremental index form."""
    import os

    winnowing_fingerprints(df, id_col, text_col, k, w) \
        .write.mode("overwrite") \
        .parquet(os.path.join(path, f"batch={batch_id}"))


def winnowing_pairs_from_index(spark, path: str, min_shared: int = 2,
                               max_df: int | None = 50) -> DataFrame:
    """MOSS match candidates served from the PERSISTED fingerprint
    index — same pair set as :func:`winnowing_pairs` over the union of
    appended batches (verified by the maintenance test). The stored
    index skips re-tokenizing the corpus: the join input is fingerprint
    rows only."""
    fp = spark.read.option("basePath", path).parquet(path)
    fph = fp.select("id", "h").distinct()
    if max_df is not None:
        keep = (fph.groupBy("h")
                .agg(F.count(F.lit(1)).alias("__df__"))
                .filter(F.col("__df__") <= max_df).select("h"))
        fph = fph.join(keep, "h")
    a = fph.select(F.col("id").alias("id_a"), "h")
    b = fph.select(F.col("id").alias("id_b"), "h")
    return (a.join(b, "h")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
            .filter(F.col("shared") >= min_shared))


def winnowing_delta_pairs(spark, path: str, delta: DataFrame,
                          id_col: str, text_col: str,
                          k: int = 4, w: int = 4, min_shared: int = 2,
                          max_df: int | None = 50) -> DataFrame:
    """Nightly-ingest shape: pairs between a NEW batch and the stored
    corpus (plus within-batch pairs) with only the delta tokenized —
    the stored side contributes fingerprint rows straight from parquet.
    Two legs so nothing double-counts: delta×stored (all orientations
    distinct by construction) and delta×delta (id_a < id_b). Join
    volume: |delta fingerprints| × matching hashes, never the corpus."""
    new_fp = winnowing_fingerprints(delta, id_col, text_col, k, w) \
        .select("id", "h").distinct()
    old_fp = spark.read.option("basePath", path).parquet(path) \
        .select("id", "h").distinct()
    if max_df is not None:
        keep = (new_fp.unionByName(old_fp).groupBy("h")
                .agg(F.count(F.lit(1)).alias("__df__"))
                .filter(F.col("__df__") <= max_df).select("h"))
        new_fp = new_fp.join(keep, "h")
        old_fp = old_fp.join(keep, "h")
    a = new_fp.select(F.col("id").alias("id_a"), "h")
    # delta ids are assumed disjoint from stored ids (the ingest
    # contract); a re-ingested id still cannot self-pair
    cross = (a.join(old_fp.select(F.col("id").alias("id_b"), "h"), "h")
             .filter(F.col("id_a") != F.col("id_b"))
             .select(F.least("id_a", "id_b").alias("id_a"),
                     F.greatest("id_a", "id_b").alias("id_b")))
    within = (a.join(new_fp.select(F.col("id").alias("id_b"), "h"), "h")
              .filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b"))
    return (cross.unionByName(within)
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
            .filter(F.col("shared") >= min_shared))


def prefix_filter_pairs(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.5,
                        shingle_n: int | None = 3,
                        pair_bound: str = "positional") -> DataFrame:
    """EXACT set-similarity join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo et al. WWW'07, Xiao et al. WWW'08).
    Set elements are word ``shingle_n``-grams (raw tokens when
    ``shingle_n=None``); every pair with Jaccard >= threshold is
    returned, no probabilistic recall loss. The deterministic complement to MinHash-LSH
    (:func:`lsh_candidate_pairs`): LSH trades recall for a fixed number
    of hash buckets; prefix filtering keeps recall = 1.0 and instead
    bounds candidate generation by token rarity.

    Stages (all declarative, Catalyst-planned):
    1. (id, tok) distinct rows + per-doc set size n.
    2. Global token order = (document frequency ASC, token ASC) — the
       canonical rarest-first order, broadcast-free: df is computed by
       one partial-aggregatable groupBy and joined back on tok.
    3. Per-doc position by that order (row_number over the doc); keep
       the PREFIX: pos <= n - ceil(t*n) + 1. Lemma (PPJoin): if
       J(a,b) >= t, the globally-smallest token of the intersection sits
       inside BOTH prefixes — |a∩b| >= ceil(t*|a|) tokens cannot all fit
       in a's suffix of ceil(t*|a|)-1 slots — so a prefix-to-prefix
       equi-join on tok loses nothing.
    4. Candidates: self-join of prefix rows on tok with id_a < id_b and
       the length filter ceil(t*n_a) <= n_b <= floor(n_a/t) (a valid
       pair's sizes are within a factor t of each other).
    5. Verify exact Jaccard in LONG form via the shared
       :func:`jaccard_pairs_counts` substrate (no token arrays in
       flight).

    100 TB shape: the only fan-out join is on PREFIX tokens, which are by
    construction each doc's globally RAREST tokens — a token of df D
    contributes at most D prefix rows, and common tokens (the skew risk)
    are pushed to suffix positions where they never join. No bucket cap
    is needed for correctness (unlike LSH's max_bucket_size) because the
    order itself is the skew bound; the df table is one extra
    partial-agg pass over (id, tok), reused for the ordering join.
    """
    cand, tok, pref = prefix_candidates(df, id_col, text_col, threshold,
                                        shingle_n, pair_bound=pair_bound)
    # the pair table is checkpointed (distributed, not a driver
    # collect), so the element and prefix stages can go before return
    out = stage(jaccard_pairs_counts(cand, tok, "__id__",
                                     threshold=float(threshold)),
                "checkpoint")
    release(tok, pref)
    return out


def prefix_candidates(df: DataFrame, id_col: str, text_col: str,
                      threshold: float = 0.5,
                      shingle_n: int | None = 3,
                      pair_bound: str = "positional"):
    """The blocking stage of :func:`prefix_filter_pairs`, exposed for the
    blocking audit: returns ``(cand, tok, pref)`` — candidate id pairs,
    the distinct (id, element) rows, and the prefix rows with their
    element document frequency (``__df__``, whose max is the worst-case
    join bucket — the inspectable skew bound).

    ``pair_bound`` picks the candidate filter (both exact):

    - ``"positional"`` (default): the per-row PPJoin positional bound —
      keep a pair if ANY shared prefix row satisfies
      min(n_a−pa, n_b−pb)+1 >= o_req. Rows are dropped before the
      pair-dedup shuffle.
    - ``"aggregate"``: the PPJoin+-flavored pair bound over ALL shared
      prefix rows — o <= c + min(n_a−pa_max, n_b−pb_max), where c is
      the shared-prefix-row count and (pa_max, pb_max) come from the
      order-LARGEST shared both-prefix element (one element maximizes
      both positions because the global order sorts both docs
      identically; every shared element order-before it is itself in
      both prefixes, so c counts ALL of them exactly and the remainder
      sits strictly after both max positions). Tighter than any single
      row's bound, but all joined rows reach the groupBy — the audit
      measures whether the extra pruning pays for the bigger shuffle.
      The per-row filter must NOT be combined with it: dropping rows
      first would undercount c and turn the exact bound into a
      recall-losing guess."""
    if pair_bound not in ("positional", "aggregate"):
        # a typo ("agregate", "Aggregate") silently running the OTHER
        # filter is harmless for results (both are exact) but corrupts
        # blocking-audit comparisons that rely on the knob — fail loud
        raise ValueError(
            f"pair_bound must be 'positional' or 'aggregate', "
            f"got {pair_bound!r}")
    t = float(threshold)
    # tok has FOUR consumers (df table, sizes, position window, verify).
    # No distinct(): the element arrays are array_distinct'ed per doc,
    # so (id, element) rows are unique by construction — a dedup shuffle
    # here would be pure waste. The repartition spreads the explode
    # across cores at materialization time (the source is a handful of
    # parquet files). tok is the largest intermediate of the prefix
    # family, so it is a DISK stage: disk-bounded at corpus scale, each
    # consumer an ordinary pruned scan, written fresh per invocation.
    par = df.sparkSession.sparkContext.defaultParallelism
    staged, elems = _staged_elems(df.repartition(par, F.col(id_col)),
                                  text_col, shingle_n,
                                  keep=[F.col(id_col).alias("__id__")])
    tok = staged.select("__id__", F.explode(elems).alias("__s__"))
    tok = stage(tok, "disk")
    pref = _prefix_rows(tok, t)
    a = pref.select(F.col("__id__").alias("id_a"), F.col("n").alias("n_a"),
                    F.col("__pos__").alias("__pa__"), "__s__")
    b = pref.select(F.col("__id__").alias("id_b"), F.col("n").alias("n_b"),
                    F.col("__pos__").alias("__pb__"), "__s__")
    # PPJoin positional filter: J >= t requires overlap o >=
    # ceil(t/(1+t)·(n_a+n_b)); a shared element at positions (pa, pb)
    # bounds o <= min(n_a-pa, n_b-pb) + 1 BECAUSE the global order sorts
    # both element lists identically, so every other shared element sits
    # strictly after it on both sides. For a qualifying pair the
    # globally-smallest shared element satisfies the bound (and is in
    # both prefixes), so keeping pairs with ANY passing row is exact.
    # This is what makes boilerplate corpora tractable: template
    # shingles are high-df, sort LATE in the prefix, and fail the
    # remaining-overlap bound — measured 310k -> 125k candidates on the
    # sf0.1 documents table (256 true pairs), verify 4.5s -> 2.0s.
    joined = (a.join(b, "__s__")
              .filter((F.col("id_a") < F.col("id_b"))
                      & (F.col("n_b") >= F.ceil(F.col("n_a") * F.lit(t) - 1e-9))
                      & (F.col("n_b") * F.lit(t) - 1e-9 <= F.col("n_a"))))
    cand = (_cand_aggregate(joined, t) if pair_bound == "aggregate"
            else _cand_positional(joined, t))
    return cand, tok, pref


def _o_req(t: float) -> Column:
    return F.ceil((F.col("n_a") + F.col("n_b"))
                  * F.lit(t / (1.0 + t)) - 1e-9)


def _cand_positional(joined: DataFrame, t: float) -> DataFrame:
    return (joined
            .filter(F.least(F.col("n_a") - F.col("__pa__"),
                            F.col("n_b") - F.col("__pb__")) + 1 >= _o_req(t))
            .select("id_a", "id_b")
            .distinct())


def _cand_aggregate(joined: DataFrame, t: float) -> DataFrame:
    return (joined.groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__c__"),
                 F.max("__pa__").alias("__pa_max__"),
                 F.max("__pb__").alias("__pb_max__"),
                 F.max("n_a").alias("n_a"),
                 F.max("n_b").alias("n_b"))
            .filter(F.col("__c__")
                    + F.least(F.col("n_a") - F.col("__pa_max__"),
                              F.col("n_b") - F.col("__pb_max__"))
                    >= _o_req(t))
            .select("id_a", "id_b"))


def prefix_candidate_bounds(df: DataFrame, id_col: str, text_col: str,
                            threshold: float = 0.5,
                            shingle_n: int | None = 3):
    """Both candidate filters over ONE shared joined-prefix table —
    the blocking audit's builder (computing them via two
    :func:`prefix_candidates` calls would tokenize, window, and persist
    the element/prefix tables twice). Returns
    ``(cand_positional, cand_aggregate, tok, pref)``; caller releases
    ``tok``/``pref``."""
    t = float(threshold)
    cand_pos, tok, pref = prefix_candidates(df, id_col, text_col,
                                            threshold, shingle_n)
    a = pref.select(F.col("__id__").alias("id_a"), F.col("n").alias("n_a"),
                    F.col("__pos__").alias("__pa__"), "__s__")
    b = pref.select(F.col("__id__").alias("id_b"), F.col("n").alias("n_b"),
                    F.col("__pos__").alias("__pb__"), "__s__")
    joined = (a.join(b, "__s__")
              .filter((F.col("id_a") < F.col("id_b"))
                      & (F.col("n_b") >= F.ceil(F.col("n_a") * F.lit(t) - 1e-9))
                      & (F.col("n_b") * F.lit(t) - 1e-9 <= F.col("n_a"))))
    return cand_pos, _cand_aggregate(joined, t), tok, pref


def prefix_filter_join(left: DataFrame, right: DataFrame, id_col: str,
                       text_col: str, threshold: float = 0.5,
                       shingle_n: int | None = 3) -> DataFrame:
    """EXACT cross-table set-similarity join (the R×S form of
    :func:`prefix_filter_pairs`) — the decontamination shape: every
    (left, right) pair with Jaccard >= threshold, recall 1.0 by the same
    prefix lemma. This is the join a release gate runs between an eval
    shard and the training corpus when "probably caught by LSH" is not
    an acceptable answer for leakage.

    The global rarest-first element order is computed over the UNION of
    both tables (the lemma only needs ONE shared total order); each side
    keeps its own prefix, and candidates come from the L-prefix ⋈
    R-prefix equi-join with the symmetric size band and the PPJoin
    positional bound. Ids are assumed globally unique across the two
    inputs (the split-of-one-table and eval-vs-corpus uses satisfy this
    by construction); a doc present VERBATIM on both sides surfaces as a
    J=1.0 pair — which for decontamination is the answer, not an
    artifact. Output: (left_id, right_id, jaccard).
    """
    t = float(threshold)
    par = left.sparkSession.sparkContext.defaultParallelism

    def side(df: DataFrame, tag: str) -> DataFrame:
        staged, elems = _staged_elems(df.repartition(par, F.col(id_col)),
                                      text_col, shingle_n,
                                      keep=[F.col(id_col).alias("__id__")])
        return staged.select("__id__", F.explode(elems).alias("__s__"),
                             F.lit(tag).alias("__t__"))

    tok = stage(side(left, "L").unionByName(side(right, "R")), "memory")
    pref = _prefix_rows(tok, t, tags=("__t__",))
    a = (pref.filter(F.col("__t__") == "L")
         .select(F.col("__id__").alias("left_id"), F.col("n").alias("n_a"),
                 F.col("__pos__").alias("__pa__"), "__s__"))
    b = (pref.filter(F.col("__t__") == "R")
         .select(F.col("__id__").alias("right_id"), F.col("n").alias("n_b"),
                 F.col("__pos__").alias("__pb__"), "__s__"))
    o_req = F.ceil((F.col("n_a") + F.col("n_b"))
                   * F.lit(t / (1.0 + t)) - 1e-9)
    cand = (a.join(b, "__s__")
            .filter((F.col("n_b") >= F.col("n_a") * F.lit(t) - 1e-9)
                    & (F.col("n_a") >= F.col("n_b") * F.lit(t) - 1e-9)
                    & (F.least(F.col("n_a") - F.col("__pa__"),
                               F.col("n_b") - F.col("__pb__")) + 1 >= o_req))
            .select("left_id", "right_id")
            .distinct())
    ver = jaccard_pairs_counts(
        cand.withColumnRenamed("left_id", "id_a")
            .withColumnRenamed("right_id", "id_b"),
        tok.select("__id__", "__s__"), "__id__", threshold=t)
    out = stage(ver.select(F.col("id_a").alias("left_id"),
                           F.col("id_b").alias("right_id"), "jaccard"),
                "checkpoint")
    release(tok, pref)
    return out


def _prefix_rows(tok: DataFrame, t: float,
                 tags: tuple[str, ...] = ()) -> DataFrame:
    """Prefix rows from a unique (``__id__``, ``__s__``[, tags]) element
    table: global rarest-first order (df asc, element asc), per-doc
    position, prefix filter pos <= n - ceil(t*n) + 1 with the one-sided
    1e-9 relaxation (FP wobble may only LENGTHEN the prefix — extra
    candidates, killed by exact verify — never drop a qualifying pair).
    A memory stage: both sides of every candidate self-join read it."""
    sizes = tok.groupBy("__id__", *tags).agg(F.count(F.lit(1)).alias("n"))
    dfreq = tok.groupBy("__s__").agg(F.count(F.lit(1)).alias("__df__"))
    pref = (tok.join(dfreq, "__s__")
            .withColumn("__pos__", F.row_number().over(
                Window.partitionBy("__id__")
                .orderBy(F.col("__df__").asc(), F.col("__s__").asc())))
            .join(sizes, ["__id__", *tags])
            .filter(F.col("__pos__")
                    <= F.col("n") - F.ceil(F.col("n") * F.lit(t) - 1e-9) + 1)
            .select("__id__", *tags, "__s__", "n", "__pos__", "__df__"))
    return stage(pref, "memory")


def append_element_index(df: DataFrame, id_col: str, text_col: str,
                         path: str, batch: int,
                         shingle_n: int | None = 3) -> None:
    """Append this batch's (id, element) rows to the APPEND-ONLY element
    index — the tokenize-once store for the prefix-filter family.
    Partitioned by batch for pruning; dropDuplicates at read absorbs
    at-least-once replay (rows are deterministic per doc), the same
    contract as the chunk/BM25/winnowing indexes."""
    staged, elems = _staged_elems(df, text_col, shingle_n,
                                  keep=[F.col(id_col).alias("id")])
    (staged.select("id", F.explode(elems).alias("s"),
                   F.lit(int(batch)).alias("batch"))
     .write.partitionBy("batch").mode("append").parquet(path))


def prefix_join_index_delta(spark, path: str, delta: DataFrame,
                            id_col: str, text_col: str,
                            threshold: float = 0.5,
                            shingle_n: int | None = 3) -> DataFrame:
    """Nightly-ingest form of the EXACT prefix-filter join: pairs
    between a NEW batch and the stored corpus (plus within-batch pairs)
    at Jaccard >= threshold with recall 1.0, the corpus side served
    from :func:`append_element_index` — only the delta is ever
    tokenized/shingled.

    Honest scale note (the family-specific caveat): the global
    rarest-first ORDER shifts when the delta changes document
    frequencies, so prefixes are recomputed each run — a df groupBy +
    per-doc position window over the stored ELEMENT ROWS. That pass is
    corpus-linear, but over cheap hash-width columns (no text, no
    shingling — the expensive stage at 100 TB), and the df table is
    SUM-mergeable if maintained as running counts. Candidate and verify
    volume stay delta-bounded: every candidate needs a delta-side
    prefix row. Delta ids are assumed disjoint from stored ids (the
    ingest contract, as in winnowing_delta_pairs). Output
    (id_a, id_b, jaccard) with id_a < id_b.
    """
    t = float(threshold)
    par = delta.sparkSession.sparkContext.defaultParallelism
    staged, elems = _staged_elems(delta.repartition(par, F.col(id_col)),
                                  text_col, shingle_n,
                                  keep=[F.col(id_col).alias("__id__")])
    new_tok = staged.select("__id__", F.explode(elems).alias("__s__"),
                            F.lit("D").alias("__t__"))
    old_tok = (spark.read.option("basePath", path).parquet(path)
               .select(F.col("id").alias("__id__"),
                       F.col("s").alias("__s__"))
               .dropDuplicates()
               .withColumn("__t__", F.lit("S")))
    tok = stage(new_tok.unionByName(old_tok), "memory")
    pref = _prefix_rows(tok, t, tags=("__t__",))
    d = pref.filter(F.col("__t__") == "D").select(
        F.col("__id__").alias("id_d"), F.col("n").alias("n_d"),
        F.col("__pos__").alias("__pd__"), "__s__")
    s = pref.filter(F.col("__t__") == "S").select(
        F.col("__id__").alias("id_s"), F.col("n").alias("n_s"),
        F.col("__pos__").alias("__ps__"), "__s__")
    o_req_ds = F.ceil((F.col("n_d") + F.col("n_s"))
                      * F.lit(t / (1.0 + t)) - 1e-9)
    cross = (d.join(s, "__s__")
             .filter((F.col("n_s") >= F.col("n_d") * F.lit(t) - 1e-9)
                     & (F.col("n_d") >= F.col("n_s") * F.lit(t) - 1e-9)
                     & (F.least(F.col("n_d") - F.col("__pd__"),
                                F.col("n_s") - F.col("__ps__")) + 1
                        >= o_req_ds))
             .select(F.least("id_d", "id_s").alias("id_a"),
                     F.greatest("id_d", "id_s").alias("id_b")))
    d2 = d.select(F.col("id_d").alias("id_b"), F.col("n_d").alias("n_b"),
                  F.col("__pd__").alias("__pb__"), "__s__")
    o_req_dd = F.ceil((F.col("n_d") + F.col("n_b"))
                      * F.lit(t / (1.0 + t)) - 1e-9)
    within = (d.join(d2, "__s__")
              .filter((F.col("id_d") < F.col("id_b"))
                      & (F.col("n_b") >= F.col("n_d") * F.lit(t) - 1e-9)
                      & (F.col("n_d") >= F.col("n_b") * F.lit(t) - 1e-9)
                      & (F.least(F.col("n_d") - F.col("__pd__"),
                                 F.col("n_b") - F.col("__pb__")) + 1
                         >= o_req_dd))
              .select(F.col("id_d").alias("id_a"), "id_b"))
    cand = cross.unionByName(within).distinct()
    out = stage(jaccard_pairs_counts(cand, tok.select("__id__", "__s__"),
                                     "__id__", threshold=t), "checkpoint")
    release(tok, pref)
    return out


# --- stable-order prefix-filter index (r7) -------------------------------
#
# The prefix lemma (prefix_filter_pairs step 3) holds for ANY consistent
# total order over elements — if J(a,b) >= t, the order-smallest shared
# element sits in both prefixes regardless of how the order was chosen.
# Rarest-first is purely a PERFORMANCE choice (it minimizes candidate
# volume); it is NOT needed for recall. That observation removes the
# per-run corpus-wide window from prefix_join_index_delta: FREEZE the
# order once (a (element, df) snapshot), store each doc's positions under
# the frozen order AT INGEST, and every later delta query joins
# positioned prefix rows straight off parquet — no df recompute, no
# corpus-wide row_number. Recall stays exactly 1.0 by the lemma; what
# drifts as true dfs move away from the snapshot is candidate VOLUME
# (now-common elements linger in old prefixes), which
# prefix_order_staleness makes inspectable so the owner can schedule an
# order refresh when drift exceeds a threshold.


def freeze_prefix_order(df: DataFrame, id_col: str, text_col: str,
                        order_path: str,
                        shingle_n: int | None = 3,
                        epoch: int = 0) -> None:
    """Snapshot the element order basis: (s, df, epoch) rows written
    once. Unseen-at-freeze elements rank as df=0 (rarest) at position
    time, ties broken by element value — deterministic on every side.
    ``epoch`` versions the order: every positioned row carries the
    epoch it was positioned under, and the delta join REFUSES to run
    when rows and order disagree (a crash or concurrent refresh can
    leave them mixed — the prefix lemma needs ONE shared order, so a
    mix must be an explicit error, never a silent recall loss).

    The order also carries ``tid`` — a STABLE bijective integer id per
    element (r12, the positional verify's dictionary): assigned once
    here with the :func:`jaccard_pairs_ids` bucket-rank scheme and
    carried over unchanged by every refresh (new vocabulary ranks
    above each bucket's old max), so per-doc int-arrays stored at
    ingest stay valid across refreshes forever."""
    staged, elems = _staged_elems(df, text_col, shingle_n,
                                  keep=[F.col(id_col).alias("id")])
    agg = (staged.select("id", F.explode(elems).alias("s"))
           .groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
           .withColumn("epoch", F.lit(int(epoch))))
    _with_tids(agg, None).write.mode("overwrite").parquet(order_path)


_TID_BUCKETS = 1024
_TID_SHIFT = 1 << 40


def _with_tids(order_agg: DataFrame, old_order: DataFrame | None) -> DataFrame:
    """Attach stable element ids to an (s, df, epoch) order frame.

    tid = bucket·2⁴⁰ + rank-within-bucket (bucket = xxhash64(s) %
    1024, rank ordered by s) — bijective by construction, assigned by
    a parallel per-bucket sort of the vocabulary, never a global one
    (the jaccard_pairs_ids scheme). With ``old_order`` (a refresh),
    existing elements KEEP their tid and new vocabulary ranks strictly
    above each bucket's old max — stored int-arrays never go stale.
    Retired tids (an element leaving the order) are never reused while
    any stored doc still carries the element, which holds by
    construction: the order's dfs are summed from the stored batches'
    own token shards, so an element with a surviving doc has df ≥ 1."""
    if old_order is None or "tid" not in old_order.columns:
        w = Window.partitionBy("__b__").orderBy("s")
        return (order_agg
                .withColumn("__b__", F.pmod(F.xxhash64("s"),
                                            F.lit(_TID_BUCKETS)).cast("long"))
                .withColumn("tid", F.col("__b__") * F.lit(_TID_SHIFT)
                            + F.row_number().over(w))
                .drop("__b__"))
    old = old_order.select("s", "tid")
    cur = order_agg.join(old, "s", "left")
    bmax = (old
            .withColumn("__b__", F.expr(f"tid div {_TID_SHIFT}"))
            .groupBy("__b__")
            .agg(F.max(F.pmod(F.col("tid"), F.lit(_TID_SHIFT)))
                 .alias("__mx__")))
    w = Window.partitionBy("__b__").orderBy("s")
    fresh = (cur.filter(F.col("tid").isNull()).drop("tid")
             .withColumn("__b__", F.pmod(F.xxhash64("s"),
                                         F.lit(_TID_BUCKETS)).cast("long"))
             .join(bmax, "__b__", "left").fillna(0, ["__mx__"])
             .withColumn("tid", F.col("__b__") * F.lit(_TID_SHIFT)
                         + F.col("__mx__") + F.row_number().over(w))
             .drop("__b__", "__mx__"))
    return cur.filter(F.col("tid").isNotNull()).unionByName(fresh)


def _order_epoch(order: DataFrame) -> int:
    v = order.agg(F.max("epoch")).collect()[0][0]
    return int(v) if v is not None else 0


def _positioned_rows(tok: DataFrame, order: DataFrame) -> DataFrame:
    """(id, s) rows + frozen (s, df) order → (id, s, n, pos) with pos
    assigned by (frozen df asc, s asc). The window is per-doc over the
    rows being positioned (one batch / one delta), NEVER the corpus."""
    w = Window.partitionBy("id")
    return (tok.join(order, "s", "left")
            .fillna(0, ["df"])
            .withColumn("n", F.count(F.lit(1)).over(w))
            .withColumn("pos", F.row_number().over(
                w.orderBy(F.col("df").asc(), F.col("s").asc())))
            .select("id", "s", "n", "pos"))


def _doc_sets(tok: DataFrame, order: DataFrame) -> DataFrame:
    """(id, s) rows → one row per doc: (id, n, tids, unseen) with tids
    the sorted stable ids of elements present in the order and unseen
    the sorted strings of elements that are not (collect_list skips
    nulls on both legs). n counts ALL elements, so the Jaccard
    denominator never depends on the tid/unseen split."""
    return (tok.join(order.select("s", "tid"), "s", "left")
            .groupBy("id")
            .agg(F.sort_array(F.collect_list("tid")).alias("tids"),
                 F.sort_array(F.collect_list(
                     F.when(F.col("tid").isNull(), F.col("s"))))
                 .alias("unseen"),
                 F.count(F.lit(1)).alias("n")))


def _resolve_unseen(sets_: DataFrame, order: DataFrame) -> DataFrame:
    """Re-classify each doc's unseen strings against the CURRENT order:
    elements that gained a tid at a refresh AFTER the doc's ingest move
    from the string array into the int array, so two docs ingested
    under different order epochs always compare element-for-element.
    Only rows with a non-empty unseen array pay (an explode bounded by
    the count of unseen element occurrences — rare vocabulary by
    construction); everything else passes through untouched."""
    with_u = sets_.filter(F.size("unseen") > 0)
    no_u = sets_.filter(F.size("unseen") == 0)
    mapped = (with_u.select("id", F.explode("unseen").alias("s"))
              .join(order.select("s", "tid"), "s", "left")
              .groupBy("id")
              .agg(F.collect_list("tid").alias("__t2__"),
                   F.sort_array(F.collect_list(
                       F.when(F.col("tid").isNull(), F.col("s"))))
                   .alias("__u2__")))
    resolved = (with_u.join(mapped, "id")
                .select("id", "n",
                        F.sort_array(F.concat("tids", "__t2__"))
                        .alias("tids"),
                        F.col("__u2__").alias("unseen")))
    return no_u.unionByName(resolved)


def jaccard_pairs_positional(candidates: DataFrame, sets_: DataFrame,
                             threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard verify over PRE-BUILT per-doc arrays (r12 — the
    stable-order index's verify): each candidate pair costs two equi-
    join probes and one int-array intersect (+ a string intersect over
    the tiny unseen arrays). Unlike :func:`jaccard_pairs_ids` there is
    NO per-query vocabulary build and NO corpus-wide token join — the
    arrays were written once at ingest under the order's stable tids —
    and unlike :func:`jaccard_pairs_counts` nothing scales with
    pairs × tokens. ``sets_`` must already be unseen-resolved against
    one single order (:func:`_resolve_unseen`)."""
    a = sets_.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"),
                     F.col("tids").alias("__ta__"),
                     F.col("unseen").alias("__ua__"))
    b = sets_.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"),
                     F.col("tids").alias("__tb__"),
                     F.col("unseen").alias("__ub__"))
    j = (candidates.join(a, "id_a").join(b, "id_b")
         .withColumn("inter",
                     F.size(F.array_intersect("__ta__", "__tb__"))
                     + F.size(F.array_intersect("__ua__", "__ub__")))
         .withColumn("jaccard",
                     F.col("inter")
                     / (F.col("n_a") + F.col("n_b") - F.col("inter"))))
    return (j.filter(F.col("jaccard") >= F.lit(float(threshold)))
            .select("id_a", "id_b", "jaccard"))


def append_positioned_index(df: DataFrame, id_col: str, text_col: str,
                            path: str, batch: int, spark,
                            order_path: str,
                            shingle_n: int | None = 3) -> None:
    """Ingest one batch into the stable-order index: positioned element
    rows (id, s, n, pos) under the FROZEN order in a batch-keyed
    OVERWRITE directory — positioned rows are deterministic per doc
    given the frozen order, so an at-least-once replay of batch k
    rewrites identical bytes (the CMS idempotence pattern); read time
    therefore needs NO dropDuplicates shuffle, the single biggest
    per-query cost the append+dedup layout would re-pay on every delta
    query. This batch's own (s, df) shard lands under ``<path>/df`` the
    same way so the CURRENT df is one SUM away for the staleness audit
    — the stored corpus is never re-tokenized for either purpose."""
    import os

    staged, elems = _staged_elems(df, text_col, shingle_n,
                                  keep=[F.col(id_col).alias("id")])
    tok = staged.select("id", F.explode(elems).alias("s"))
    order = spark.read.parquet(order_path)
    (_positioned_rows(tok, order.select("s", "df"))
     .withColumn("epoch", F.lit(_order_epoch(order)))
     .write.mode("overwrite")
     .parquet(os.path.join(path, "rows", f"batch={int(batch)}")))
    (tok.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
     .write.mode("overwrite")
     .parquet(os.path.join(path, "df", f"batch={int(batch)}")))
    if "tid" in order.columns:
        # sets sidecar (r12, the positional verify): one compact row per
        # doc — sorted int-array of stable element ids + the (rare)
        # not-yet-in-order elements as strings. tids never change
        # meaning (stable across refreshes), so this table is written
        # once at ingest and NEVER rewritten; unseen elements that gain
        # a tid at a later refresh are remapped at query time from the
        # tiny string arrays, never by touching stored bytes.
        (_doc_sets(tok, order)
         .withColumn("epoch", F.lit(_order_epoch(order)))
         .write.mode("overwrite")
         .parquet(os.path.join(path, "sets", f"batch={int(batch)}")))


def _sets_complete(path: str) -> bool:
    """True iff every stored rows batch has its sets sidecar — the
    structural prerequisite for the positional verify (tids in the
    order are checked separately; both hold for any index frozen or
    refreshed on an r12+ engine)."""
    import os

    rows_root = os.path.join(path, "rows")
    sets_root = os.path.join(path, "sets")
    if not os.path.isdir(sets_root) or not os.path.isdir(rows_root):
        return False
    row_b = {d for d in os.listdir(rows_root) if d.startswith("batch=")}
    return row_b <= set(os.listdir(sets_root))


def prefix_join_stable_delta(spark, path: str, order_path: str,
                             delta: DataFrame, id_col: str, text_col: str,
                             threshold: float = 0.5,
                             shingle_n: int | None = 3,
                             pair_bound: str = "aggregate",
                             verify: str | None = None) -> DataFrame:
    """The stable-order form of :func:`prefix_join_index_delta`: pairs
    between a NEW batch and the stored corpus (plus within-batch pairs)
    at Jaccard >= threshold, recall 1.0, with the stored side's prefix
    rows read STRAIGHT from the positioned index — no df recompute, no
    corpus-wide window, no re-tokenize. The only corpus-scale work left
    in the delta path is a parquet scan of positioned rows with the
    prefix predicate pushed to the scan, plus the candidate-bounded
    verify joins.

    Exactness argument: both sides assign positions under the SAME
    frozen order (stored rows at ingest, delta rows here), so the
    prefix lemma and the PPJoin positional bound hold verbatim — the
    order being stale w.r.t. current dfs costs candidate volume only,
    never a pair. Delta ids are assumed disjoint from stored ids (the
    ingest contract shared by every delta form). Output
    (id_a, id_b, jaccard) with id_a < id_b.

    ``verify=None`` (the default, r13) resolves to ``"positional"``
    when the index supports it (tid-carrying order + a sets sidecar for
    every stored batch — any index frozen or refreshed on an r12+
    engine) and falls back to ``"counts"`` for pre-r12 indexes — the
    SCALE.md r12 adjudication made positional the recommended form
    (bulk 0.52× the counts twin, realistic 1% delta slightly faster at
    both scales), so the default now follows the documentation.
    Explicit values behave as before, including the loud refusal when
    ``"positional"`` is requested on an index that cannot serve it.
    """
    import os

    if pair_bound not in ("positional", "aggregate"):
        raise ValueError(
            f"pair_bound must be positional|aggregate, got {pair_bound!r}")
    if verify not in ("counts", "ids", "positional", None):
        raise ValueError(
            f"verify must be counts|ids|positional, got {verify!r}")
    t = float(threshold)
    par = delta.sparkSession.sparkContext.defaultParallelism
    staged, elems = _staged_elems(delta.repartition(par, F.col(id_col)),
                                  text_col, shingle_n,
                                  keep=[F.col(id_col).alias("id")])
    new_tok = staged.select("id", F.explode(elems).alias("s"))
    order = spark.read.parquet(order_path)
    epoch = _order_epoch(order)
    if verify is None:
        # r13 default flip: positional wherever the index can serve it
        # (tid order + complete sets sidecar); counts for pre-r12
        # indexes — auto-detected so a caller never needs to know the
        # index vintage, while an EXPLICIT "positional" still refuses
        # loudly below rather than silently degrading
        verify = ("positional"
                  if "tid" in order.columns and _sets_complete(path)
                  else "counts")
    # UNPERSISTED by design (r11): new_pos has three consumers (two
    # candidate legs + the verify), but caching it was measured SLOWER
    # at the 10× rig's bulk fixture — the cache write serializes the
    # full positioned rows, while without it Catalyst column-prunes the
    # position Window entirely out of the verify leg (which only needs
    # (id, s)) and the recomputes pipeline inside each consumer's own
    # stage. A 1% nightly delta re-tokenizes ~nothing in absolute terms.
    new_pos = _positioned_rows(new_tok, order.select("s", "df"))
    # no read-time dedup: batch-keyed OVERWRITE makes replay idempotent
    stored_raw = (spark.read.option("basePath", os.path.join(path, "rows"))
                  .parquet(os.path.join(path, "rows")))
    # epoch guard, PER BATCH: positions are only meaningful under the
    # ONE order they were computed from — a crashed or concurrent
    # refresh can leave rows and order on different epochs, and a
    # silent mix would lose recall; refuse instead (re-running
    # refresh_prefix_order heals the index). A batch passes either by
    # its own row epoch or by an epoch-manifest entry proving an
    # incremental refresh validated its rows against THIS order epoch
    # without rewriting them (refresh_prefix_order incremental=True).
    man = _load_epoch_manifest(path)
    eps = (stored_raw.groupBy("batch")
           .agg(F.min("epoch").alias("lo"), F.max("epoch").alias("hi"))
           .collect())
    # a manifest entry vouches a batch only for the EXACT row epoch it
    # fingerprinted against this order epoch: rows NEWER than recorded
    # mean a later refresh touched the batch and crashed before
    # re-vouching; rows OLDER (or mixed) mean an ingest replay that read
    # a pre-refresh order overwrote the batch after the manifest landed
    # — the manifest never saw those rows, so `<=` would vouch
    # old-order positions and silently lose recall (r9 advisor).
    # Either way: refuse; re-running refresh_prefix_order heals.

    def vouched(batch: int, lo, hi) -> bool:
        entry = man.get(batch)
        if entry is None:
            return False
        rows_epoch, order_epoch = entry
        return (order_epoch == epoch and rows_epoch is not None
                and lo == rows_epoch and hi == rows_epoch)

    bad = [r for r in eps
           if not ((r["lo"] == epoch and r["hi"] == epoch)
                   or vouched(int(r["batch"]), r["lo"], r["hi"]))]
    if bad:
        detail = ", ".join(
            f"batch={r['batch']} rows=[{r['lo']},{r['hi']}] "
            f"manifest={man.get(int(r['batch']))}" for r in bad)
        raise ValueError(
            f"stable-order index epoch mismatch: order is epoch {epoch} "
            f"but {detail} — an order refresh crashed mid-swap or is "
            "running; re-run refresh_prefix_order to heal the index")
    stored = stored_raw.select("id", "s", "n", "pos")

    def prefix(rows: DataFrame) -> DataFrame:
        # one-sided 1e-9 relaxation: FP wobble may only LENGTHEN the
        # prefix (extra candidates, killed by exact verify)
        return rows.filter(
            F.col("pos")
            <= F.col("n") - F.ceil(F.col("n") * F.lit(t) - 1e-9) + 1)

    d = prefix(new_pos).select(F.col("id").alias("id_d"),
                               F.col("n").alias("n_d"),
                               F.col("pos").alias("__pd__"), "s")
    s = prefix(stored).select(F.col("id").alias("id_s"),
                              F.col("n").alias("n_s"),
                              F.col("pos").alias("__ps__"), "s")
    len_ds = ((F.col("n_s") >= F.col("n_d") * F.lit(t) - 1e-9)
              & (F.col("n_d") >= F.col("n_s") * F.lit(t) - 1e-9))
    d2 = d.select(F.col("id_d").alias("id_b"), F.col("n_d").alias("n_b"),
                  F.col("__pd__").alias("__pb__"), "s")
    len_dd = ((F.col("n_b") >= F.col("n_d") * F.lit(t) - 1e-9)
              & (F.col("n_d") >= F.col("n_b") * F.lit(t) - 1e-9))
    if pair_bound == "aggregate":
        # PPJoin+ pair bound, ported from prefix_candidates (r11): both
        # sides are positioned under the SAME frozen order, so the
        # _cand_aggregate proof applies verbatim — c counts ALL shared
        # both-prefix elements exactly and the remainder sits strictly
        # after both max positions. The per-row positional filter must
        # NOT run first (it would undercount c); the bound replaces it.
        # Honest rig numbers (SCALE.md r11): on the word-salted bulk
        # fixture it prunes only 1.24M → 1.19M (matches land early, so
        # the suffix-capacity term stays loose) at the same join cost —
        # kept as the default because it is never weaker than a single
        # row's bound and wins on template-boilerplate corpora (the
        # prefix_candidates measurement: 310k → 125k).
        swap = F.col("id_d") > F.col("id_s")
        cross_rows = (
            d.join(s, "s").filter(len_ds)
            .select(F.least("id_d", "id_s").alias("id_a"),
                    F.greatest("id_d", "id_s").alias("id_b"),
                    F.when(swap, F.col("n_s")).otherwise(F.col("n_d"))
                    .alias("n_a"),
                    F.when(swap, F.col("n_d")).otherwise(F.col("n_s"))
                    .alias("n_b"),
                    F.when(swap, F.col("__ps__")).otherwise(F.col("__pd__"))
                    .alias("__pa__"),
                    F.when(swap, F.col("__pd__")).otherwise(F.col("__ps__"))
                    .alias("__pb__")))
        within_rows = (
            d.join(d2, "s")
            .filter((F.col("id_d") < F.col("id_b")) & len_dd)
            .select(F.col("id_d").alias("id_a"), "id_b",
                    F.col("n_d").alias("n_a"), "n_b",
                    F.col("__pd__").alias("__pa__"),
                    F.col("__pb__")))
        cand = _cand_aggregate(cross_rows.unionByName(within_rows), t)
    else:
        o_req_ds = F.ceil((F.col("n_d") + F.col("n_s"))
                          * F.lit(t / (1.0 + t)) - 1e-9)
        cross = (d.join(s, "s")
                 .filter(len_ds
                         & (F.least(F.col("n_d") - F.col("__pd__"),
                                    F.col("n_s") - F.col("__ps__")) + 1
                            >= o_req_ds))
                 .select(F.least("id_d", "id_s").alias("id_a"),
                         F.greatest("id_d", "id_s").alias("id_b")))
        o_req_dd = F.ceil((F.col("n_d") + F.col("n_b"))
                          * F.lit(t / (1.0 + t)) - 1e-9)
        within = (d.join(d2, "s")
                  .filter((F.col("id_d") < F.col("id_b")) & len_dd
                          & (F.least(F.col("n_d") - F.col("__pd__"),
                                     F.col("n_b") - F.col("__pb__")) + 1
                             >= o_req_dd))
                  .select(F.col("id_d").alias("id_a"), "id_b"))
        cand = cross.unionByName(within).distinct()
    # verify over (id, s) rows from BOTH sides — the positioned index
    # doubles as the element store; the delta leg goes through new_pos
    # so Catalyst prunes it to (id, s) (the Window drops out of this
    # branch entirely — see the unpersisted-by-design note above).
    # Verify form (r11, all exact — equality test-pinned at two
    # scales and three thresholds; default since r13 = positional on
    # any index that can serve it, counts otherwise):
    # - "counts": the long-form pairs×tokens shuffle — its
    #   cost scales with CANDIDATES, so a realistic small delta pays
    #   nearly nothing (5.6s at the 10× rig's 1% shape).
    # - "ids": dictionary-encoded int-array intersect — pays a
    #   corpus-sized vocabulary+array build UP FRONT but each of the
    #   1.2M bulk-fixture pairs then costs one ~1 KB intersect instead
    #   of a ~120-row join fan-out (fresh-JVM mins at 10×: 16.2 vs
    #   19.7 bulk — and 9.2 vs 5.4 on the 1% shape, which is why it is
    #   NOT the default: right only when candidates ≈ corpus).
    # - "positional" (r12): per-doc int-arrays read STRAIGHT from the
    #   sets sidecar written at ingest under the order's STABLE tids —
    #   the ids-verify's per-pair cost with its corpus-sized
    #   vocabulary+array build amortized into the index. The delta side
    #   builds its arrays from the already-exploded delta tokens; the
    #   stored side is a parquet scan of ~1 KB rows. Requires a
    #   tid-carrying order and a sets/ dir per batch (any index frozen
    #   or refreshed on this engine version).
    if verify == "positional":
        if "tid" not in order.columns:
            raise ValueError(
                "positional verify needs a tid-carrying order — re-run "
                "freeze_prefix_order or refresh_prefix_order on this "
                "engine version (tids are assigned there and are stable "
                "thereafter)")
        sets_root = os.path.join(path, "sets")
        row_b = {d for d in os.listdir(os.path.join(path, "rows"))
                 if d.startswith("batch=")}
        set_b = (set(os.listdir(sets_root))
                 if os.path.isdir(sets_root) else set())
        if not row_b <= set_b:
            raise ValueError(
                f"positional verify: sets sidecar missing for batches "
                f"{sorted(row_b - set_b)} — re-ingest those batches (or "
                "use verify='counts')")
        stored_sets = (spark.read.option("basePath", sets_root)
                       .parquet(sets_root)
                       .select("id", "n", "tids", "unseen", "epoch"))
        delta_sets = _doc_sets(new_tok, order).select(
            "id", "n", "tids", "unseen")
        # unseen→tid remap is needed ONLY for batches ingested under an
        # OLDER order (a refresh may have tid'd their unseen strings);
        # a batch at the current order epoch is classified against this
        # exact order already, and tokens absent from the current order
        # can't be in any tid array — so the no-refresh case (the
        # common one) skips the remap's corpus-wide explode entirely
        cur = (stored_sets.filter(F.col("epoch") == F.lit(epoch))
               .drop("epoch"))
        stale = (stored_sets.filter(F.col("epoch") != F.lit(epoch))
                 .drop("epoch"))
        all_sets = stage(delta_sets.unionByName(cur)
                         .unionByName(_resolve_unseen(stale, order)),
                         "memory")  # consumed by BOTH pair-join legs
        out = stage(jaccard_pairs_positional(cand, all_sets, t),
                    "checkpoint")
        release(all_sets)
        return out
    tok_all = (new_pos.select("id", "s")
               .unionByName(stored.select("id", "s"))
               .select(F.col("id").alias("__id__"), F.col("s").alias("__s__")))
    verify_fn = jaccard_pairs_ids if verify == "ids" else jaccard_pairs_counts
    return stage(verify_fn(cand, tok_all, "__id__", threshold=t),
                 "checkpoint")


def prefix_order_staleness(spark, path: str, order_path: str) -> DataFrame:
    """One-row drift report between the FROZEN order basis and the
    CURRENT dfs (frozen corpus + every ingested batch, SUM-merged from
    the per-batch shards — no re-tokenize): element counts on each side,
    new/vanished elements, total |Δdf|, max |Δdf|, and the drift ratio
    Σ|Δdf| / Σ current df. This is the number an owner thresholds to
    schedule an order refresh (refreshing is a correctness no-op; it
    only re-tightens candidate volume)."""
    import os

    frozen = spark.read.parquet(order_path) \
        .select("s", F.col("df").alias("df_frozen"))
    current = (spark.read.option("basePath", os.path.join(path, "df"))
               .parquet(os.path.join(path, "df"))
               .groupBy("s").agg(F.sum("df").cast("bigint").alias("df_now")))
    j = (frozen.join(current, "s", "full")
         .select(
             F.col("s"),
             F.coalesce("df_frozen", F.lit(0)).alias("f"),
             F.coalesce("df_now", F.lit(0)).alias("c")))
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_elements"),
        F.sum(F.when(F.col("f") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("c") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_vanished"),
        F.sum(F.abs(F.col("c") - F.col("f"))).cast("bigint")
        .alias("total_abs_drift"),
        F.max(F.abs(F.col("c") - F.col("f"))).cast("bigint")
        .alias("max_abs_drift"),
        (F.sum(F.abs(F.col("c") - F.col("f"))).cast("double")
         / F.sum("c").cast("double")).alias("drift_ratio"))


def _epoch_manifest_path(path: str) -> str:
    import os

    return os.path.join(path, "rows_epochs.json")


def _load_epoch_manifest(path: str) -> dict[int, tuple[int, int]]:
    """batch id → ``(rows_epoch, order_epoch)``: the EXACT row epoch the
    incremental refresh observed when it validated the batch (old epoch
    for skipped batches, the new epoch for rewritten ones) and the order
    epoch it validated against. Requiring the stored rows to still carry
    exactly ``rows_epoch`` closes the replay hole the former ``hi <=
    manifest`` form left open: an at-least-once ingest replay that read
    the PRE-refresh order but landed AFTER the manifest writes
    older-epoch, old-order rows — under ``<=`` those were vouched and
    silently mixed orders (r9 advisor); under ``==`` they raise.

    Legacy one-int entries (pre-r10 manifests vouched only the order
    epoch) load as ``rows_epoch=None`` — never vouchable, so a stale
    index fails loud and one refresh heals it."""
    import json
    import os

    p = _epoch_manifest_path(path)
    if not os.path.isfile(p):
        return {}
    with open(p) as f:
        raw = json.load(f)
    out: dict[int, tuple[int, int]] = {}
    for k, v in raw.items():
        if isinstance(v, list):
            out[int(k)] = (int(v[0]), int(v[1]))
        else:  # legacy format: order epoch only, rows epoch unknown
            out[int(k)] = (None, int(v))
    return out


def _row_fingerprint(rows: DataFrame):
    """Order-independent content fingerprint of positioned rows: row
    count + decimal sum of per-row xxhash64 over (id, s, n, pos) —
    epoch excluded, it is bookkeeping not content. Collision odds are
    the 64-bit birthday bound per batch; the decimal sum cannot
    overflow."""
    return rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("id", "s", "n", "pos")
              .cast("decimal(38,0)")).alias("h")).collect()[0]


def refresh_prefix_order(spark, path: str, order_path: str,
                         incremental: bool = True) -> dict:
    """Re-freeze the element order from the index's CURRENT df shards
    and reposition every stored batch under it — the amortized answer
    to order staleness (:func:`prefix_order_staleness` tells you when).

    Cost model: the new order is one SUM over the per-batch (s, df)
    shards (element-level, no text); repositioning is one per-doc
    window over the stored (id, s) rows — hash-width columns, NO
    re-tokenize (the expensive stage at 100 TB is shingling, and it
    never reruns). This is exactly the pass the order-recompute delta
    form paid on EVERY query, now paid once per refresh and amortized
    across all queries until drift crosses the owner's threshold again.
    Correctness is unaffected either way (any consistent order is
    exact); a refresh only re-tightens candidate volume.

    Batch layout is preserved (each batch directory rewritten with the
    same deterministic-given-order rows), so at-least-once replay
    semantics and the df shards stay valid unchanged.

    ``incremental=True`` (NOTES r8 triage item, built r9) skips the
    REWRITE of any batch whose repositioned rows are byte-identical to
    what is stored — a doc's rows change only if the new order flips
    the relative rank of two of its own elements, so after mild drift
    most batches are unchanged. The proof is an order-independent
    content fingerprint (count + decimal sum of row hashes) computed
    from the repositioned frame vs the stored one; matching batches are
    recorded in a sidecar epoch manifest (batch → [exact validated row
    epoch, order epoch]) instead of being rewritten, and the delta
    join's guard accepts a batch only when its stored rows still carry
    EXACTLY the recorded row epoch — rows older than recorded (an
    at-least-once ingest replay that positioned under a pre-refresh
    order and landed after the manifest) refuse just like rows newer
    than recorded (r9 advisor). The COMPUTE (reposition + compare
    aggregates over hash-width columns) still runs for every batch —
    that is what proves correctness — the saving is the write volume
    and file churn, which is the replication-amplified cost at 100 TB.

    Crash safety: the refresh is NOT atomic (it swaps one batch
    directory at a time, order next, manifest last), but every row
    carries the epoch it was positioned under, the new epoch strictly
    exceeds BOTH the max stored row epoch and the current order epoch,
    and a manifest entry can only validate the exact order epoch it
    recorded — so any interrupted state (some batches repositioned,
    order not yet swapped, manifest stale, or vice versa) is DETECTED
    by the delta join's per-batch epoch guard and raises instead of
    silently mixing orders; re-running this function heals the index.
    Do not run a refresh concurrently with delta queries: they may
    fail-fast on the guard mid-swap and succeed on retry.

    Returns ``{"epoch": E, "rewritten": [...], "skipped": [...]}``."""
    import json
    import os
    import shutil

    rows_root = os.path.join(path, "rows")
    stored = (spark.read.option("basePath", rows_root).parquet(rows_root))
    prev = stored.agg(F.max("epoch")).collect()[0][0]
    prev = int(prev) if prev is not None else 0
    old_order = None
    if os.path.isdir(order_path):
        # an all-skipped incremental refresh advances the ORDER epoch
        # without touching row epochs — the next epoch must clear both,
        # or a changed order could reuse a number the manifest already
        # validated batches against
        old_order = spark.read.parquet(order_path)
        prev = max(prev, _order_epoch(old_order))
    new_epoch = prev + 1
    current = (spark.read.option("basePath", os.path.join(path, "df"))
               .parquet(os.path.join(path, "df"))
               .groupBy("s").agg(F.sum("df").cast("bigint").alias("df"))
               .withColumn("epoch", F.lit(new_epoch)))
    # stable tids carried over (r12): existing elements keep theirs, new
    # vocabulary ranks above each bucket's old max — stored per-doc
    # int-arrays (the sets sidecar) stay valid without any rewrite
    current = _with_tids(current, old_order)
    tmp_order = order_path + ".next"
    current.write.mode("overwrite").parquet(tmp_order)
    order = spark.read.parquet(tmp_order).select("s", "df")
    # a doc lives entirely in ONE ingest batch, so each batch directory
    # repositions independently (n and pos depend only on the doc's own
    # rows + the shared order); the loop is over ingest batches, not
    # data — driver-side by construction and ingest-count-bounded
    batches = sorted(d for d in os.listdir(rows_root)
                     if d.startswith("batch="))
    staged, skipped = [], []
    validated: dict[str, list[int]] = {}
    for b in batches:
        bid = b.split("=", 1)[1]
        stored_b = spark.read.parquet(os.path.join(rows_root, b))
        repos = _positioned_rows(stored_b.select("id", "s"), order)
        if incremental:
            new_fp = _row_fingerprint(repos)
            old = stored_b.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("id", "s", "n", "pos")
                      .cast("decimal(38,0)")).alias("h"),
                F.min("epoch").alias("lo"),
                F.max("epoch").alias("hi")).collect()[0]
            # an EMPTY batch (every doc below the shingle width, or an
            # empty replayed delta — legitimate at ingest) has nothing
            # to reposition and nothing the delta join's epoch guard
            # can see (it aggregates per batch over ROWS): skip it with
            # no manifest entry instead of int(None)-crashing on its
            # NULL epoch aggregate (r13 fuzzer catch, seed 20260818001)
            if int(old["n"]) == 0:
                skipped.append(b)
                continue
            # skip only a SINGLE-epoch batch: the manifest vouches the
            # one exact row epoch the fingerprint proved (r9 advisor —
            # `<=` let pre-refresh-order replay rows pass); a
            # mixed-epoch batch gets rewritten, which normalizes it
            if ((new_fp["n"], new_fp["h"]) == (old["n"], old["h"])
                    and old["lo"] == old["hi"]):
                skipped.append(b)
                validated[bid] = [int(old["lo"]), new_epoch]
                continue
        out = os.path.join(path, f"rows.next.{b}")
        (repos.withColumn("epoch", F.lit(new_epoch))
         .write.mode("overwrite").parquet(out))
        staged.append((out, os.path.join(rows_root, b)))
        validated[bid] = [new_epoch, new_epoch]
    if staged:
        # the OLD manifest vouches batches against the OLD order epoch;
        # once any batch is rewritten under the NEW order, a crash
        # before the order swap would leave that manifest vouching a
        # new-order batch against the old order — remove it BEFORE the
        # first swap so every crash window downgrades to "nothing
        # validates, guard raises, re-run heals" (r9 review finding #1)
        try:
            os.remove(_epoch_manifest_path(path))
        except FileNotFoundError:
            pass
    for out, dst in staged:
        shutil.rmtree(dst, ignore_errors=True)
        os.replace(out, dst)
    shutil.rmtree(order_path, ignore_errors=True)
    os.replace(tmp_order, order_path)
    manifest = validated  # batch → [validated rows epoch, order epoch]
    tmp_man = _epoch_manifest_path(path) + ".next"
    with open(tmp_man, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp_man, _epoch_manifest_path(path))
    # the swaps happened at the filesystem level, not through a Spark
    # write — invalidate the session's cached file listings or a later
    # read in the SAME session resolves to the deleted pre-swap files
    spark.catalog.refreshByPath(rows_root)
    spark.catalog.refreshByPath(order_path)
    return {"epoch": new_epoch,
            "rewritten": [b for _, b in staged], "skipped": skipped}
