"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design (north-star §2.11): the payload is a ``binary`` column; everything
the engine needs to route/partition/filter lives in a typed ``meta``
struct (mime, byte size, checksum, source). Decode / feature-extract /
resize / frame-sample run as Arrow-batched ``mapInPandas`` stages so the
heavy bytes never cross a Python row boundary — one pandas batch per
parquet row-group.

The actual codec step is STUBBED (image/audio libraries are not in this
environment): ``decode_stub`` raises NotImplementedError unless
``fake=True``, in which case it produces a deterministic fake feature
vector from the bytes. The Spark-side plumbing — schema, batching,
partition behavior — is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..staging import release, stage

FEATURE_DIM = 8

FEATURES_SCHEMA = "id bigint, mime string, n_bytes bigint, features array<double>"


def pack(df: DataFrame, id_col: str, payload_text: str, mime: str) -> DataFrame:
    """Build a multimodal frame from raw content: binary payload + meta.
    (Testdata has no true binary media; utf-8 document bytes stand in —
    the engine treats payloads as opaque either way.)"""
    payload = F.encode(F.col(payload_text), "utf-8")
    return df.select(
        F.col(id_col).alias("id"),
        payload.alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.octet_length(payload).alias("n_bytes"),
            F.md5(F.col(payload_text)).alias("checksum"),
        ).alias("meta"),
    )


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real decoder: first FEATURE_DIM bytes,
    scaled — stable across runs/engines, shaped like an embedding."""
    head = payload[:FEATURE_DIM].ljust(FEATURE_DIM, b"\0")
    return [b / 255.0 for b in head]


def decode_stub(payload: bytes, mime: str, fake: bool = False) -> list[float]:
    if fake:
        return _fake_features(payload)
    raise NotImplementedError(
        f"no codec for {mime} in this environment; pass fake=True for the "
        "deterministic test double"
    )


RESIZED_SCHEMA = "id bigint, mime string, payload binary, width int, height int"
FRAMES_SCHEMA = "id bigint, frame_idx int, payload binary"


def resize(mm: DataFrame, width: int, height: int, fake: bool = True) -> DataFrame:
    """Image resize as an Arrow-batched transform. The codec is stubbed
    (no image libs here): fake mode truncates/pads the payload to
    width·height bytes — shape-correct plumbing, deterministic bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = width * height
        for pdf in batches:
            if not fake:
                raise NotImplementedError("no image codec in this environment")
            yield pd.DataFrame({
                "id": pdf["id"],
                "mime": [m["mime"] for m in pdf["meta"]],
                "payload": [bytes(p[:n]).ljust(n, b"\0") for p in pdf["payload"]],
                "width": width,
                "height": height,
            })

    return mm.mapInPandas(run, RESIZED_SCHEMA)


def frame_sample(mm: DataFrame, every_n_bytes: int = 64,
                 max_frames: int = 4, fake: bool = True) -> DataFrame:
    """Video frame sampling: one input row → N frame rows (1:N mapInPandas
    fan-out, the shape a real decoder uses). Fake mode slices the payload
    at fixed offsets."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError("no video codec in this environment")
            ids, idxs, payloads = [], [], []
            for pid, p in zip(pdf["id"], pdf["payload"]):
                for k in range(min(max_frames, max(1, len(p) // every_n_bytes))):
                    ids.append(pid)
                    idxs.append(k)
                    payloads.append(bytes(p[k * every_n_bytes:(k + 1) * every_n_bytes]))
            yield pd.DataFrame({"id": ids, "frame_idx": idxs, "payload": payloads})

    return mm.mapInPandas(run, FRAMES_SCHEMA)


def extract_features(mm: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over (payload, meta).

    mapInPandas keeps batch shape = Arrow record batch; at scale tune
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` to bound the bytes
    held per batch (payloads are large; 10k rows of 1 MB images is 10 GB).
    """

    dim = FEATURE_DIM

    # self-contained closure: references only locals + pandas, so
    # cloudpickle ships it BY VALUE — workers never need to import this
    # package (the driver may run from any cwd / without our PYTHONPATH)
    def decode(payload: bytes, mime: str) -> list[float]:
        if not fake:
            raise NotImplementedError(f"no codec for {mime} in this environment")
        head = payload[:dim].ljust(dim, b"\0")
        return [b / 255.0 for b in head]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "id": pdf["id"],
                "mime": [m["mime"] for m in pdf["meta"]],
                "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                "features": [decode(p, m["mime"])
                             for p, m in zip(pdf["payload"], pdf["meta"])],
            })

    return mm.mapInPandas(run, FEATURES_SCHEMA)


def frame_energy(mm: DataFrame, frame_bytes: int = 16,
                 max_frames: int = 8, fake: bool = True) -> DataFrame:
    """Audio-style frame energy: per fixed-size payload frame, the byte
    "power" (sum and sum-of-squares) — the silence/voice-activity
    segmentation primitive of an audio pipeline, with the codec stubbed
    exactly like resize/frame_sample. Fan-out and arithmetic are real:
    1:N mapInPandas rows with integer energies, so the fake path is
    fully ORACLE-PAIRED (the only multimodal ops with driver-grade
    evidence were single-row shapes until this one)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("energy", T.LongType()),
        T.StructField("energy_sq", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError("no audio codec in this environment")
            ids, idxs, lens, es, e2s = [], [], [], [], []
            for pid, p in zip(pdf["id"], pdf["payload"]):
                n = min(max_frames,
                        max(1, (len(p) + frame_bytes - 1) // frame_bytes))
                for k in range(n):
                    fr = bytes(p[k * frame_bytes:(k + 1) * frame_bytes])
                    ids.append(pid)
                    idxs.append(k)
                    lens.append(len(fr))
                    es.append(sum(fr))
                    e2s.append(sum(b * b for b in fr))
            yield pd.DataFrame({"id": ids, "frame_idx": idxs,
                                "n_bytes": lens, "energy": es,
                                "energy_sq": e2s})

    return mm.mapInPandas(run, schema)


#: aHash geometry: 64 "pixels" (the classic 8×8 average hash), split
#: into 4 bands of 16 bits for the LSH-style candidate join.
AHASH_PX = 64
AHASH_BANDS = 4
_BAND_BITS = AHASH_PX // AHASH_BANDS


def ahash_bands(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Perceptual average-hash (aHash — the classic 8×8 mean-threshold
    image fingerprint) over the multimodal payload, emitted as 4×16-bit
    band integers.

    Decode is stubbed per this module's convention: the "grayscale
    pixels" are the code points of the payload's first 64 characters
    (deterministic, engine-portable — with a real image codec the pixel
    extraction is the only stage that changes; the thresholding, band
    packing, and pair search below are codec-independent). bit_i =
    pixel_i ≥ mean, computed as ``v·64 ≥ Σv`` so the threshold is exact
    integer arithmetic with no division, and each band is Σ bit·2^j —
    everything scan-local, pure codegen, no shuffle.
    """
    c = F.rpad(F.col(text_col), AHASH_PX, " ")
    # STAGED: pixels land in ONE array column, the total in one more —
    # inlining the 64-term sum into each of 64 bit expressions makes a
    # 4096-term tree per row (catalyst CSE does not share across them;
    # the gopher-gate lesson) and blew the JIT heap at sf0.1.
    vs = F.array(*[F.ascii(F.substring(c, i + 1, 1))
                   for i in range(AHASH_PX)])
    staged = (df.select(F.col(id_col).alias("id"), vs.alias("__vs__"))
              .withColumn("__tot__",
                          F.aggregate("__vs__", F.lit(0).cast("bigint"),
                                      lambda acc, v: acc + v)))
    powers = F.array(*[F.lit(1 << j).cast("bigint")
                       for j in range(_BAND_BITS)])
    # coalesce makes each band provably NON-NULL: without it, a
    # downstream filter over the bands makes Catalyst infer
    # isnotnull(band) constraints and push them to the SCAN — where the
    # projection staging collapses and the 64-term total re-inlines into
    # every element lambda (64×64 terms per null-check per row; measured
    # 46s at sf0.1 and an OOM in the unstaged form, vs ~4s with this).
    bands = [
        F.coalesce(
            F.aggregate(
                F.zip_with(F.slice("__vs__", b * _BAND_BITS + 1, _BAND_BITS),
                           powers,
                           lambda x, p: F.when(
                               x * AHASH_PX >= F.col("__tot__"), p
                           ).otherwise(F.lit(0).cast("bigint"))),
                F.lit(0).cast("bigint"), lambda acc, v: acc + v,
            ),
            F.lit(0).cast("bigint"),
        ).alias(f"band{b}")
        for b in range(AHASH_BANDS)
    ]
    return staged.select("id", *bands)


def ahash_pairs(df: DataFrame, id_col: str, text_col: str,
                max_hamming: int = 6) -> DataFrame:
    """Perceptual near-dup pairs: documents whose aHashes differ in at
    most ``max_hamming`` of 64 bits AND share at least one exact 16-bit
    band. The band condition is the standard pigeonhole blocker (any
    pair within hamming 6 < 4 bands MUST agree on ≥1 full band... when
    the 6 flips hit ≤3 bands; a worst-case spread of ≥4 flips across all
    4 bands is missed — the documented LSH-style recall trade), so
    candidates materialize from 4 equi-joins' worth of rows, never the
    |corpus|² product.

    One-pass dedup of multi-band matches: a candidate row survives only
    where the matched band is the FIRST shared band (array_position on
    the zipped equality vector) — no distinct, no second shuffle (the
    interval-overlap first-shared-bin pattern). Output (id_a, id_b,
    hamming), exact integers end to end.

    Identical-hash prepass (the standing rule for pairwise ops, see
    SCALE.md): docs with IDENTICAL 64-bit hashes collapse to one
    canonical before the band join — K perceptual copies of an image
    would otherwise grow every band bucket K× and the candidate stage
    K². Hash-groups re-expand at the end (within-group pairs at hamming
    0 plus cross-group pairs fanned to members), so the pair set is
    exactly what the no-prepass form emits and the oracle never sees
    the rewrite.
    """
    h = ahash_bands(df, id_col, text_col)
    names = [f"band{b}" for b in range(AHASH_BANDS)]
    groups = (h.groupBy(*names)
              .agg(F.array_sort(F.collect_list("id")).alias("__ids__")))
    canon = groups.select(F.element_at("__ids__", 1).alias("id"),
                          "__ids__", *names)
    # candidate generation explodes the bands; the hamming/guard stage
    # carries the four bands as SCALAR columns — a hot bucket pushes
    # millions of candidate rows through this stage, and scalar
    # bit_count/boolean exprs stay in whole-stage codegen where the
    # array zip_with/aggregate HOF form is interpreted per row
    # (measured 46s → ~3s at sf0.1).
    ex = canon.select(
        "id", "__ids__", *names,
        F.posexplode(F.array(*names)).alias("bidx", "bval"))
    a = ex.select(F.col("id").alias("ca"), F.col("__ids__").alias("ids_a"),
                  *[F.col(n).alias(f"a{i}") for i, n in enumerate(names)],
                  "bidx", "bval")
    b = ex.select(F.col("id").alias("cb"), F.col("__ids__").alias("ids_b"),
                  *[F.col(n).alias(f"b{i}") for i, n in enumerate(names)],
                  "bidx", "bval")
    hamming = None
    for i in range(AHASH_BANDS):
        t = F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")))
        hamming = t if hamming is None else hamming + t
    hamming = hamming.cast("bigint")
    diff = [F.col(f"a{i}") != F.col(f"b{i}") for i in range(AHASH_BANDS)]
    first_shared = F.when(F.col("bidx") == 0, F.lit(True))
    for i in range(1, AHASH_BANDS):
        cond = diff[0]
        for d_ in diff[1:i]:
            cond = cond & d_
        first_shared = first_shared.when(F.col("bidx") == i, cond)
    # cross-group: canonical pairs (hamming > 0 by construction), fanned
    # back out to every member pair with id_a < id_b normalization
    cross = (a.join(b, ["bidx", "bval"])
             .filter(F.col("ca") < F.col("cb"))
             .filter(first_shared)
             .withColumn("hamming", hamming)
             .filter(F.col("hamming") <= max_hamming)
             .select(F.explode("ids_a").alias("x"), "ids_b", "hamming")
             .select("x", F.explode("ids_b").alias("y"), "hamming")
             .select(F.least("x", "y").alias("id_a"),
                     F.greatest("x", "y").alias("id_b"), "hamming"))
    # within-group: every member pair of a hash group, hamming 0
    within = (canon.filter(F.size("__ids__") >= 2)
              .select(F.explode(F.flatten(F.transform(
                  "__ids__",
                  lambda x, i: F.transform(
                      F.slice(F.col("__ids__"), i + F.lit(2),
                              F.size(F.col("__ids__"))),
                      lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                  ),
              ))).alias("p"))
              .select("p.id_a", "p.id_b", F.lit(0).cast("bigint").alias("hamming")))
    return cross.unionByName(within)


def build_ahash_index(df: DataFrame, id_col: str, text_col: str,
                      path: str) -> None:
    """Persist the aHash band table — the perceptual-dedup index
    (the image twin of dedup_index's MinHash signatures): 4 BIGINT
    bands per id, ~40 bytes/row, scan-local to compute. Overwrite =
    full (re)build; append_ahash_index is the nightly path."""
    ahash_bands(df, id_col, text_col).write.mode("overwrite").parquet(path)


def append_ahash_index(df_new: DataFrame, id_col: str, text_col: str,
                       path: str) -> None:
    """Incremental ingest: hash the NEW payloads only and append.
    aHash is a pure function of the payload, so replaying a batch
    appends byte-identical rows — readers dropDuplicates on id, making
    the index idempotent under at-least-once delivery (the standing
    index convention). Ids must be immutable content ids (same id ⇒
    same payload, like every index in this family): re-ingesting a
    CHANGED payload under an old id makes the duplicate-drop pick
    arbitrary — delete + re-add under a new id instead."""
    ahash_bands(df_new, id_col, text_col).write.mode("append").parquet(path)


def read_ahash_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path).dropDuplicates(["id"])


def ahash_pairs_against_index(df_new: DataFrame, id_col: str, text_col: str,
                              spark, path: str,
                              max_hamming: int = 6) -> DataFrame:
    """Perceptual near-dup pairs between a NEW batch and the indexed
    corpus (plus within-batch pairs) — the nightly image-dedup query.
    Only the delta's payloads are hashed; the corpus side is the stored
    band table. Same match contract as ahash_pairs (≥1 shared 16-bit
    band AND hamming ≤ ``max_hamming``; same pigeonhole recall trade),
    pair order normalized, so the output equals a full-corpus run
    restricted to delta-touching pairs (asserted in tests).

    Plan (r10 — same canonical-group algorithm as :func:`ahash_pairs`,
    so the SCALE.md delta-vs-full comparison is like-for-like): docs
    with IDENTICAL 64-bit hashes collapse to one canonical group before
    the band join (on a densified hash space the exploded-candidate
    DISTINCT the previous form paid grows with the square of group
    size — the r9 sf1 rig measured it at 15.7s vs ahash_pairs' 1.26s
    for the same pair volume); cross-group candidates use the
    first-shared-band guard (no distinct), carry the bands as scalar
    columns for the codegen'd hamming, and member pairs fan back out
    at the end filtered to DELTA-touching (≥1 endpoint in the new
    batch), which is this query's contract."""
    delta = (ahash_bands(df_new, id_col, text_col)
             .withColumn("__d__", F.lit(True)))
    # a replayed delta id may already be stored: keep the delta row
    # (identical bytes — aHash is a pure function of the payload)
    stored = (read_ahash_index(spark, path)
              .join(delta.select("id"), "id", "left_anti")
              .withColumn("__d__", F.lit(False)))
    allb = delta.unionByName(stored)
    names = [f"band{b}" for b in range(AHASH_BANDS)]
    groups = (allb.groupBy(*names)
              .agg(F.array_sort(F.collect_list(F.struct("id", "__d__")))
                   .alias("__m__")))
    canon = groups.select(
        F.element_at("__m__", 1).getField("id").alias("cid"), "__m__",
        F.exists("__m__", lambda m: m.getField("__d__")).alias("__hd__"),
        *names)
    ex = canon.select(
        "cid", "__m__", "__hd__", *names,
        F.posexplode(F.array(*names)).alias("bidx", "bval"))
    # only delta-containing groups probe; the probed side is everyone
    a = (ex.filter("__hd__")
         .select(F.col("cid").alias("ca"), F.col("__m__").alias("ids_a"),
                 *[F.col(n).alias(f"a{i}") for i, n in enumerate(names)],
                 "bidx", "bval"))
    b = ex.select(F.col("cid").alias("cb"), F.col("__m__").alias("ids_b"),
                  F.col("__hd__").alias("hd_b"),
                  *[F.col(n).alias(f"b{i}") for i, n in enumerate(names)],
                  "bidx", "bval")
    hamming = None
    for i in range(AHASH_BANDS):
        t = F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")))
        hamming = t if hamming is None else hamming + t
    hamming = hamming.cast("bigint")
    diff = [F.col(f"a{i}") != F.col(f"b{i}") for i in range(AHASH_BANDS)]
    first_shared = F.when(F.col("bidx") == 0, F.lit(True))
    for i in range(1, AHASH_BANDS):
        cond = diff[0]
        for d_ in diff[1:i]:
            cond = cond & d_
        first_shared = first_shared.when(F.col("bidx") == i, cond)
    # a delta↔delta group pair arrives in both orientations (both sides
    # probe): keep ca < cb there; a delta↔stored pair arrives once
    # (only the delta group probes): keep it whichever way ids compare
    cross = (a.join(b, ["bidx", "bval"])
             .filter(F.col("ca") != F.col("cb"))
             .filter(~F.col("hd_b") | (F.col("ca") < F.col("cb")))
             .filter(first_shared)
             .withColumn("hamming", hamming)
             .filter(F.col("hamming") <= max_hamming)
             .select(F.explode("ids_a").alias("ma"), "ids_b", "hamming")
             .select("ma", F.explode("ids_b").alias("mb"), "hamming")
             .filter(F.col("ma.__d__") | F.col("mb.__d__"))
             .select(F.least("ma.id", "mb.id").alias("id_a"),
                     F.greatest("ma.id", "mb.id").alias("id_b"), "hamming"))
    within = (canon.filter(F.col("__hd__") & (F.size("__m__") >= 2))
              .select(F.explode(F.flatten(F.transform(
                  "__m__",
                  lambda x, i: F.transform(
                      F.slice(F.col("__m__"), i + F.lit(2),
                              F.size(F.col("__m__"))),
                      lambda y: F.struct(
                          x.getField("id").alias("id_a"),
                          y.getField("id").alias("id_b"),
                          (x.getField("__d__") | y.getField("__d__"))
                          .alias("t")),
                  ),
              ))).alias("p"))
              .filter(F.col("p.t"))
              .select("p.id_a", "p.id_b",
                      F.lit(0).cast("bigint").alias("hamming")))
    return cross.unionByName(within)


# --- GROUP-layout perceptual index (r10; NOTES r11 #3 pulled forward) ------
#
# The row-layout index above stores (id, band0..3) rows, so EVERY delta
# query re-runs the canonical-hash groupBy over the whole stored corpus
# — index-sized work per nightly batch (measured: delta 2.37s vs full
# 1.43s at the 10x rig). This layout persists the groups themselves,
# exploded two ways so the delta query's stored reads are pruned to the
# directories its own hashes name (the v2-minhash move):
#
# - hash/hbkt=k          one row per (batch, hash group): b0..b3, ids
# - bands/bidx=i/bbkt=k  one row per (group, band): bval + all four
#                        band scalars + ids
#
# Appends write the batch's OWN groups as new fragment rows — batch-
# sized, no read of stored data. Fragments of one hash across batches
# have disjoint member sets (ids are immutable), so the delta pairs
# against each fragment independently; no corpus-wide re-group, ever.
# The pruning predicates here are PARTITION-COLUMN-ONLY (bidx, bbkt,
# hbkt) — evaluated at planning, zero per-row cost — while the data-
# column equality (band values, hashes) rides the join, which is the
# lesson the minhash lookup regime paid to learn (SCALE.md §r10).

_GBKT = 32


def _group_meta_path(path: str) -> str:
    import os

    return os.path.join(path, "graft_ahash_groups.json")


def _write_group_fragments(h: DataFrame, path: str, nb: int) -> None:
    import os

    names = [f"band{b}" for b in range(AHASH_BANDS)]
    groups = (h.groupBy(*names)
              .agg(F.array_sort(F.collect_list("id")).alias("ids")))
    (groups.withColumn("hbkt", F.pmod(F.xxhash64(*names),
                                      F.lit(nb)).cast("int"))
     .repartition("hbkt")
     .write.mode("append").partitionBy("hbkt")
     .parquet(os.path.join(path, "hash")))
    ex = groups.select(
        *names, "ids",
        F.posexplode(F.array(*[F.col(n) for n in names]))
        .alias("bidx", "bval"))
    (ex.withColumn("bbkt", F.pmod(F.xxhash64("bval"),
                                  F.lit(nb)).cast("int"))
     .repartition("bidx", "bbkt")
     .write.mode("append").partitionBy("bidx", "bbkt")
     .parquet(os.path.join(path, "bands")))


def build_ahash_group_index(df: DataFrame, id_col: str, text_col: str,
                            path: str, n_buckets: int = _GBKT) -> None:
    import json as _json

    _write_group_fragments(ahash_bands(df, id_col, text_col), path,
                           int(n_buckets))
    with open(_group_meta_path(path), "w") as f:
        _json.dump({"n_buckets": int(n_buckets)}, f)


def append_ahash_group_index(df_new: DataFrame, id_col: str, text_col: str,
                             path: str) -> None:
    """Batch-sized incremental maintenance: group the NEW docs and
    append their fragments. Replaying a batch appends byte-identical
    fragments that the read-side dropDuplicates collapses (the standing
    at-least-once convention)."""
    import json as _json

    with open(_group_meta_path(path)) as f:
        nb = _json.load(f)["n_buckets"]
    _write_group_fragments(ahash_bands(df_new, id_col, text_col), path, nb)


def ahash_group_index_pairs(df_new: DataFrame, id_col: str, text_col: str,
                            spark, path: str,
                            max_hamming: int = 6) -> DataFrame:
    """Delta-touching hamming-ball pairs from the GROUP index: three
    disjoint legs, none of which re-groups or even scans the stored
    corpus —

    1. delta×delta: :func:`ahash_pairs` over the batch alone;
    2. delta×stored identical-hash: the delta's groups equi-join the
       ``hash/`` fragments in the hbkt directories its hashes name;
    3. delta×stored cross-hash: the delta's band rows equi-join the
       ``bands/`` fragments in the (bidx, bbkt) directories its band
       values name, first-shared-band guard, hamming in (0, max].

    Stored member sets are disjoint across fragments, so member-pair
    fan-out needs no distinct; output (id_a, id_b, hamming) normalized,
    identical to the row-layout delta query (oracle-pinned)."""
    import json as _json
    import os

    with open(_group_meta_path(path)) as f:
        nb = _json.load(f)["n_buckets"]
    names = [f"band{b}" for b in range(AHASH_BANDS)]

    dh = ahash_bands(df_new, id_col, text_col)
    dgroups = stage(dh.groupBy(*names)
                    .agg(F.array_sort(F.collect_list("id")).alias("ids")),
                    "memory")

    # leg 1: within the batch
    within = ahash_pairs(df_new, id_col, text_col, max_hamming)

    # leg 2: identical hash — hbkt dirs named by the delta's hashes
    hbkts = [r["hbkt"] for r in dgroups.select(
        F.pmod(F.xxhash64(*names), F.lit(nb)).cast("int").alias("hbkt"))
        .distinct().collect()]
    stored_h = (spark.read.parquet(os.path.join(path, "hash"))
                .filter(F.col("hbkt").isin(hbkts) if hbkts
                        else F.lit(False))
                .dropDuplicates([*names, "ids"])
                .select(*[F.col(n).alias(f"s_{n}") for n in names],
                        F.col("ids").alias("ids_s")))
    same = (dgroups.join(
        stored_h, [F.col(n) == F.col(f"s_{n}") for n in names])
        .select(F.explode("ids").alias("x"), "ids_s")
        .select("x", F.explode("ids_s").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("id_a"),
                F.greatest("x", "y").alias("id_b"),
                F.lit(0).cast("bigint").alias("hamming")))

    # leg 3: cross hash — (bidx, bbkt) dirs named by the delta's bands
    dex = dgroups.select(
        "ids", *names,
        F.posexplode(F.array(*[F.col(n) for n in names]))
        .alias("bidx", "bval"))
    bkts = [(int(r["bidx"]), int(r["bbkt"])) for r in dex.select(
        "bidx", F.pmod(F.xxhash64("bval"), F.lit(nb)).cast("int")
        .alias("bbkt")).distinct().collect()]
    prune = F.lit(False)
    for bi, bk in bkts:  # partition columns only: pruned at planning
        prune = prune | ((F.col("bidx") == bi) & (F.col("bbkt") == bk))
    stored_b = (spark.read.parquet(os.path.join(path, "bands"))
                .filter(prune)
                .dropDuplicates([*names, "ids", "bidx"])
                .select(F.col("bval").alias("s_bval"),
                        F.col("bidx").alias("s_bidx"),
                        F.col("ids").alias("ids_s"),
                        *[F.col(n).alias(f"b{i}")
                          for i, n in enumerate(names)]))
    a = dex.select("bidx", "bval", F.col("ids").alias("ids_a"),
                   *[F.col(n).alias(f"a{i}") for i, n in enumerate(names)])
    hamming = None
    for i in range(AHASH_BANDS):
        t = F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")))
        hamming = t if hamming is None else hamming + t
    hamming = hamming.cast("bigint")
    diff = [F.col(f"a{i}") != F.col(f"b{i}") for i in range(AHASH_BANDS)]
    first_shared = F.when(F.col("bidx") == 0, F.lit(True))
    for i in range(1, AHASH_BANDS):
        cond = diff[0]
        for d_ in diff[1:i]:
            cond = cond & d_
        first_shared = first_shared.when(F.col("bidx") == i, cond)
    cross = (a.join(stored_b, (F.col("bidx") == F.col("s_bidx"))
                    & (F.col("bval") == F.col("s_bval")))
             .filter(first_shared)
             .withColumn("hamming", hamming)
             .filter((F.col("hamming") > 0)
                     & (F.col("hamming") <= max_hamming))
             .select(F.explode("ids_a").alias("x"), "ids_s", "hamming")
             .select("x", F.explode("ids_s").alias("y"), "hamming")
             .select(F.least("x", "y").alias("id_a"),
                     F.greatest("x", "y").alias("id_b"), "hamming"))

    out = stage(within.unionByName(same).unionByName(cross), "checkpoint")
    release(dgroups)
    return out
