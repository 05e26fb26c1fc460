"""Persisted dedup index: build MinHash signatures ONCE, reuse forever.

``near_dup_pairs`` (dedup.py) recomputes shingles+signatures per run behind
a ``persist()`` — right for a one-shot query, wrong for the 100 TB corpus a
training-data pipeline dedups repeatedly (nightly crawls, incremental
ingests). This module materializes the derived tables the pipeline
actually needs:

- ``signatures/``  — one row per doc: id, h0..h{n-1} minhash columns plus
  precomputed band keys (band_0..band_{b-1}). ~100 bytes/doc regardless of
  document size, i.e. ~1% of corpus size: cheap to store, cheap to shuffle.
- ``bands/`` (layout v2, r10) — the exploded (id, band_sig) rows laid out
  one directory per ``(band_idx, sbkt)`` where ``sbkt =
  pmod(xxhash64(band_sig), n_sig_buckets)``. The nightly delta's band keys
  touch a BOUNDED set of those directories (≤ n_bands × n_sig_buckets,
  and for a small delta far fewer), so the candidate join reads only the
  band partitions that can possibly collide — static partition pruning,
  the same seek-shaped move that took the bm25 delta from a postings scan
  to a facts lookup (SCALE.md §r9).
- ``shingle_sets/`` — one row per doc: id, distinct word-shingle set, used
  only by the exact-Jaccard verify stage on band-collided candidates.
  Layout v2 partitions it by ``ibkt = pmod(xxhash64(id), n_set_buckets)``
  so the verify stage reads only the set partitions holding candidate
  ids instead of the whole corpus-sized table.

Everything is md5-derived (see dedup.py), so rebuilding any slice of the
index from source docs is bit-for-bit idempotent — the property that makes
at-least-once incremental ETL safe (reference semantics:
activedata_etl/etl.py idempotent etl-key overwrite).

Incremental story (``append_to_index`` + ``pairs_against_index``): new docs
only ever need their OWN signatures computed (scan-local), then one
equi-join of new band keys against the PRUNED stored band partitions —
never a recompute over the historical corpus, and (v2) never a full scan
of it either. At 1000 executors the day's delta is the stream and the
touched band/set partitions are the only stored bytes read.

Layout versioning: a v2 index carries ``graft_index_meta.json`` recording
the bucket counts; indexes built before r10 lack it and are served by the
legacy full-scan path (still correct — rebuild to get the seek shape).
The meta also records each table's read schema (``schemas``), so opening
a table runs no Spark job; an index written before the record existed
(or holding mixed schemas) is opened by inference, as before.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import note_schema, open_stored
from ..staging import is_plan_only, release, stage
from .dedup import band_keys_sql, minhash_minima_sql, shingle_rows_sql

# Bucket-count CAPS for the size-adaptive layout (raised from 32, r11
# ADVICE — the adaptive fan-out must be able to grow, not only shrink).
# 1024 sbkt dirs × 4 bands × 16 MB ≈ 64 GB of band rows before a
# directory exceeds its target — ~400M docs per index shard. The cap
# exists so driver-side prune lists (the lookup regime's OR-chain and
# the purge/compact membership probes) stay a few thousand entries;
# beyond it, per-directory size grows linearly but row-group stats on
# the sorted files keep seeks bounded INSIDE each directory. For a true
# 100 TB single index, pass explicit n_sig_buckets/n_set_buckets (knobs
# on build_index, recorded in the meta — queries adapt automatically).
_SBKT = 1024
_IBKT = 1024
# Target bytes per bucket directory for the size-adaptive layout (r11).
# A FIXED 32×4-directory fan-out was wrong at both ends of the scale:
# at sf0.1 it spread a 5 MB band table over 128 ~40 KB files (160
# footer reads per unpruned delta scan — the measured ~1s floor of the
# 1% nightly query was file opens, not data), while at large corpora a
# small cap stops adapting upward. Buckets now derive from the indexed
# doc count at build time so directories land near _BUCKET_TARGET_BYTES
# up to the caps above; row-group stats on the sorted files carry the
# seek behavior INSIDE each directory whatever the bucket count.
_BUCKET_TARGET_BYTES = 16 << 20
_BAND_ROW_BYTES = 40      # id + 32-hex band_sig + overhead, parquet-encoded
_SET_ROW_BYTES = 1000     # id + ~120-shingle string array


def _auto_buckets(n_docs: int, n_bands: int) -> tuple[int, int]:
    sbkt = max(1, min(_SBKT,
                      n_docs * n_bands * _BAND_ROW_BYTES
                      // (_BUCKET_TARGET_BYTES * n_bands)))
    ibkt = max(1, min(_IBKT, n_docs * _SET_ROW_BYTES // _BUCKET_TARGET_BYTES))
    return int(sbkt), int(ibkt)
# Lookup-regime threshold for the BAND stage: the literal predicate is
# an OR over the delta's distinct (band_idx, sbkt) groups, each with a
# band_sig IN list — every surviving ROW evaluates that whole chain, so
# its cost is (rows scanned) × (groups). Only a truly tiny delta keeps
# both factors small (few groups → real directory pruning → few rows):
# at 256 band rows (~64 docs, the "is this batch already ingested"
# interactive shape) the scan is a few directories' worth of seeks; the
# r10 rig measured a 2000-key delta WORSE than the unfiltered scan+join
# (6.9s vs ~2s — all 128 directories hit, 2M rows × 128-branch OR), so
# mid-size deltas take the batch regime's equi-join instead.
_LOOKUP_CAP = 256
# ...and only if the collected keys hit at most this fraction of the
# (band_idx, sbkt) directories — a delta that touches most directories
# scans the whole table anyway, so the OR chain is pure per-row cost.
_LOOKUP_DIR_BUDGET = 0.25
# Sets-stage threshold: a SINGLE id IN (...) predicate (hash-set eval,
# no OR chain) + ibkt directory pruning — cheap per row, so it pays up
# to a much larger candidate list. 4096 ids ≈ a few hundred KB of
# literals, driver-safe.
_SEEK_CAP = 4096
# Bulk-regime threshold: a delta above this fraction of the stored band
# rows is a re-dedup, not an ingest — candidate ids approach the corpus
# and the staged (persist/probe/checkpoint) pipeline only adds barriers.
_BULK_FRACTION = 0.25


def _meta_path(path: str) -> str:
    return os.path.join(path, "graft_index_meta.json")


def _write_meta(path: str, **kv) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = _meta_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(kv, f)
    os.replace(tmp, _meta_path(path))


def _load_meta(path: str) -> dict | None:
    p = _meta_path(path)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def _open(spark: SparkSession, path: str, table: str,
          meta: dict | None) -> DataFrame:
    """One table of the index, opened with the schema its meta records
    (no Spark job); a table without a record is inferred as before."""
    rec = (meta or {}).get("schemas", {}).get(table)
    return open_stored(spark, os.path.join(path, table), rec)


def _stage(df: DataFrame, id_col: str, text_col: str, n_hashes: int,
           n_bands: int, shingle_n: int) -> DataFrame:
    """One row per doc: id, h0..h{n-1}, band_0..band_{b-1} and ``sh``,
    its distinct shingle set, from ONE aggregation over the one shuffle
    shingle_table makes on the doc id. Signatures, band rows and the
    verify's sets all derive from this frame; docs below ``shingle_n``
    tokens have no shingles and drop out."""
    ident = f"`{id_col}`"
    rows = shingle_rows_sql(id_col, text_col, shingle_n,
                            df.sparkSession.sparkContext.defaultParallelism)
    hs = [f"h{i}" for i in range(n_hashes)]
    return df.sparkSession.sql(
        f"SELECT {ident} AS id, {', '.join(hs)}, "
        f"{', '.join(band_keys_sql(n_hashes, n_bands))}, sh FROM ("
        f"SELECT {ident}, {', '.join(minhash_minima_sql(n_hashes))}, "
        f"collect_set(__s__) AS sh FROM ({rows}) GROUP BY {ident})", df=df)


def _signatures(stage: DataFrame) -> DataFrame:
    return stage.drop("sh")


# Plan construction on the ingest path is built from SQL strings: each
# Column-builder call is a py4j round trip, and those added up to about
# a second per daily batch.

def _bucket(col: str, n: int) -> str:
    return f"CAST(pmod(xxhash64({col}), {int(n)}) AS INT)"


def _band_rows(stage: DataFrame, meta: dict) -> DataFrame:
    return _banded(stage).selectExpr(
        "*", _bucket("band_sig", meta["sbkt"]) + " AS sbkt")


def _set_rows(stage: DataFrame, meta: dict) -> DataFrame:
    return stage.selectExpr("id", "sh",
                            _bucket("id", meta["ibkt"]) + " AS ibkt")


def build_index(df: DataFrame, id_col: str, text_col: str, path: str,
                n_hashes: int = 16, n_bands: int = 4,
                shingle_n: int = 3, n_sig_buckets: int | None = None,
                n_set_buckets: int | None = None) -> None:
    """Materialize signatures, the bucketed band table and bucketed
    shingle sets under ``path``.

    One scan of the corpus feeds everything: the staged per-doc rows
    (:func:`_stage`) are staged in memory and written three ways, and the
    signatures write counts the indexed docs through an Observation.
    Band keys are stored denormalized so candidate generation later is
    a pure read, no hashing, and already exploded into ``(band_idx,
    sbkt)`` directories so delta queries prune to the collidable
    partitions. Bucket counts default to SIZE-ADAPTIVE (_auto_buckets,
    from the indexed doc count); pass explicit counts to pin a layout.
    The meta records every table's read schema, so opens run no job."""
    from pyspark.sql import Observation

    meta = {"layout": 2, "n_hashes": n_hashes, "n_bands": n_bands,
            "shingle_n": shingle_n}
    schemas = meta["schemas"] = {}
    corpus = stage(_stage(df, id_col, text_col, n_hashes, n_bands,
                          shingle_n), "memory")
    try:
        obs = Observation()
        sig = _signatures(corpus)
        (sig.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").parquet(os.path.join(path, "signatures")))
        note_schema(schemas, "signatures", sig, True)
        # the indexed doc count sizes the delta-query regime choice AND
        # the bucket fan-out
        meta["n_docs"] = int(obs.get["n"])
        auto_s, auto_i = _auto_buckets(meta["n_docs"], n_bands)
        meta["sbkt"] = int(n_sig_buckets) if n_sig_buckets else auto_s
        meta["ibkt"] = int(n_set_buckets) if n_set_buckets else auto_i
        bands = _band_rows(corpus, meta)
        (bands
         .repartition("band_idx", "sbkt")
         .sortWithinPartitions("band_sig")  # row-group stats → IN-pushdown seeks
         .write.mode("overwrite").partitionBy("band_idx", "sbkt")
         .parquet(os.path.join(path, "bands")))
        note_schema(schemas, "bands", bands, True, ("band_idx", "sbkt"))
        sets_ = _set_rows(corpus, meta)
        (sets_
         .repartition("ibkt")
         .sortWithinPartitions("id")  # row-group stats → IN-pushdown seeks
         .write.mode("overwrite").partitionBy("ibkt")
         .parquet(os.path.join(path, "shingle_sets")))
        note_schema(schemas, "shingle_sets", sets_, True, ("ibkt",))
        _write_meta(path, **meta)
    finally:
        release(corpus)


def read_signatures(spark: SparkSession, path: str) -> DataFrame:
    return _open(spark, path, "signatures", _load_meta(path))


def read_shingle_sets(spark: SparkSession, path: str) -> DataFrame:
    meta = _load_meta(path)
    if meta is None:  # legacy v1 layout: flat, no spill
        return _open(spark, path, "shingle_sets", None).select("id", "sh")
    return _read_sets_with_ibkt(spark, path, meta).select("id", "sh")


def _read_sets_with_ibkt(spark: SparkSession, path: str,
                         meta: dict) -> DataFrame:
    """shingle_sets ∪ the unfolded append spill (id, sh, ibkt) — ibkt is
    a partition column on the bucketed side, an ordinary column on the
    spill side; above the union it is just a column, and Catalyst
    pushes ibkt/id filters through the union into both scans (directory
    pruning on the bucketed child, row-group stats on the spill)."""
    out = _open(spark, path, "shingle_sets", meta).select("id", "sh", "ibkt")
    if os.path.isdir(os.path.join(path, "sets_spill")):
        out = out.unionByName(_open(spark, path, "sets_spill", meta)
                              .select("id", "sh", "ibkt"))
    return out


def _banded(sig: DataFrame) -> DataFrame:
    bands = sorted(c for c in sig.columns if c.startswith("band_"))
    return sig.selectExpr("id", "posexplode(array({})) AS (band_idx, band_sig)"
                          .format(", ".join(bands)))


def _read_bands(spark: SparkSession, path: str, meta: dict) -> DataFrame:
    out = (_open(spark, path, "bands", meta)
           .select("id", "band_idx", "band_sig", "sbkt"))
    if os.path.isdir(os.path.join(path, "bands_spill")):
        # unfolded appends: (band_idx, sbkt) are ordinary columns here;
        # the lookup regime's prune predicate still reaches both scans
        # (pushed through the union — dirs on the bucketed child,
        # row-group stats on the sorted spill files)
        out = out.unionByName(_open(spark, path, "bands_spill", meta)
                              .select("id", "band_idx", "band_sig", "sbkt"))
    return out


def candidate_pairs_from_index(spark: SparkSession, path: str,
                               max_bucket_size: int | None = None) -> DataFrame:
    """LSH candidates from the stored band table — no text scan at all."""
    meta = _load_meta(path)
    if meta is not None:
        banded = _read_bands(spark, path, meta).drop("sbkt")
    else:  # legacy layout: explode the signature table per query
        banded = _banded(read_signatures(spark, path))
    if max_bucket_size is not None:
        from pyspark.sql import Window
        bs = F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_sig"))
        banded = (banded.withColumn("__bs__", bs)
                  .filter(F.col("__bs__") <= max_bucket_size).drop("__bs__"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_sig") == F.col("b.band_sig"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def near_dup_pairs_from_index(spark: SparkSession, path: str,
                              threshold: float = 0.5,
                              max_bucket_size: int | None = None) -> DataFrame:
    """Full near-dup pairs (candidates + exact-Jaccard verify) from the
    index alone. Identical output to dedup.near_dup_pairs on the same
    corpus/parameters — test_dedup_index asserts this — but the only
    inputs are the derived tables."""
    cands = candidate_pairs_from_index(spark, path, max_bucket_size)
    # an id can sit in a leaf AND the spill (a replayed append, or a
    # crash between compaction's swap and its spill removal); its rows
    # are md5-identical, so any-row-wins is exact. Without a spill there
    # is no duplication and no shuffle to pay.
    sets_ = read_shingle_sets(spark, path)
    if os.path.isdir(os.path.join(path, "sets_spill")):
        sets_ = sets_.dropDuplicates(["id"])
    return _verify_jaccard(cands, sets_, threshold)


def append_to_index(df_new: DataFrame, id_col: str, text_col: str, path: str,
                    n_hashes: int = 16, n_bands: int = 4,
                    shingle_n: int = 3) -> None:
    """Incremental ingest: signatures, band rows and shingle sets for
    NEW docs only, appended; the historical corpus is never rescanned.
    md5 determinism makes re-appending the same docs produce identical
    rows (deduped by id downstream).

    The batch is staged once (:func:`_stage`) and feeds three writes:
    ``signatures/``, and ONE batch-sized sorted file each in
    ``bands_spill/`` and ``sets_spill/`` with the bucket keys as
    ordinary columns (readers union the spill with the bucketed layout;
    :func:`compact_index` folds it into its home directories), so an
    append's file count is O(1) whatever the bucket count. The
    signatures write observes the doc count (``n_docs``, which sizes
    the delta query's regimes; a replayed batch double-counts, which
    only nudges a threshold). Appending to a v1 index (no meta) keeps
    its legacy layout: no bands/ table, flat shingle sets."""
    from pyspark.sql import Observation

    meta = _load_meta(path)
    if meta is not None:
        assert (meta["n_hashes"], meta["n_bands"]) == (n_hashes, n_bands), \
            "index built with different n_hashes/n_bands"
    delta = stage(_stage(df_new, id_col, text_col, n_hashes, n_bands,
                         shingle_n), "memory")
    try:
        if meta is None:
            _signatures(delta).write.mode("append").parquet(
                os.path.join(path, "signatures"))
            delta.select("id", "sh").write.mode("append").parquet(
                os.path.join(path, "shingle_sets"))
            return
        n_obs = Observation()
        sig = _signatures(delta)
        (sig.observe(n_obs, F.count(F.lit(1)).alias("n"))
         .write.mode("append").parquet(os.path.join(path, "signatures")))
        schemas = meta.setdefault("schemas", {})
        note_schema(schemas, "signatures", sig, False)
        for table, rows, sort_col in (
                ("bands_spill", _band_rows(delta, meta), "band_sig"),
                ("sets_spill", _set_rows(delta, meta), "id")):
            fresh = not os.path.isdir(os.path.join(path, table))
            (rows.coalesce(1).sortWithinPartitions(sort_col)
             .write.mode("append").parquet(os.path.join(path, table)))
            note_schema(schemas, table, rows, fresh)
        meta["n_docs"] = int(meta.get("n_docs", 0)) + int(n_obs.get["n"])
        _write_meta(path, **meta)
    finally:
        release(delta)


def pairs_against_index(df_new: DataFrame, id_col: str, text_col: str,
                        spark: SparkSession, path: str,
                        threshold: float = 0.5, n_hashes: int = 16,
                        n_bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """Near-dup pairs between a NEW batch and the indexed corpus (plus
    within-batch pairs): the nightly-ingest query. Only the delta is
    tokenized; the corpus side is the stored band table. Pair order is
    normalized (id_a < id_b) so output matches a full-corpus run.

    The delta is staged once (:func:`_stage`, in memory): its band rows,
    its shingle sets and the sizing all read that one frame. The one
    sizing action materializes the stage, counts the delta's band rows
    and lists its distinct band keys up to ``_LOOKUP_CAP + 1``.

    - **lookup** (≤ ``_LOOKUP_CAP`` distinct delta band keys — the "is
      this batch already in the corpus" shape): the listed keys are
      pushed as literal predicates on the stored band read. ``band_sig
      IN (...)`` skips row groups of the band_sig-sorted files; the
      ``(band_idx, sbkt)`` OR-chain prunes directories too, but every
      surviving row evaluates the whole chain, so it is added only when
      the keys hit at most ``_LOOKUP_DIR_BUDGET`` of the directories.
    - otherwise thousands of band keys hit every bucket, so the stored
      band table is scanned once unfiltered (it is ~1% of corpus bytes
      — the scan IS the floor).

    The distinct candidate pairs are then limit-collected at
    ``_SEEK_CAP + 1``: the verify's cost follows how many candidates a
    delta has, not how big it is. When they and their ids fit, the sets
    of those ids are collected (stored ones by pushed ``ibkt``/``id
    IN`` predicates) and the pairs verified on the driver
    (:func:`_verify_on_driver`). When they do not, a **bulk** delta
    (band rows above ``_BULK_FRACTION`` of the stored ones — a
    re-dedup, not an ingest), whose candidate ids approach the corpus,
    joins the candidates to all stored sets in one lazy plan; any other
    semi-joins the stored sets to the candidate ids first, so its verify
    never shuffles the corpus' shingle arrays.

    Under plan-only probes the sizing is skipped (explain must execute
    nothing) and the lazy bulk-shaped plan is returned."""
    from pyspark.sql import Observation

    meta = _load_meta(path)
    delta = _stage(df_new, id_col, text_col, n_hashes, n_bands, shingle_n)
    sets_new = delta.select("id", "sh")
    if meta is None or is_plan_only():
        if meta is None:
            stored_bands = _banded(read_signatures(spark, path))
        else:
            stored_bands = _read_bands(spark, path, meta)
        return _verify_jaccard(
            _cross_pairs(_banded(delta), stored_bands),
            sets_new.unionByName(read_shingle_sets(spark, path))
            .dropDuplicates(["id"]), threshold)

    stage(delta, "memory")  # in place: sets_new reads it too
    banded_new = _band_rows(delta, meta)
    # Sizing is ONE driver action in every regime, and it materializes
    # the stage: the distinct band keys are limit-collected at
    # _LOOKUP_CAP + 1, and an Observation BELOW the groupBy counts every
    # band row (the shuffle map stage consumes all input even when the
    # limit truncates — test_observed_sizing_metric_sees_all_rows pins
    # that contract). Untruncated, the collect holds the lookup keys.
    obs = Observation()
    grouped = (banded_new.observe(obs, F.expr("count(1) AS n"))
               .groupBy("band_idx", "sbkt", "band_sig")
               .agg(F.expr("count(1) AS __n__"))
               .limit(_LOOKUP_CAP + 1).collect())
    n_delta_bands = int(obs.get["n"])
    in_lookup = len(grouped) <= _LOOKUP_CAP
    # untruncated, the groups are exhaustive: if their counts ever stop
    # summing to the observed total, the Observation no longer sees
    # every row and the regime gates below would misroute
    if in_lookup:
        assert n_delta_bands == sum(int(r["__n__"]) for r in grouped), (
            "observed band-row count diverged from the exhaustive group "
            f"sum ({n_delta_bands} observed)")
    stored_bands_total = meta.get("n_docs", 0) * meta["n_bands"]
    bulk = bool(stored_bands_total
                and n_delta_bands > _BULK_FRACTION * stored_bands_total)
    stored_b = _read_bands(spark, path, meta)
    if in_lookup:
        keys = [(r["band_idx"], r["sbkt"], r["band_sig"]) for r in grouped]
        n_dirs = int(meta["sbkt"]) * int(meta["n_bands"])
        hit: dict[tuple[int, int], list[str]] = {}
        for bi, bk, sig in keys:
            hit.setdefault((bi, bk), []).append(sig)
        if len(hit) <= max(1, int(n_dirs * _LOOKUP_DIR_BUDGET)):
            stored_b = stored_b.filter(" OR ".join(
                f"(band_idx = {int(bi)} AND sbkt = {int(bk)} AND "
                f"band_sig IN ({_in_list(sigs)}))"
                for (bi, bk), sigs in hit.items()))
        else:
            stored_b = stored_b.filter(
                f"band_sig IN ({_in_list([sig for _, _, sig in keys])})")
    cands = stage(_cross_pairs(banded_new, stored_b)
                  .selectExpr("*", *[_bucket(f"id_{s}", meta["ibkt"])
                                     + f" AS ibkt_{s}" for s in "ab"]),
                  "memory")
    listed = cands.limit(_SEEK_CAP + 1).collect()
    ids = {r[k] for r in listed for k in ("id_a", "id_b")}
    stored_sets = _read_sets_with_ibkt(spark, path, meta)
    id_type = delta.schema["id"].dataType.simpleString()
    if (len(listed) <= _SEEK_CAP and len(ids) <= _SEEK_CAP
            and all(_literal(i) is not None for i in ids)):
        out = _verify_on_driver(
            spark, listed, sets_new, stored_sets, id_type, threshold)
    else:
        if bulk:
            sets_ = (sets_new.unionByName(read_shingle_sets(spark, path))
                     .dropDuplicates(["id"]))
        else:
            cand_ids = (cands.select(F.col("id_a").alias("id"))
                        .unionByName(cands.select(F.col("id_b").alias("id")))
                        .distinct())
            sets_ = (sets_new.join(cand_ids, "id", "left_semi")
                     .unionByName(stored_sets.join(cand_ids, "id",
                                                   "left_semi")
                                  .select("id", "sh"))
                     .dropDuplicates(["id"]))
        out = stage(_verify_jaccard(cands.select("id_a", "id_b"), sets_,
                                    threshold), "checkpoint")
    release(delta, cands)
    return out


def _cross_pairs(banded_new: DataFrame, stored: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) pairs of a delta band row and a stored or
    delta band row on the same band key: the delta-vs-corpus candidates
    and the within-delta ones in one join (the delta side is small and
    staged, so it is the broadcast side)."""
    a = banded_new.select("id", "band_idx", "band_sig")
    b = a.unionByName(stored.select("id", "band_idx", "band_sig"))
    return (a.alias("a")
            .join(b.alias("b"), F.expr("a.band_idx = b.band_idx AND "
                                       "a.band_sig = b.band_sig AND "
                                       "a.id <> b.id"))
            .selectExpr("least(a.id, b.id) AS id_a",
                        "greatest(a.id, b.id) AS id_b")
            .distinct())


def _verify_jaccard(cands: DataFrame, sets_: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact Jaccard of every candidate pair; ``sets_`` holds each id
    once."""
    return _jaccard(
        cands
        .join(sets_.selectExpr("id AS id_a", "sh AS sh_a"), "id_a")
        .join(sets_.selectExpr("id AS id_b", "sh AS sh_b"), "id_b"),
        threshold)


def _literal(v) -> str | None:
    """``v`` as a Spark SQL literal: ints and strings, the id types an
    index holds; None for anything else."""
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    if isinstance(v, str):
        return "'{}'".format(v.replace("\\", "\\\\").replace("'", "\\'"))
    return None


def _in_list(values) -> str:
    return ", ".join(_literal(v) for v in values)


def _values(spark: SparkSession, rows: list[tuple], names: str,
            cols: str) -> DataFrame:
    """Rows of Spark SQL literals as a local relation ``SELECT cols
    FROM VALUES rows AS t(names)``: reading it runs no Spark job and
    ships nothing through a Python RDD. No rows gives the empty relation
    with the same columns, so ``cols`` must cast every column."""
    if rows:
        body, where = ", ".join(f"({', '.join(r)})" for r in rows), ""
    else:
        body = f"({', '.join('NULL' for _ in names.split(','))})"
        where = " WHERE false"
    return spark.sql(f"SELECT {cols} FROM VALUES {body} AS t({names}){where}")


def id_table(spark: SparkSession, ids, data_type) -> DataFrame:
    """``ids`` (a DataFrame or an iterable) as a one-column ``id``
    table of ``data_type``; a local VALUES relation whenever every id
    has a literal."""
    if isinstance(ids, DataFrame):
        return ids.toDF("id")
    ids = list(ids)
    lits = [_literal(i) for i in ids]
    if None in lits:
        from pyspark.sql.types import StructField, StructType

        return spark.createDataFrame(
            [(i,) for i in ids], StructType([StructField("id", data_type)]))
    return _values(spark, [(v,) for v in lits], "id",
                   f"CAST(id AS {data_type.simpleString()}) AS id")


def _verify_on_driver(spark: SparkSession, listed: list, sets_new: DataFrame,
                      stored_sets: DataFrame, id_type: str,
                      threshold: float) -> DataFrame:
    """Exact Jaccard of candidate pairs listed on the driver: the sets
    of their ids come back in ONE collect (the delta's from the staged
    frame, the stored ones read through pushed ``ibkt``/``id IN``
    predicates), the pairs are scored here with the arithmetic of
    :func:`_jaccard`, and the answer is a local relation, so reading it
    runs no Spark job. An id may have several set rows (delta, spill,
    leaf); they are md5-identical, so any one is exact."""
    ids = {r[k] for r in listed for k in ("id_a", "id_b")}
    sets: dict = {}
    if ids:
        in_ids = f"id IN ({_in_list(ids)})"
        ibkts = sorted({int(r[k]) for r in listed
                        for k in ("ibkt_a", "ibkt_b")})
        stored = stored_sets.filter(
            f"ibkt IN ({', '.join(map(str, ibkts))}) AND {in_ids}")
        for i, sh in (sets_new.filter(in_ids)
                      .unionByName(stored.select("id", "sh")).collect()):
            sets.setdefault(i, sh)
    out = []
    for r in listed:
        a, b = sets.get(r["id_a"]), sets.get(r["id_b"])
        if a is None or b is None:
            continue
        # size(array_intersect(a, b)) / (size(a) + size(b) - inter)
        inter = len(set(a) & set(b))
        den = len(a) + len(b) - inter
        if den and inter / den >= threshold:
            out.append((r["id_a"], r["id_b"], inter / den))
    # a double's repr parses back to the same double
    return _values(spark, [(_literal(a), _literal(b), f"'{jac!r}'")
                           for a, b, jac in out], "id_a, id_b, jaccard",
                   f"CAST(id_a AS {id_type}) AS id_a, "
                   f"CAST(id_b AS {id_type}) AS id_b, "
                   "CAST(jaccard AS DOUBLE) AS jaccard")


def _jaccard(j: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, sh_a, sh_b)`` → pairs at or above ``threshold``."""
    return (j.selectExpr("id_a", "id_b",
                         "size(array_intersect(sh_a, sh_b)) AS inter",
                         "size(sh_a) + size(sh_b) AS n")
            .selectExpr("id_a", "id_b", "inter / (n - inter) AS jaccard")
            .filter(F.col("jaccard") >= threshold))


def purge_from_index(spark: SparkSession, path: str, ids) -> int:
    """Right-to-be-forgotten over the v2 minhash index: remove every
    trace of ``ids`` from signatures/, bands/ and shingle_sets/ so no
    served pair, candidate, or signature can mention a forgotten doc.

    The bucketed layout makes the derived-table rewrites SEEK-shaped:
    the purged docs' band rows live only in the (band_idx, sbkt)
    directories their stored signatures hash to, and their shingle sets
    only in ibkt = xxhash64(id) % n. Every candidate directory is
    MEMBERSHIP-PROBED before rewriting (the purge_from_fact_index
    convention), so untouched directories keep their files
    byte-identical, a replayed purge is a true no-op (returns 0), and
    the return value counts only directories that actually shed rows.
    Ids keep their native type — no numeric coercion, so string-keyed
    indexes purge correctly. Rewrites go through
    iosafe.atomic_rewrite (discovery-invisible temp + swap; interrupted
    swaps self-heal via adopt_orphans at the start of every pass).
    n_docs decrements so the delta-regime threshold tracks the live
    corpus."""
    from .iosafe import adopt_orphans, atomic_rewrite

    meta = _load_meta(path)
    assert meta is not None, "purge_from_index needs the v2 layout"
    adopt_orphans(path)
    sig = read_signatures(spark, path)
    ids_df = id_table(spark, ids, sig.schema["id"].dataType)
    purged_sig = stage(sig.join(F.broadcast(ids_df), "id", "left_semi"),
                       "memory")
    try:
        n_purged = purged_sig.count()
        if n_purged == 0:
            return 0
        # only ids actually present name directories; each is probed
        # again for membership before any bytes move
        hit_dirs = (_banded(purged_sig)
                    .select("band_idx",
                            F.pmod(F.xxhash64("band_sig"),
                                   F.lit(meta["sbkt"])).cast("int")
                            .alias("sbkt"))
                    .distinct().collect())
        ibkts = [r["ibkt"] for r in purged_sig.select(
            F.pmod(F.xxhash64("id"), F.lit(meta["ibkt"])).cast("int")
            .alias("ibkt")).distinct().collect()]

        def _purge_dir(sub: str, table: str) -> int:
            if not os.path.isdir(sub):
                return 0
            shard = open_stored(spark, sub,
                                meta.get("schemas", {}).get(table))
            if shard.join(F.broadcast(ids_df), "id", "left_semi") \
                    .isEmpty():
                return 0
            atomic_rewrite(
                shard.join(F.broadcast(ids_df), "id", "left_anti"), sub)
            return 1

        rewritten = 0
        for r in hit_dirs:
            rewritten += _purge_dir(os.path.join(
                path, "bands", f"band_idx={r['band_idx']}",
                f"sbkt={r['sbkt']}"), "bands")
        for k in ibkts:
            rewritten += _purge_dir(
                os.path.join(path, "shingle_sets", f"ibkt={k}"),
                "shingle_sets")
        # unfolded append spill: batch-sized by construction, so each
        # spill table purges as ONE probed unit (still membership-gated
        # — an untouched spill stays byte-identical)
        for d in ("bands_spill", "sets_spill"):
            rewritten += _purge_dir(os.path.join(path, d), d)
        atomic_rewrite(sig.join(F.broadcast(ids_df), "id", "left_anti"),
                       os.path.join(path, "signatures"))
        rewritten += 1
        meta["n_docs"] = max(0, int(meta.get("n_docs", 0)) - n_purged)
        _write_meta(path, **meta)
        return rewritten
    finally:
        release(purged_sig)


def compact_index(spark: SparkSession, path: str) -> int:
    """Fold the append spill into the bucketed layout and re-sort
    multi-file leaves. Each table is rewritten in ONE distributed write
    (iosafe.rewrite_leaves): the spill ∪ the leaves it lands in, plus
    any leaf holding more than one file, deduplicated, clustered on the
    leaf key, sorted within each leaf on its seek column (band_sig /
    id — the row-group-stats order the lookup regime's IN pushdown
    relies on), then swapped in leaf by leaf. The Spark jobs it runs
    do not grow with the leaves it touches; the spill's home leaves are
    listed from the spill itself (batch-sized). signatures/ coalesces
    to one file through iosafe.atomic_rewrite.

    Read-invisible and replay-safe: readers see each leaf's old or new
    data, and until the spill is removed — last — every spill row is
    still served from it too (readers dedup ids and pairs), so a crash
    at any point leaves the same answers and the next compaction
    converges. Returns the number of leaves rewritten, 0 when there is
    nothing to fold."""
    from .iosafe import adopt_orphans, atomic_rewrite

    meta = _load_meta(path)
    assert meta is not None, "compact_index needs the v2 layout"
    adopt_orphans(path)
    rewritten = _fold(spark, path, meta, "bands", "bands_spill",
                      ["band_idx", "sbkt"], "band_sig", "band_sig")
    rewritten += _fold(spark, path, meta, "shingle_sets", "sets_spill",
                       ["ibkt"], "sh", "id")
    sig_dir = os.path.join(path, "signatures")
    if len(_part_files(sig_dir)) > 1:
        atomic_rewrite(_open(spark, path, "signatures", meta).coalesce(1)
                       .sortWithinPartitions("id"), sig_dir)
        rewritten += 1
    return rewritten


def _part_files(d: str) -> list[str]:
    return ([f for f in os.listdir(d) if f.startswith("part-")]
            if os.path.isdir(d) else [])


def _fold(spark: SparkSession, path: str, meta: dict, table: str,
          spill: str, keys: list[str], value: str, sort_col: str) -> int:
    """One table of :func:`compact_index`; returns the leaves rewritten.
    An id's rows are md5-identical wherever it sits (leaf, spill, a
    replayed append), so any row per (leaf, id) is exact."""
    import glob
    import shutil
    from functools import reduce

    from .iosafe import rewrite_leaves

    root, spill_dir = os.path.join(path, table), os.path.join(path, spill)
    cols = ["id", value, *keys]
    leaves = {tuple(int(p.split("=", 1)[1])
                    for p in os.path.relpath(d, root).split(os.sep))
              for d in glob.glob(os.path.join(root, *[f"{k}=*" for k in keys]))
              if len(_part_files(d)) > 1}
    parts = []
    if os.path.isdir(spill_dir):
        parts.append(_open(spark, path, spill, meta).select(*cols))
        leaves |= {tuple(int(v) for v in h)
                   for h in parts[0].select(*keys).distinct().collect()}
    if not leaves:
        return 0
    by_first: dict[int, list[int]] = {}
    for h in leaves:
        by_first.setdefault(h[0], []).extend(h[1:])
    hit = F.lit(False)
    for first, rest in by_first.items():
        cond = F.col(keys[0]) == first
        hit = hit | (cond & F.col(keys[1]).isin(rest) if rest else cond)
    parts.append(_open(spark, path, table, meta).filter(hit).select(*cols))
    rows = (reduce(DataFrame.unionByName, parts)
            .repartition(*keys)
            .dropDuplicates([*keys, "id"])  # clustered on keys: no 2nd shuffle
            .sortWithinPartitions(*keys, sort_col))
    done = rewrite_leaves(rows, root, keys)
    shutil.rmtree(spill_dir, ignore_errors=True)  # last: until here it serves
    return len(done)
