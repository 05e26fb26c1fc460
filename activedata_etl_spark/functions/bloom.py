"""Portable Bloom filter (Bloom 1970) with md5-derived bit positions —
set MEMBERSHIP as persistable, mergeable, auditable state, completing
the sketch family: HLL (distinct counts), CMS (frequencies), GK
(quantile audit), Bloom (membership).

The join-side Bloom in operators/joins.py uses xxhash64 (fastest for an
in-plan transient filter, never persisted). THIS one derives positions
from md5 so any engine reconstructs the word table bit-for-bit — the
form a persisted membership index needs: "have we already crawled this
URL / ingested this doc id", shipped as ~(n_bits/64) rows per shard,
merged across shards with bit_or (the Bloom union identity), probed
without touching the corpus. One-sided error as always: a present key
is NEVER reported absent; absent keys false-positive at
≈ (1 − e^{−kn/m})^k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

N_BITS = 1 << 12                    # 4096 bits = 64 words
N_HASHES = 3


def _positions(value) -> list[F.Column]:
    """k bit positions from md5(seed|key) — engine-portable."""
    v = F.col(value) if isinstance(value, str) else value
    return [
        F.pmod(F.conv(F.substring(
            F.md5(F.concat(F.lit(f"b{s}|"), v.cast("string"))), 1, 8),
            16, 10).cast("bigint"), F.lit(N_BITS))
        for s in range(N_HASHES)
    ]


def bloom_build(df: DataFrame, group_cols: list[str], value) -> DataFrame:
    """(group_cols..., word, bits) — the mergeable filter state: bit
    positions bucketed into 64-bit words, one bit_or aggregate."""
    pos = (df.select(*group_cols,
                     F.explode(F.array(*_positions(value))).alias("p"))
           .select(*group_cols,
                   (F.col("p") / 64).cast("int").alias("word"),
                   F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("m")))
    return (pos.groupBy(*group_cols, "word")
            .agg(F.expr("bit_or(m)").cast("bigint").alias("bits")))


def bloom_probe(filt: DataFrame, probes: DataFrame,
                group_cols: list[str], key_col: str) -> DataFrame:
    """Membership test per probe key: ALL k bits set → maybe-present
    (one-sided: definitely-absent otherwise). Joins only the word table
    — word-count-sized, never the corpus."""
    keyed = (probes.select(
        *group_cols, F.col(key_col),
        F.posexplode(F.array(*_positions(key_col))).alias("__i__", "p"))
        .select(*group_cols, key_col, "__i__",
                (F.col("p") / 64).cast("int").alias("word"),
                F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("m")))
    j = keyed.join(filt, [*group_cols, "word"], "left")
    hit = (F.coalesce("bits", F.lit(0)).bitwiseAND(F.col("m")) != 0).cast("int")
    # sum==count, NOT sum==N_HASHES: a probe key appearing k>1 times
    # contributes k*N_HASHES rows to its group (positions are
    # deterministic per key, so hits repeat identically) — comparing
    # against the constant would flip present keys to definitely-absent,
    # breaking the one-sided guarantee.
    return (j.groupBy(*group_cols, key_col)
            .agg((F.sum(hit) == F.count(F.lit(1))).alias("maybe_present")))
