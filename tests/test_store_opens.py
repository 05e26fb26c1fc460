"""Stores the engine writes record each table's read schema, so opening
them runs no Spark job (schema inference reads a footer in one), and the
open returns exactly the schema ``spark.read.parquet`` infers."""

import json
import os

from pyspark.sql import functions as F

from activedata_etl_spark.ext import dedup_index as DI
from activedata_etl_spark.ext import pq as PQ
from activedata_etl_spark.io import load_table
from activedata_etl_spark.sources import etl

PARAMS = dict(n_hashes=16, n_bands=4, shingle_n=3)


def _docs(spark, sf_dir, n=300):
    return (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .filter(F.col("doc_id") < n).select("doc_id", "text"))


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_opens_free(spark, opens, tag):
    for name, (path, open_fn) in opens.items():
        df, n = _jobs(spark, f"open:{tag}:{name}", open_fn)
        assert n == 0, f"opening {name} ran {n} Spark jobs"
        assert df.schema == spark.read.parquet(path).schema, name


def test_store_opens_run_no_jobs(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    idx = str(tmp_path / "dedup")
    DI.build_index(docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text",
                   idx, **PARAMS)
    DI.append_to_index(docs.filter(F.col("doc_id") % 2 == 1), "doc_id",
                       "text", idx, **PARAMS)
    meta = DI._load_meta(idx)
    tables = ("signatures", "bands", "shingle_sets", "bands_spill",
              "sets_spill")
    assert set(meta["schemas"]) == set(tables)
    _assert_opens_free(spark, {
        t: (os.path.join(idx, t),
            lambda t=t: DI._open(spark, idx, t, DI._load_meta(idx)))
        for t in tables}, "dedup")

    emb = (spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
           .filter(F.col("vec_id") < 200).select("vec_id", "embedding"))
    pq = str(tmp_path / "pq")
    PQ.build_pq_index(emb.filter(F.col("vec_id") < 150), "vec_id",
                      "embedding", pq)
    PQ.append_pq_codes(emb.filter(F.col("vec_id") >= 150), "vec_id",
                       "embedding", spark, pq)
    _assert_opens_free(spark, {
        "codebook": (os.path.join(pq, "codebook"),
                     lambda: PQ.read_pq_codebook(spark, pq)),
        "codes": (os.path.join(pq, "codes"),
                  lambda: PQ._open(spark, pq, "codes"))}, "pq")

    ev = etl.stamp_provenance(load_table(spark, sf_dir, "events"),
                              "events/test", F.col("event_id"))
    roll = str(tmp_path / "rollover")
    etl.rollover_write(ev.filter(F.dayofmonth("ts") < 3), roll, "ts")
    etl.rollover_write(ev.filter(F.dayofmonth("ts") == 3), roll, "ts")
    assert os.path.isfile(os.path.join(roll, etl.ROLLOVER_SCHEMA))
    _assert_opens_free(spark, {
        "rollover": (roll, lambda: etl.read_rollover(spark, roll))},
        "rollover")


def test_index_without_schema_record_reads_the_same(spark, sf_dir, tmp_path):
    """A store built before schema records existed (no ``schemas`` in
    its meta) still opens by inference and serves the same pairs."""
    docs = _docs(spark, sf_dir)
    idx = str(tmp_path / "idx")
    DI.build_index(docs.filter(F.col("doc_id") % 3 != 0), "doc_id", "text",
                   idx, **PARAMS)
    DI.append_to_index(docs.filter(F.col("doc_id") % 3 == 0), "doc_id",
                       "text", idx, **PARAMS)
    delta = docs.filter(F.col("doc_id") % 20 == 1)

    def pairs():
        return ({tuple(r) for r in
                 DI.near_dup_pairs_from_index(spark, idx, 0.2).collect()},
                {tuple(r) for r in DI.pairs_against_index(
                    delta, "doc_id", "text", spark, idx, threshold=0.2,
                    **PARAMS).collect()})

    with_record = pairs()
    meta = DI._load_meta(idx)
    del meta["schemas"]
    with open(DI._meta_path(idx), "w") as f:
        json.dump(meta, f)
    assert pairs() == with_record
    assert with_record[0]
