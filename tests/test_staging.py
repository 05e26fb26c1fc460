"""staging: one way to materialize an intermediate, one way to free it."""

import contextlib
import os
import re

import pytest

from activedata_etl_spark import staging
from activedata_etl_spark.staging import release, scope, scratch_path, stage


def _rdd_ids(spark) -> set:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def _three(spark):
    """One stage of each tier, materialized."""
    df = spark.range(200).selectExpr("id", "id % 7 AS k")
    mem = stage(df.filter("k = 1"), "memory")
    mem.count()
    ck = stage(df.filter("k = 2"), "checkpoint")
    disk = stage(df.filter("k = 3"), "disk")
    return mem, ck, vars(disk)["_graft_stage"][1]


@pytest.mark.parametrize("fail", [False, True])
def test_scope_releases_every_tier(spark, fail):
    before = _rdd_ids(spark)
    with pytest.raises(RuntimeError) if fail else contextlib.nullcontext():
        with scope():
            mem, ck, path = _three(spark)
            assert _rdd_ids(spark) - before  # memory + checkpoint blocks
            assert mem.storageLevel.useMemory
            assert os.path.isdir(path)
            if fail:
                raise RuntimeError("boom")
    assert _rdd_ids(spark) <= before
    assert not mem.storageLevel.useMemory
    assert not os.path.exists(path)


def test_scopeless_stage_outlives_its_caller(spark):
    """With no scope open, a stage lives as a bare persist would: the
    frame a function returns is still cached after it returns."""
    def build():
        df = stage(spark.range(50).selectExpr("id * 3 AS x"), "memory")
        df.count()
        return df

    df = build()
    try:
        assert df.storageLevel.useMemory
        assert df.is_cached
    finally:
        release(df)
    assert not df.storageLevel.useMemory


def test_nested_scope_releases_only_its_own(spark):
    with scope():
        outer = stage(spark.range(30).selectExpr("id AS o"), "memory")
        outer.count()
        with scope():
            inner = stage(spark.range(31).selectExpr("id AS i"), "memory")
            inner.count()
            inner_path = scratch_path("probe")
            os.makedirs(inner_path)
        assert not inner.storageLevel.useMemory
        assert not os.path.exists(inner_path)
        assert outer.storageLevel.useMemory
    assert not outer.storageLevel.useMemory


def test_plan_only_checkpoint_and_disk_run_nothing(spark):
    sc = spark.sparkContext
    df = spark.range(100).selectExpr("id", "id % 3 AS k").groupBy("k").count()
    group = "test_staging_plan_only"
    sc.setJobGroup(group, group)
    try:
        with staging.plan_only(), scope():
            assert stage(df, "checkpoint") is df
            assert stage(df, "disk") is df
            assert staging._SCOPE.get().dir is None  # no directory made
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


def test_no_bare_persist_outside_staging():
    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "activedata_etl_spark")
    bare = re.compile(r"\.(persist|localCheckpoint|unpersist)\(")
    found = []
    for root, _, files in os.walk(pkg):
        for f in files:
            p = os.path.join(root, f)
            if not f.endswith(".py") or p.endswith(
                    os.path.join("activedata_etl_spark", "staging.py")):
                continue
            with open(p) as fh:
                found += [f"{p}:{i}" for i, line in enumerate(fh, 1)
                          if bare.search(line)]
    assert not found, found


def test_concurrent_builds_do_not_share_a_stage(spark, sf_dir):
    """Two builders of join_interval_overlap on one sf_dir at once: each
    build's session table is its own disk stage, so neither overwrites
    the files the other's frame reads."""
    import threading

    from activedata_etl_spark.parity import compare, duck_connect
    from activedata_etl_spark.queries import ORACLES, QUERIES

    name = "join_interval_overlap"
    gate, built, errors = threading.Barrier(2), [], []

    def build():
        try:
            gate.wait()
            built.append(QUERIES[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    con = duck_connect(sf_dir)
    try:
        for df in built:  # both frames are read after both builds
            res = compare(name, df, ORACLES[name], con)
            assert res.ok, str(res)
    finally:
        con.close()
