"""Persisted dedup index (ext/dedup_index.py): index-backed near-dup must
equal the direct pipeline, and incremental append must equal a full build."""

import os

from pyspark.sql import functions as F

from activedata_etl_spark.ext import dedup as DD
from activedata_etl_spark.ext import dedup_index as DI

PARAMS = dict(n_hashes=16, n_bands=4, shingle_n=3)
THRESHOLD = 0.2


def _docs(spark, sf_dir, n=300):
    return (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .filter(F.col("doc_id") < n).select("doc_id", "text"))


def _pairs_set(df):
    return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect()}


def test_index_matches_direct_pipeline(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    idx = str(tmp_path / "idx")
    DI.build_index(docs, "doc_id", "text", idx, **PARAMS)

    direct = DD.near_dup_pairs(docs, "doc_id", "text", threshold=THRESHOLD, **PARAMS)
    from_idx = DI.near_dup_pairs_from_index(spark, idx, threshold=THRESHOLD)
    assert _pairs_set(from_idx) == _pairs_set(direct)
    assert len(_pairs_set(from_idx)) > 0  # corpus has known near-dups

    # Signature table is small and self-describing: id + 16 hashes + 4 bands.
    sig = DI.read_signatures(spark, idx)
    assert set(sig.columns) == {"id", *[f"h{i}" for i in range(16)],
                                *[f"band_{b}" for b in range(4)]}
    assert sig.count() <= docs.count()  # docs shorter than shingle_n drop out


def test_incremental_append_equals_full_build(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    DI.build_index(old, "doc_id", "text", inc, **PARAMS)

    # The nightly-ingest query: delta vs index, BEFORE appending.
    delta_pairs = DI.pairs_against_index(new, "doc_id", "text", spark, inc,
                                         threshold=THRESHOLD, **PARAMS)
    full = str(tmp_path / "full")
    DI.build_index(docs, "doc_id", "text", full, **PARAMS)
    all_pairs = _pairs_set(DI.near_dup_pairs_from_index(spark, full, THRESHOLD))
    old_pairs = _pairs_set(DD.near_dup_pairs(old, "doc_id", "text",
                                             threshold=THRESHOLD, **PARAMS))
    # delta ∪ old-only == full corpus pairs (delta covers new-new and new-old)
    assert _pairs_set(delta_pairs) | old_pairs == all_pairs

    # After append, the index serves the whole corpus identically to a
    # from-scratch build (md5 determinism).
    DI.append_to_index(new, "doc_id", "text", inc, **PARAMS)
    assert _pairs_set(DI.near_dup_pairs_from_index(spark, inc, THRESHOLD)) == all_pairs


def _touching(pairs, ids):
    return {p for p in pairs if p[0] in ids or p[1] in ids}


def test_lookup_regime_equals_direct(spark, sf_dir, tmp_path, monkeypatch):
    """A TINY delta (the 'is this batch already in the corpus' shape)
    takes the v2 lookup regime — literal (band_idx, sbkt, band_sig IN)
    predicates pushed onto the stored reads — and must return exactly
    the delta-touching pairs of a from-scratch run over old ∪ delta.
    The dir-budget gate is forced open so the literal path is the one
    under test regardless of how many directories this corpus hits."""
    monkeypatch.setattr(DI, "_LOOKUP_DIR_BUDGET", 1.0)
    docs = _docs(spark, sf_dir, n=500)
    old = docs.filter(F.col("doc_id") % 20 != 1)
    new = docs.filter(F.col("doc_id") % 20 == 1)  # 5% delta → lookup
    idx = str(tmp_path / "idx")
    DI.build_index(old, "doc_id", "text", idx, **PARAMS)

    got = DI.pairs_against_index(new, "doc_id", "text", spark, idx,
                                 threshold=THRESHOLD, **PARAMS)
    # the v2 layout must support directory pruning for the lookup
    # regime's literal predicates: a (band_idx, sbkt) filter over the
    # stored band table reaches the scan as PartitionFilters (the
    # delta query's own plan is hidden behind its localCheckpoint, so
    # the layout property is asserted on the stored read directly)
    import os as _os
    bands = spark.read.parquet(_os.path.join(idx, "bands"))
    plan = (bands.filter((F.col("band_idx") == 0) & (F.col("sbkt") == 3))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan
    assert "band_idx" in plan.split("PartitionFilters", 1)[1][:400]

    want = _touching(
        _pairs_set(DD.near_dup_pairs(docs, "doc_id", "text",
                                     threshold=THRESHOLD, **PARAMS)),
        {r.doc_id for r in new.select("doc_id").collect()})
    assert _pairs_set(got) == want and len(want) > 0


def test_batch_regime_equals_direct(spark, sf_dir, tmp_path, monkeypatch):
    """Forcing the middle (batch) regime — delta too big for literal
    pushdown, too small for the bulk lazy plan — by pinning _SEEK_CAP
    to 0: the stored band table scans unfiltered but the verify stage
    still semi-joins to candidate ids. Same answer as the lookup run."""
    docs = _docs(spark, sf_dir, n=500)
    old = docs.filter(F.col("doc_id") % 20 != 1)
    new = docs.filter(F.col("doc_id") % 20 == 1)
    idx = str(tmp_path / "idx")
    DI.build_index(old, "doc_id", "text", idx, **PARAMS)

    monkeypatch.setattr(DI, "_LOOKUP_CAP", 0)
    monkeypatch.setattr(DI, "_SEEK_CAP", 0)
    got = DI.pairs_against_index(new, "doc_id", "text", spark, idx,
                                 threshold=THRESHOLD, **PARAMS)
    want = _touching(
        _pairs_set(DD.near_dup_pairs(docs, "doc_id", "text",
                                     threshold=THRESHOLD, **PARAMS)),
        {r.doc_id for r in new.select("doc_id").collect()})
    assert _pairs_set(got) == want and len(want) > 0


def test_purge_from_index_right_to_be_forgotten(spark, sf_dir, tmp_path):
    """purge_from_index must leave the index serving EXACTLY what a
    fresh build on the remaining corpus serves (pairs, candidates,
    signatures), rewrite only the directories the purged ids live in,
    and decrement the doc count."""
    import os as _os

    docs = _docs(spark, sf_dir, n=400)
    victims = [r.doc_id for r in docs.filter(F.col("doc_id") % 7 == 0)
               .select("doc_id").collect()][:20]
    idx = str(tmp_path / "idx")
    # build + one spilled append, so the purge must also cover rows
    # still sitting in bands_spill/sets_spill (r11 delta-spill layout)
    DI.build_index(docs.filter(F.col("doc_id") % 5 != 0),
                   "doc_id", "text", idx, **PARAMS)
    DI.append_to_index(docs.filter(F.col("doc_id") % 5 == 0),
                       "doc_id", "text", idx, **PARAMS)
    import os as _os2
    assert _os2.path.isdir(_os2.path.join(idx, "bands_spill"))
    before_meta = DI._load_meta(idx)

    # untouched band dirs must keep their bytes (no full-index rewrite)
    def _mtimes(root):
        out = {}
        for dp, _, fns in _os.walk(root):
            for fn in fns:
                p = _os.path.join(dp, fn)
                out[p] = _os.path.getmtime(p)
        return out

    bands_before = _mtimes(_os.path.join(idx, "bands"))
    n = DI.purge_from_index(spark, idx, victims)
    assert n > 0
    bands_after = _mtimes(_os.path.join(idx, "bands"))
    untouched = set(bands_before) & set(bands_after)
    assert untouched, "purge rewrote every band file"
    assert any(bands_before[p] == bands_after[p] for p in untouched)

    survivors = docs.join(
        spark.createDataFrame([(v,) for v in victims], "doc_id long"),
        "doc_id", "left_anti")
    fresh = str(tmp_path / "fresh")
    DI.build_index(survivors, "doc_id", "text", fresh, **PARAMS)
    assert _pairs_set(DI.near_dup_pairs_from_index(spark, idx, THRESHOLD)) \
        == _pairs_set(DI.near_dup_pairs_from_index(spark, fresh, THRESHOLD))
    # no forgotten id anywhere
    sig_ids = {r.id for r in DI.read_signatures(spark, idx)
               .select("id").collect()}
    set_ids = {r.id for r in DI.read_shingle_sets(spark, idx)
               .select("id").collect()}
    assert not (set(victims) & (sig_ids | set_ids))
    after_meta = DI._load_meta(idx)
    assert after_meta["n_docs"] < before_meta["n_docs"]
    # the delta query keeps working against the purged index
    delta = docs.filter(F.col("doc_id") % 20 == 1)
    got = DI.pairs_against_index(delta, "doc_id", "text", spark, idx,
                                 threshold=THRESHOLD, **PARAMS)
    assert not any((r.id_a in set(victims)) or (r.id_b in set(victims))
                   for r in got.collect())


def test_compact_index_read_invisible(spark, sf_dir, tmp_path):
    """The r11 delta-spill lifecycle (VERDICT r10 #4): an append lands
    as ONE batch-sized file per table in bands_spill/sets_spill (the
    pre-r11 layout fanned ≤160 small files across the bucket
    directories per nightly batch); readers union spill with the
    bucketed layout; compact_index folds spill rows into their home
    directories and removes the spill — all read-invisible."""
    import glob as _glob
    import os as _os

    docs = _docs(spark, sf_dir, n=400)
    idx = str(tmp_path / "idx")
    DI.build_index(docs.filter(F.col("doc_id") % 3 == 0),
                   "doc_id", "text", idx, **PARAMS)

    def n_files(pat):
        return sum(len([f for f in _os.listdir(d) if f.startswith("part-")])
                   for d in _glob.glob(pat))

    bands_pat = _os.path.join(idx, "bands", "band_idx=*", "sbkt=*")
    build_files = n_files(bands_pat)
    for b in (1, 2):
        before = n_files(_os.path.join(idx, "bands_spill")) if b == 2 else 0
        DI.append_to_index(docs.filter(F.col("doc_id") % 3 == b),
                           "doc_id", "text", idx, **PARAMS)
        # write amplification is batch-sized: ONE file per table per
        # append, and the bucketed directories are untouched
        assert n_files(_os.path.join(idx, "bands_spill")) == before + 1
        assert n_files(bands_pat) == build_files

    before_pairs = _pairs_set(DI.near_dup_pairs_from_index(spark, idx,
                                                           THRESHOLD))
    delta = docs.filter(F.col("doc_id") % 20 == 1)
    before_delta = _pairs_set(DI.pairs_against_index(
        delta, "doc_id", "text", spark, idx, threshold=THRESHOLD, **PARAMS))

    n = DI.compact_index(spark, idx)
    assert n > 0
    # spill folded away; every leaf dir holds exactly one data file
    assert not _os.path.isdir(_os.path.join(idx, "bands_spill"))
    assert not _os.path.isdir(_os.path.join(idx, "sets_spill"))
    for d in _glob.glob(bands_pat):
        assert len([f for f in _os.listdir(d)
                    if f.startswith("part-")]) == 1
    assert _pairs_set(DI.near_dup_pairs_from_index(spark, idx, THRESHOLD)) \
        == before_pairs
    assert _pairs_set(DI.pairs_against_index(
        delta, "doc_id", "text", spark, idx, threshold=THRESHOLD,
        **PARAMS)) == before_delta
    # idempotent: a second compaction finds nothing to fold
    assert DI.compact_index(spark, idx) == 0


def test_purge_string_keyed_index(spark, sf_dir, tmp_path):
    """Ids keep their native type through a purge (r10 review: the old
    int() coercion crashed on string keys — or worse, null-joined and
    reported success without forgetting anything)."""
    docs = (_docs(spark, sf_dir, n=200)
            .select(F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
                    .alias("doc_id"), "text"))
    idx = str(tmp_path / "idx")
    DI.build_index(docs, "doc_id", "text", idx, **PARAMS)
    victims = [r.doc_id for r in docs.limit(5).collect()]
    n = DI.purge_from_index(spark, idx, victims)
    assert n > 0
    left = {r.id for r in DI.read_signatures(spark, idx)
            .select("id").collect()}
    assert not (set(victims) & left)
    # replayed purge: true no-op
    assert DI.purge_from_index(spark, idx, victims) == 0
    # absent ids: no rewrite, no false success
    assert DI.purge_from_index(spark, idx, ["doc-999999"]) == 0


def test_interrupted_swap_self_heals(spark, sf_dir, tmp_path):
    """iosafe.adopt_orphans resolves every crash point of the
    aside-rename protocol (r11): a PROVEN-complete orphan (_SUCCESS)
    whose destination was renamed aside is the new data — renamed in;
    an UNPROVEN orphan is dropped (never adopted); a ``.old`` tombstone
    with a live destination is post-swap garbage; one without is the
    only surviving copy — restored."""
    import os as _os
    import shutil as _shutil

    from activedata_etl_spark.ext.iosafe import adopt_orphans

    docs = _docs(spark, sf_dir, n=200)
    idx = str(tmp_path / "idx")
    DI.build_index(docs, "doc_id", "text", idx, **PARAMS)
    before = _pairs_set(DI.near_dup_pairs_from_index(spark, idx, THRESHOLD))

    sets_root = _os.path.join(idx, "shingle_sets")
    leaf = sorted(d for d in _os.listdir(sets_root)
                  if d.startswith("ibkt="))[0]
    dest = _os.path.join(sets_root, leaf)
    orphan = _os.path.join(sets_root, "_rewrite_tmp", leaf)
    _os.makedirs(_os.path.dirname(orphan), exist_ok=True)

    # crash between aside-rename and swap: new data fully written
    # (_SUCCESS — atomic_rewrite only renames dest aside after a
    # successful write), dest moved to the tombstone
    _shutil.copytree(dest, orphan)
    open(_os.path.join(orphan, "_SUCCESS"), "w").close()
    _os.rename(dest, orphan + ".old")
    assert adopt_orphans(idx) == 1
    assert _os.path.isdir(dest) and not _os.path.isdir(orphan)
    assert not _os.path.isdir(orphan + ".old")
    assert _pairs_set(DI.near_dup_pairs_from_index(spark, idx,
                                                   THRESHOLD)) == before

    # crash after swap, mid-tombstone-rmtree: dest is the new data,
    # the tombstone is unreachable garbage -> dropped
    _shutil.copytree(dest, orphan + ".old")
    assert adopt_orphans(idx) == 1
    assert _os.path.isdir(dest) and not _os.path.isdir(orphan + ".old")

    # crash before the aside-rename: dest still present -> orphan is
    # garbage regardless of completeness (the rewrite simply reruns)
    _shutil.copytree(dest, orphan)
    open(_os.path.join(orphan, "_SUCCESS"), "w").close()
    assert adopt_orphans(idx) == 1
    assert _os.path.isdir(dest) and not _os.path.isdir(orphan)

    # crash mid-write on a fresh destination: no _SUCCESS, no dest, no
    # tombstone -> the UNPROVEN orphan is dropped, never served (v1
    # would have adopted a half-written directory here)
    ghost_dest = _os.path.join(sets_root, "ibkt=9999")
    ghost = _os.path.join(sets_root, "_rewrite_tmp", "ibkt=9999")
    _shutil.copytree(dest, ghost)
    if _os.path.exists(_os.path.join(ghost, "_SUCCESS")):
        _os.remove(_os.path.join(ghost, "_SUCCESS"))
    assert adopt_orphans(idx) == 1
    assert not _os.path.isdir(ghost) and not _os.path.isdir(ghost_dest)

    # and an orphan is INVISIBLE to readers while it exists
    _shutil.copytree(dest, orphan)
    assert _pairs_set(DI.near_dup_pairs_from_index(spark, idx,
                                                   THRESHOLD)) == before
    adopt_orphans(idx)


def test_half_deleted_destination_never_served(spark, sf_dir, tmp_path):
    """The r10-ADVICE crash window: v1 rmtree'd the live destination
    before renaming the temp in, so a crash mid-delete left a PARTIAL
    dest that adopt_orphans then made permanent (dropping the complete
    new copy). The aside-rename protocol never deletes live data in
    place — after ANY adopt_orphans pass the served directory equals
    either the full old data or the full new data, bit-for-bit."""
    import os as _os
    import shutil as _shutil

    from activedata_etl_spark.ext.iosafe import adopt_orphans, atomic_rewrite

    src = str(tmp_path / "src")
    spark.range(0, 100).withColumn("v", F.col("id") * 2) \
        .coalesce(2).write.parquet(src)
    dest = str(tmp_path / "served" / "data")
    _os.makedirs(_os.path.dirname(dest))
    _shutil.copytree(src, dest)
    old_rows = {tuple(r) for r in spark.read.parquet(dest).collect()}

    # the rewrite drops half the rows; run it for real to prove the
    # normal path, then reconstruct the crash states around it
    atomic_rewrite(spark.read.parquet(src).filter(F.col("id") < 50), dest)
    new_rows = {tuple(r) for r in spark.read.parquet(dest).collect()}
    assert new_rows == {t for t in old_rows if t[0] < 50}

    # crash state the advice names: complete new copy in the temp home,
    # dest present (v1 would drop the new copy even if dest were
    # half-deleted; now dest is PROVEN whole — the protocol never
    # half-deletes — so dropping the temp is correct and loss-free)
    home = _os.path.join(_os.path.dirname(dest), "_rewrite_tmp")
    orphan = _os.path.join(home, "data")
    _os.makedirs(home, exist_ok=True)
    _shutil.copytree(src, orphan)
    open(_os.path.join(orphan, "_SUCCESS"), "w").close()
    assert adopt_orphans(str(tmp_path / "served")) == 1
    assert {tuple(r) for r in spark.read.parquet(dest).collect()} == new_rows


def test_rewrite_is_single_writer(spark, tmp_path):
    """Concurrent rewrite of the same destination raises (the advisor's
    race: purge vs compaction on one index), and adopt_orphans skips a
    temp whose writer lock is live instead of adopting a directory
    still being written."""
    import fcntl
    import os as _os

    import pytest

    from activedata_etl_spark.ext import iosafe

    dest = str(tmp_path / "idx" / "data")
    _os.makedirs(_os.path.dirname(dest))
    spark.range(10).write.parquet(dest)

    lock_path = iosafe._tmp_path(dest) + ".lock"
    _os.makedirs(_os.path.dirname(lock_path), exist_ok=True)
    fd = _os.open(lock_path, _os.O_CREAT | _os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        with pytest.raises(RuntimeError, match="single-writer"):
            iosafe.atomic_rewrite(spark.range(5), dest)
        # a live writer's temp is not adopted, dropped, or unlinked
        orphan = iosafe._tmp_path(dest)
        _os.makedirs(orphan, exist_ok=True)
        assert iosafe.adopt_orphans(str(tmp_path / "idx")) == 0
        assert _os.path.isdir(orphan)
    finally:
        _os.close(fd)
    assert iosafe.adopt_orphans(str(tmp_path / "idx")) == 1
    assert {r.id for r in spark.read.parquet(dest).collect()} == set(range(10))


def test_observed_sizing_metric_sees_all_rows(spark):
    """Pin the Spark contract that an ``Observation`` placed BELOW a
    ``groupBy().agg().limit(k).collect()`` counts EVERY input row, even
    when the limit truncates the grouped output — the shuffle map stage
    forces full input consumption. ``pairs_against_index`` sizes its
    regimes in one such action (and asserts the exhaustive group sum
    when the limit does not truncate); if a future Spark version pushes
    the limit across the partial aggregate, this test is the tripwire
    before the regime gate silently misroutes."""
    from pyspark.sql import Observation

    df = (spark.range(0, 10_000)
          .withColumn("g", F.pmod(F.col("id"), F.lit(97))))

    # truncating limit: 97 groups, keep only 5 — observation still exact
    obs = Observation()
    rows = (df.observe(obs, F.count(F.lit(1)).alias("n"))
            .groupBy("g").agg(F.count(F.lit(1)).alias("__n__"))
            .limit(5).collect())
    assert len(rows) == 5
    assert int(obs.get["n"]) == 10_000

    # non-truncating limit: the collected groups are exhaustive and
    # their counts sum to the observed total (the in-code invariant)
    obs2 = Observation()
    rows2 = (df.observe(obs2, F.count(F.lit(1)).alias("n"))
             .groupBy("g").agg(F.count(F.lit(1)).alias("__n__"))
             .limit(200).collect())
    assert len(rows2) == 97
    assert int(obs2.get["n"]) == 10_000 == sum(int(r["__n__"]) for r in rows2)


def _build_and_spill(spark, sf_dir, idx, **kw):
    docs = _docs(spark, sf_dir, n=300)
    DI.build_index(docs.filter(F.col("doc_id") % 3 == 0), "doc_id", "text",
                   idx, **PARAMS, **kw)
    DI.append_to_index(docs.filter(F.col("doc_id") % 3 == 1), "doc_id",
                       "text", idx, **PARAMS)
    return docs


def test_compact_jobs_do_not_grow_with_leaves(spark, sf_dir, tmp_path):
    """compact_index rewrites each table in one distributed write, so the
    Spark jobs it runs are the same at 4 and at 16 signature buckets (16
    and 64 band leaves); it returns the leaves it rewrote, then 0."""
    sc = spark.sparkContext
    jobs = {}
    for n in (4, 16):
        idx = str(tmp_path / f"idx{n}")
        _build_and_spill(spark, sf_dir, idx, n_sig_buckets=n)
        group = f"compact-{n}"
        sc.setJobGroup(group, group)
        try:
            rewritten = DI.compact_index(spark, idx)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert rewritten > n  # the spill lands in more leaves than bands
        assert DI.compact_index(spark, idx) == 0
    assert jobs[4] == jobs[16], jobs


def test_pairs_against_same_after_appending_the_batch(spark, sf_dir,
                                                      tmp_path):
    """The ingest order appends a batch and then checks it: the delta's
    own rows, now also in the index, must not change its pairs."""
    idx = str(tmp_path / "idx")
    docs = _docs(spark, sf_dir, n=300)
    DI.build_index(docs.filter(F.col("doc_id") % 3 != 1), "doc_id", "text",
                   idx, **PARAMS)
    delta = docs.filter(F.col("doc_id") % 3 == 1)

    def pairs():
        return _pairs_set(DI.pairs_against_index(
            delta, "doc_id", "text", spark, idx, threshold=THRESHOLD,
            **PARAMS))

    before = pairs()
    DI.append_to_index(delta, "doc_id", "text", idx, **PARAMS)
    assert pairs() == before and before
    DI.compact_index(spark, idx)
    assert pairs() == before


def test_crash_mid_multi_leaf_swap_converges(spark, sf_dir, tmp_path,
                                             monkeypatch):
    """A compaction that dies after swapping some leaves of a table:
    every leaf serves its old or its new rows, the spill (removed last)
    still serves the rest, answers are unchanged, and the next
    compaction converges."""
    import glob as _glob
    import os as _os

    import pytest

    from activedata_etl_spark.ext import iosafe

    idx = str(tmp_path / "idx")
    _build_and_spill(spark, sf_dir, idx, n_sig_buckets=4)
    before = _pairs_set(DI.near_dup_pairs_from_index(spark, idx, THRESHOLD))
    leaves = sorted(_glob.glob(_os.path.join(idx, "bands", "band_idx=*",
                                             "sbkt=*")))

    def rows(leaf):
        return {tuple(r) for r in spark.read.parquet(leaf)
                .select("id", "band_sig").collect()}

    old = {leaf: rows(leaf) for leaf in leaves}
    spill = spark.read.parquet(_os.path.join(idx, "bands_spill"))
    added = {}
    for r in spill.collect():
        leaf = _os.path.join(idx, "bands", f"band_idx={r['band_idx']}",
                             f"sbkt={r['sbkt']}")
        added.setdefault(leaf, set()).add((r["id"], r["band_sig"]))

    real_swap, calls = iosafe._swap, []

    def dying_swap(dest, fill):
        calls.append(dest)
        if len(calls) == 3:
            raise RuntimeError("crash mid-swap")
        real_swap(dest, fill)

    monkeypatch.setattr(iosafe, "_swap", dying_swap)
    with pytest.raises(RuntimeError, match="crash mid-swap"):
        DI.compact_index(spark, idx)
    monkeypatch.setattr(iosafe, "_swap", real_swap)

    swapped = 0
    for leaf in leaves:
        got = rows(leaf)
        new = old[leaf] | added.get(leaf, set())
        assert got in (old[leaf], new), leaf
        swapped += got != old[leaf]
    assert swapped == 2
    assert _os.path.isdir(_os.path.join(idx, "bands_spill"))
    assert _pairs_set(DI.near_dup_pairs_from_index(spark, idx,
                                                   THRESHOLD)) == before

    assert DI.compact_index(spark, idx) > 0
    assert not _os.path.isdir(_os.path.join(idx, "bands_spill"))
    assert not _glob.glob(_os.path.join(idx, "**", "_rewrite_tmp"),
                          recursive=True)
    for leaf in leaves:
        assert rows(leaf) == old[leaf] | added.get(leaf, set())
    assert _pairs_set(DI.near_dup_pairs_from_index(spark, idx,
                                                   THRESHOLD)) == before
    assert DI.compact_index(spark, idx) == 0


def test_driver_verify_matches_distributed_verify(spark, sf_dir, tmp_path,
                                                  monkeypatch):
    """Listed candidates are verified on the driver and served as a local
    relation; its pairs equal the distributed verify's bit for bit,
    string ids with a quote and a backslash in them included."""
    docs = _docs(spark, sf_dir, n=400)
    key = F.concat(F.lit("it's\\"), F.col("doc_id").cast("string"))
    old = docs.filter(F.col("doc_id") % 20 != 1).withColumn("doc_id", key)
    new = docs.filter(F.col("doc_id") % 20 == 1).withColumn("doc_id", key)
    idx = str(tmp_path / "idx")
    DI.build_index(old, "doc_id", "text", idx, **PARAMS)

    def run():
        out = DI.pairs_against_index(new, "doc_id", "text", spark, idx,
                                     threshold=THRESHOLD, **PARAMS)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return {tuple(r) for r in out.collect()}, out.schema, plan

    on_driver, schema, plan = run()
    assert "LocalRelation" in plan
    monkeypatch.setattr(DI, "_SEEK_CAP", 0)  # force the semi-join verify
    distributed, schema2, plan2 = run()
    assert "LocalRelation" not in plan2
    assert on_driver == distributed and on_driver
    assert [f.dataType for f in schema] == [f.dataType for f in schema2]
