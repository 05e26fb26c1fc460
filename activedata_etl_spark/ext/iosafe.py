"""Crash-safe directory rewrite for persisted-index maintenance.

Every purge/compact rewrites a served directory in place. Hazards the
one-off implementations this replaces had (r10 review), plus the r10
advisor's finding on this module's own first version:

1. **Discovery-visible temp names**: a temp sibling like
   ``sbkt=3.purge.tmp`` inside a partitioned table parses as a
   partition value — a crash between write and swap left the table
   serving DUPLICATE rows (and degraded the partition column to
   string). A name like ``_sbkt=3.tmp`` is no better: anything
   containing ``=`` participates in partition inference and raises
   CONFLICTING_PARTITION_COLUMN_NAMES (found empirically by the
   swap-heal test). Temps therefore live under a ``_rewrite_tmp/``
   subdirectory of the destination's parent — an underscore-prefixed
   name with no ``=``, which Spark's listing skips entirely (the
   bm25 ``_dl`` sidecar precedent).
2. **The half-deleted destination** (r10 ADVICE): v1 removed the old
   destination with ``shutil.rmtree`` (file-by-file, NOT atomic) before
   renaming the temp in. A crash mid-rmtree left the destination
   PRESENT but partially deleted; :func:`adopt_orphans` then saw "dest
   exists", classified the complete new copy as pre-swap garbage, and
   the index permanently served a half-deleted directory. The swap now
   never deletes live data in place: the old destination is renamed
   ASIDE in one atomic step (to a ``<name>.old`` tombstone inside the
   temp home), the new data is renamed in atomically, and only then is
   the tombstone — now unreachable by readers — rmtree'd. Every crash
   point resolves deterministically:

   - crash during ``df.write``      → tmp has no ``_SUCCESS``; dest
     intact → drop tmp.
   - crash before the aside-rename  → dest intact → drop tmp (the
     rewrite simply reruns).
   - crash between aside and swap   → dest missing, tmp COMPLETE
     (``_SUCCESS`` present — the aside only happens after a successful
     write) → rename tmp in, drop the tombstone.
   - crash during tombstone rmtree  → dest is the complete new data;
     the tombstone is unreachable garbage → drop it.

   Net contract: readers see the old data or the new data, never a
   partial directory; completeness of a temp is PROVEN by Spark's
   ``_SUCCESS`` marker, never assumed.
3. **Single-writer per destination** (r10 ADVICE): the temp path for a
   given destination is fixed, so two concurrent rewrites of the same
   directory (e.g. a purge racing a compaction) would corrupt each
   other, and a maintenance pass's :func:`adopt_orphans` could adopt a
   temp another process is still writing. Maintenance is SINGLE-WRITER
   per index: :func:`atomic_rewrite` takes an ``flock`` on a per-name
   lock file in the temp home for the whole write+swap and raises if
   it is already held; ``adopt_orphans`` skips any name whose lock is
   held by a live writer. (Readers are never locked — they only ever
   see complete directories.)
4. **Many leaves, one write**: :func:`rewrite_leaves` writes every leaf
   of a partitioned table it rewrites in ONE distributed write into a
   ``<name>.stage`` directory of the table's temp home, then moves each
   written leaf into that leaf's own temp path (with a ``_SUCCESS``
   marker: the stage's job committed, so each leaf is complete) and
   swaps it in as above, one leaf at a time under the leaf's lock. A
   crash mid-way leaves every leaf serving its old or its new data; a
   ``.stage`` left behind is dropped by :func:`adopt_orphans` and a
   moved leaf resolves like any other temp.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame

_TMP_DIR = "_rewrite_tmp"
_OLD_SUFFIX = ".old"
_LOCK_SUFFIX = ".lock"
_STAGE_SUFFIX = ".stage"


def _tmp_path(dest: str) -> str:
    parent, name = os.path.split(dest.rstrip("/"))
    return os.path.join(parent, _TMP_DIR, name)


def _is_complete(tmp: str) -> bool:
    """A temp directory is PROVEN complete iff Spark's job-success
    marker is present (written last, by the committer)."""
    return os.path.isfile(os.path.join(tmp, "_SUCCESS"))


@contextmanager
def _writer_lock(lock_path: str):
    """Exclusive non-blocking flock; raises if another writer holds it
    (single-writer contract — see module docstring #3). The lock file
    is unlinked ONLY by the writer that acquired it (a failed acquire
    must not delete the live writer's lock path), and acquisition
    re-verifies the path still names the locked inode — the standard
    unlink-vs-recreate race on lock files. A stale-inode hit means the
    PREVIOUS writer unlinked its lock between our open and our flock
    (benign sequential contention, r11 ADVICE), so acquisition retries
    on the fresh path instead of raising; only a flock held by a LIVE
    writer raises."""
    import fcntl

    os.makedirs(os.path.dirname(lock_path), exist_ok=True)
    fd = None
    acquired = False
    try:
        while True:
            fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                raise RuntimeError(
                    f"concurrent rewrite of "
                    f"{lock_path[:-len(_LOCK_SUFFIX)]}: index maintenance "
                    "is single-writer per destination")
            try:
                if os.fstat(fd).st_ino == os.stat(lock_path).st_ino:
                    break
            except FileNotFoundError:
                pass  # previous holder unlinked it — retry on fresh file
            os.close(fd)
            fd = None
        acquired = True
        yield
    finally:
        if fd is not None:
            if acquired:
                try:
                    os.unlink(lock_path)  # while still holding the flock
                except OSError:
                    pass
            os.close(fd)  # releases the flock


def _locked_by_live_writer(lock_path: str) -> bool:
    import fcntl

    if not os.path.exists(lock_path):
        return False
    try:
        fd = os.open(lock_path, os.O_RDWR)
    except FileNotFoundError:
        return False  # the writer unlinked its lock in the window — gone
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            return True
        fcntl.flock(fd, fcntl.LOCK_UN)
        return False
    finally:
        os.close(fd)


def atomic_rewrite(df: DataFrame, dest: str) -> None:
    """Materialize ``df`` fully under the discovery-invisible temp
    home, then swap it over ``dest`` without ever deleting live data
    in place (aside-rename protocol — module docstring #2). Partitioned
    tables rewrite LEAF BY LEAF (the caller passes each ``key=value``
    directory as ``dest``) — the partition value lives in the dirname,
    so a flat leaf rewrite preserves the partitioned layout exactly."""
    _swap(dest, lambda tmp: df.write.mode("overwrite").parquet(tmp))


def _swap(dest: str, fill) -> None:
    """Under ``dest``'s writer lock: ``fill(tmp)`` makes the complete new
    copy at the temp path, then the aside-rename swap puts it in."""
    tmp = _tmp_path(dest)
    old = tmp + _OLD_SUFFIX
    with _writer_lock(tmp + _LOCK_SUFFIX):
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        fill(tmp)
        if os.path.isdir(dest):
            os.rename(dest, old)  # atomic: dest vanishes whole, never partial
        os.rename(tmp, dest)
        shutil.rmtree(old, ignore_errors=True)
    # drop the (now empty) temp home so readers' directory listings
    # stay exactly what the writers produced
    try:
        os.rmdir(os.path.dirname(tmp))
    except OSError:
        pass  # another rewrite's temp still lives there


def _leaves(root: str, depth: int) -> list[str]:
    out = [root]
    for _ in range(depth):
        out = [os.path.join(d, n) for d in out for n in sorted(os.listdir(d))
               if "=" in n and os.path.isdir(os.path.join(d, n))]
    return out


def rewrite_leaves(df: DataFrame, table: str, keys: list[str]) -> list[str]:
    """Replace the leaves of the partitioned ``table`` (partitioned by
    ``keys``) that ``df`` holds rows for, each with exactly those rows,
    in ONE distributed write (module docstring #4). Leaves ``df`` has
    no rows for are not touched. ``df`` should be clustered on ``keys``
    so each leaf gets one file. Returns the destinations swapped."""
    stage = os.path.join(table, _TMP_DIR, "leaves" + _STAGE_SUFFIX)
    done = []
    with _writer_lock(stage + _LOCK_SUFFIX):
        shutil.rmtree(stage, ignore_errors=True)
        df.write.mode("overwrite").partitionBy(*keys).parquet(stage)
        for leaf in _leaves(stage, len(keys)):
            dest = os.path.join(table, os.path.relpath(leaf, stage))
            os.makedirs(os.path.dirname(dest), exist_ok=True)

            def fill(tmp, leaf=leaf):
                os.makedirs(os.path.dirname(tmp), exist_ok=True)
                os.rename(leaf, tmp)
                open(os.path.join(tmp, "_SUCCESS"), "w").close()

            _swap(dest, fill)
            done.append(dest)
        shutil.rmtree(stage, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(stage))
    except OSError:
        pass
    return done


def adopt_orphans(root: str) -> int:
    """Finish interrupted swaps anywhere under ``root`` per the crash
    matrix in the module docstring: a PROVEN-complete orphan whose
    destination is missing is the new data — rename it in; an orphan
    with a live destination (or without a ``_SUCCESS`` marker) is
    garbage — drop it; a ``.old`` tombstone whose destination exists
    is post-swap garbage — drop it; one whose destination is missing
    is the only surviving copy — restore it. Names whose writer lock
    is held by a live process are skipped (the writer finishes its own
    swap). Returns the number of orphans/tombstones handled."""
    handled = 0
    for dirpath, dirnames, _ in os.walk(root):
        if _TMP_DIR not in dirnames:
            continue
        home = os.path.join(dirpath, _TMP_DIR)
        entries = sorted(os.listdir(home))
        tombs = [n for n in entries if n.endswith(_OLD_SUFFIX)]
        for name in entries:
            # an interrupted one-write stage: what it had not yet moved
            # out is never served; the rewrite reruns
            if name.endswith(_STAGE_SUFFIX) and not _locked_by_live_writer(
                    os.path.join(home, name + _LOCK_SUFFIX)):
                shutil.rmtree(os.path.join(home, name), ignore_errors=True)
                handled += 1
        temps = [n for n in entries
                 if not n.endswith((_OLD_SUFFIX, _LOCK_SUFFIX,
                                    _STAGE_SUFFIX))]
        for name in temps:
            if _locked_by_live_writer(os.path.join(home,
                                                   name + _LOCK_SUFFIX)):
                continue
            tmp = os.path.join(home, name)
            dest = os.path.join(dirpath, name)
            old = tmp + _OLD_SUFFIX
            if os.path.isdir(dest):
                shutil.rmtree(tmp, ignore_errors=True)
            elif _is_complete(tmp):
                os.rename(tmp, dest)
                shutil.rmtree(old, ignore_errors=True)
            elif os.path.isdir(old):
                # write never completed but the old data was set aside
                # (unreachable under the normal sequence; restoring the
                # tombstone is strictly safer than serving nothing)
                shutil.rmtree(tmp, ignore_errors=True)
                os.rename(old, dest)
            else:
                shutil.rmtree(tmp, ignore_errors=True)
            handled += 1
        for name in tombs:
            old = os.path.join(home, name)
            if not os.path.isdir(old):
                continue  # already resolved by its temp's branch above
            base = name[: -len(_OLD_SUFFIX)]
            if _locked_by_live_writer(os.path.join(home,
                                                   base + _LOCK_SUFFIX)):
                continue
            dest = os.path.join(dirpath, base)
            if os.path.isdir(dest):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(old, dest)
            handled += 1
        for name in os.listdir(home):
            if name.endswith(_LOCK_SUFFIX) and not _locked_by_live_writer(
                    os.path.join(home, name)):
                try:
                    os.unlink(os.path.join(home, name))
                except OSError:
                    pass
        try:
            os.rmdir(home)
        except OSError:
            pass
        dirnames.remove(_TMP_DIR)
    return handled
