"""Staging: the one way an intermediate is materialized and freed.

:func:`stage` materializes a frame in one of three tiers:

- ``"memory"``: ``persist()`` (lazy; filled by the first action);
- ``"checkpoint"``: eager ``localCheckpoint`` (lineage cut, blocks on
  the executors);
- ``"disk"``: parquet under :func:`scratch_path`, read back.

:func:`release` frees staged frames. :func:`scope` owns what is staged
inside it and releases it on exit, normal or not; the HTTP service
opens one per request. With no scope open, memory and checkpoint stages
are not recorded (they live until released, as a bare persist would)
and disk stages live in a per-process root removed at interpreter exit.

Plan-only mode (:func:`plan_only`, set by ``plans/query.run`` for the
service's ``format=explain``) promises "analyze + optimize, execute
nothing": the checkpoint and disk tiers then return the lazy frame,
and other construction-time probes consult :func:`is_plan_only`.

Built indexes that outlive a process (``queries.registry.scratch_dir``
+ ``ensure_built``) are a different lifetime and do not live here."""

from __future__ import annotations

import atexit
import contextvars
import glob
import os
import shutil
import socket
import tempfile
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame

_PLAN_ONLY = contextvars.ContextVar("plan_only", default=False)
_SCOPE = contextvars.ContextVar("stage_scope", default=None)
_ROOT_PREFIX = "spark_graft_stage_"
_root: tuple[int, str] | None = None  # (owning pid, directory)
_root_lock = threading.Lock()


@contextmanager
def plan_only():
    token = _PLAN_ONLY.set(True)
    try:
        yield
    finally:
        _PLAN_ONLY.reset(token)


def is_plan_only() -> bool:
    return _PLAN_ONLY.get()


class _Scope:
    def __init__(self):
        self.staged: list[DataFrame] = []
        self.dir: str | None = None


@contextmanager
def scope():
    """Release every stage made inside on exit. Scopes nest; each
    releases only its own stages. The scope is a context variable, so
    it follows the current thread, not threads started inside it."""
    sc = _Scope()
    token = _SCOPE.set(sc)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        release(*sc.staged)
        if sc.dir is not None:
            shutil.rmtree(sc.dir, ignore_errors=True)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True  # exists, owned by someone else
    return True


def _remove_root(pid: int, path: str) -> None:
    if os.getpid() == pid:  # a forked child must not remove its parent's
        shutil.rmtree(path, ignore_errors=True)


def _process_root() -> str:
    """This process's stage root, made on first use. Making it removes
    the roots that dead processes on this host left behind."""
    global _root
    with _root_lock:
        if _root is None or _root[0] != os.getpid():
            host = socket.gethostname().replace(os.sep, "_")
            prefix = os.path.join(tempfile.gettempdir(),
                                  f"{_ROOT_PREFIX}{host}_")
            for old in glob.glob(prefix + "*"):
                pid = old[len(prefix):].split("_", 1)[0]
                if pid.isdigit() and not _alive(int(pid)):
                    shutil.rmtree(old, ignore_errors=True)
            _root = (os.getpid(), tempfile.mkdtemp(
                prefix=f"{_ROOT_PREFIX}{host}_{os.getpid()}_"))
            atexit.register(_remove_root, *_root)
        return _root[1]


def scratch_path(kind: str) -> str:
    """A path no other caller shares, not yet created: under the open
    scope's directory (removed when the scope closes), else under the
    process root (removed at interpreter exit)."""
    sc = _SCOPE.get()
    if sc is None:
        base = _process_root()
    else:
        if sc.dir is None:
            sc.dir = tempfile.mkdtemp(prefix="scope_", dir=_process_root())
        base = sc.dir
    return os.path.join(base, f"{kind}_{uuid.uuid4().hex[:12]}")


def stage(df: DataFrame, tier: str) -> DataFrame:
    """``df`` materialized in ``tier`` (see the module docstring);
    recorded in the open scope, if any."""
    if tier not in ("memory", "checkpoint", "disk"):
        raise ValueError(f"unknown stage tier: {tier!r}")
    if tier == "memory":
        out, handle = df.persist(), None
    elif is_plan_only():
        return df
    elif tier == "checkpoint":
        out = df.localCheckpoint(eager=True)
        handle = out._jdf.queryExecution().logical().rdd()
    else:
        handle = scratch_path("stage")
        df.write.parquet(handle)
        out = df.sparkSession.read.parquet(handle)
    out._graft_stage = (tier, handle)
    sc = _SCOPE.get()
    if sc is not None and tier != "disk":  # disk stages sit in sc.dir
        sc.staged.append(out)
    return out


def release(*dfs: DataFrame) -> None:
    """Free staged frames; anything else (a plan-only stage, a derived
    frame) is left alone. Releasing twice is harmless."""
    for df in dfs:
        tier, handle = vars(df).get("_graft_stage", (None, None))
        try:
            if tier == "memory":
                df.unpersist()
            elif tier == "checkpoint":
                handle.unpersist(False)
            elif tier == "disk":
                shutil.rmtree(handle, ignore_errors=True)
        except Exception:
            pass  # the session is gone; nothing is left to free
