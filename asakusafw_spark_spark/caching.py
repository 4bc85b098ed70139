"""Cache lifetimes: one owner for every frame and broadcast the engine
persists.

Spark's CacheManager holds a persisted frame until ``unpersist`` (not
until GC) and never evicts MEMORY_AND_DISK disk blocks, so a long-lived
driver (``run.py``, ``IterativeBatchExecutor``, a service) must release
what it persists; the reference's per-batch SparkContext simply dies.

:func:`persist` (and :func:`own`, for a frame persisted elsewhere or a
broadcast) registers with the CURRENT owner: inside ``with
cache_scope():`` that scope, which on exit unpersists exactly what was
registered inside it (the registry is a ``ContextVar``, so nested
scopes and scopes on other threads never release each other's frames);
outside any scope, one process-wide set, released by
:func:`release_unscoped`.

Owners: ``FlowGraph.run`` (fan-out persists and what its sinks
persist, released once every sink has finished); an ``IterativeRunner``
run or ``IterativeBatchExecutor`` (node memo and view broadcasts,
released after every staged write drains); the caller of the dedup,
graph and text functions (the intermediates their lazily-returned
frames read).  Equal plans share one cache entry, owned by the
:func:`persist` that created it.  Releasing is always correctness-safe:
a frame still referenced recomputes its lineage.
"""

from __future__ import annotations

import threading
from contextvars import ContextVar

from pyspark.storagelevel import StorageLevel

_UNSCOPED: list = []
_UNSCOPED_LOCK = threading.Lock()
_SCOPE: ContextVar["list | None"] = ContextVar("cache_scope", default=None)


def own(x):
    """Register a persisted frame or a broadcast with the current
    owner; returns ``x``."""
    held = _SCOPE.get()
    if held is None:
        with _UNSCOPED_LOCK:
            _UNSCOPED.append(x)
    else:
        held.append(x)
    return x


def persist(df):
    """``persist(MEMORY_AND_DISK)``, registered with the current owner
    only if this call created the cache entry."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    shared = cm.lookupCachedData(df._jdf).isDefined()
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df if shared else own(df)


def _unpersist(items: list) -> int:
    n = 0
    for x in items:
        try:
            x.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped: nothing left to release
    return n


def release_unscoped() -> int:
    """Unpersist everything registered outside any scope (run it once
    the actions consuming the returned frames are done); returns the
    count."""
    with _UNSCOPED_LOCK:
        items = _UNSCOPED[:]
        _UNSCOPED.clear()
    return _unpersist(items)


class cache_scope:
    """``with cache_scope() as s:`` unpersists, on exit and on success
    or failure, everything registered inside the block; ``s.released``
    then holds the count.  A second unpersist (after an LRU eviction)
    is harmless."""

    def __enter__(self) -> "cache_scope":
        self.released = 0
        self._held: list = []
        self._token = _SCOPE.set(self._held)
        return self

    def __exit__(self, *exc) -> None:
        _SCOPE.reset(self._token)
        self.released = _unpersist(self._held)
