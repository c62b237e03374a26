"""The package's one pool of materialized intermediate frames.

Operators park a frame that feeds several plan branches (the cleaned
corpus in the pretraining pipeline, the co-purchase edges of the
triangle queries, the winnow fingerprints): Catalyst plans each branch
independently, so without a materialization boundary the subtree runs
once per branch.

``park_persisted`` has two modes. Persist mode (the default) caches
the frame, because the cached relation keeps accurate size statistics
and so broadcast joins over it survive planning. Checkpoint mode
(``checkpoint=True``) takes a ``localCheckpoint``, because it cuts the
plan to a leaf that the CacheManager never has to compare against
later actions, which is what a lineage-heavy frame needs.

Persisted frames are recorded in the pool under every ``pool_scope``
that parked them. Once the pool holds more than ``_GLOBAL_CAP`` cache
entries, the oldest entries whose scopes have all been closed are
unpersisted; Spark recomputes an unpersisted frame from its lineage,
so eviction costs time, never values. Checkpointed frames are not
recorded: their blocks live as long as some frame still references
them, and the ContextCleaner reclaims them after that.

Nothing is keyed on query inputs: every invocation materializes its own
frame, and the eager materialization runs inside the caller's timing.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LOCK = threading.Lock()
# Cache-entry id -> (newest frame parked on that entry, the scopes that
# parked it). Dict order is eviction order, oldest first.
_PARKED: dict[int, tuple[DataFrame, frozenset[object]]] = {}
# Scopes some thread is still inside; their entries are never evicted.
_OPEN: set[object] = set()
_GLOBAL_CAP = 32
# The innermost open scope of each driver thread.
_SCOPE = threading.local()


@contextmanager
def pool_scope():
    """Open a park scope for the current thread (one per query
    invocation). Frames persisted inside it are not evicted while the
    scope is open; after it closes they stay cached until the global
    cap pushes them out, because the caller's returned DataFrame is
    still lazy. Scopes nest."""
    token = object()
    prev = getattr(_SCOPE, "value", None)
    _SCOPE.value = token
    with _LOCK:
        _OPEN.add(token)
    try:
        yield
    finally:
        with _LOCK:
            _OPEN.discard(token)
        _SCOPE.value = prev


def _entry_id(df: DataFrame) -> int | None:
    """Identity of the CacheManager entry a persisted ``df`` reads, or
    None when no entry holds its plan."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    entry = cm.lookupCachedData(df._jdf)
    if entry.isEmpty():
        return None
    return entry.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()


def park_persisted(df: DataFrame, checkpoint: bool = False) -> DataFrame:
    """Materialize ``df`` eagerly and return the materialized frame.

    - ``checkpoint=False``: ``persist`` plus an eager count, recorded in
      the pool under the open scope, because the cached relation keeps
      the size statistics that let small frames broadcast (winnow's
      pair self-join: 1.3 s persisted, 28 s checkpointed).
    - ``checkpoint=True``: ``localCheckpoint(eager=True)``, not recorded,
      because cutting the plan to a leaf spares every later action the
      CacheManager comparison against a lineage-heavy plan (an
      unrelated query went from 51 s to 144 s after one such persist).

    A persisted frame whose plan matches one parked earlier shares that
    cache entry; the entry then belongs to both scopes and moves to the
    newest end of the eviction order, so closing the older scope can no
    longer uncache it.
    """
    if checkpoint:
        return df.localCheckpoint(eager=True)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    scope = getattr(_SCOPE, "value", None)
    with _LOCK:
        key = _entry_id(df)
        if key is None:
            # another thread evicted the shared entry after the count:
            # the frame recomputes from lineage, so leave it unrecorded
            return df
        _, scopes = _PARKED.pop(key, (None, frozenset()))
        _PARKED[key] = (df, scopes | {scope})
        while len(_PARKED) > _GLOBAL_CAP:
            victim = next(
                (k for k, (_, s) in _PARKED.items() if k != key and not s & _OPEN),
                None,
            )
            if victim is None:
                break
            _PARKED.pop(victim)[0].unpersist(blocking=False)
    return df


def clear_pool() -> None:
    """Unpersist every frame in the pool, whatever its scope; for test
    and bench hygiene between runs."""
    with _LOCK:
        while _PARKED:
            _PARKED.popitem()[1][0].unpersist(blocking=False)
