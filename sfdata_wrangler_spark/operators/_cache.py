"""Tracked operator-level persists, releasable in one call.

Several multi-consumer operators (``prefix_filter_pairs``,
``minhash_lsh_pairs``, ``duplicate_spans``, ``drop_boilerplate_lines``,
``triangle_count``, ``pagerank``, ``blocked_fuzzy_pairs``,
``funnel_episodes``, ``bigram_lm_score``, the IVF-PQ build) persist an
intermediate that multiple downstream branches read — measured wins
(ARCHITECTURE.md round-5 notes). Persisted plans outlive the returned
lazy DataFrame: Spark's CacheManager serves them to ANY later query
with a matching canonicalized subplan, so a long-lived library
session that calls these operators repeatedly would accumulate
corpus-scale MEMORY_AND_DISK entries with no handle to drop them
(ADVICE r5).

This registry gives callers that handle without changing the
operators' lazy contract: every operator persist routes through
:func:`tracked_persist`, and :func:`release_operator_caches`
unpersists everything still tracked — cheaper and more targeted than
``spark.catalog.clearCache()``, which also evicts caches the caller
created themselves.

Strong references are kept on purpose: the caller usually holds only
the downstream result, so the persisted intermediate's Python wrapper
would otherwise be garbage-collected while its JVM cache entry lives
on, leaving nothing to unpersist through. The wrappers are a few
hundred bytes each; the JVM cache they control is the thing worth
freeing. ``unpersist`` is always safe mid-use — dependent plans fall
back to lineage recompute.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []
_LOCK = threading.Lock()
# per-context scope stack: inside a cache_scope() block, persists land
# in the scope instead of the process-global registry, so concurrent
# driver threads / independent components cannot evict each other's
# materializations via release_operator_caches() (ADVICE r6)
_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar(
    "_cache_scope", default=None
)


def tracked_persist(df: DataFrame) -> DataFrame:
    """Persist MEMORY_AND_DISK (spills instead of OOM at corpus
    scale; keeps the lineage recompute path on executor loss) and
    register the handle for :func:`release_operator_caches` — or for
    the enclosing :func:`cache_scope`, if one is active."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    scope = _SCOPE.get()
    if scope is not None:
        scope.append(df)
    else:
        with _LOCK:
            _TRACKED.append(df)
    return df


def _release(handles: list[DataFrame]) -> int:
    n = 0
    while handles:
        df = handles.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing left to free
    return n


def release_operator_caches() -> int:
    """Unpersist every intermediate an operator pinned in this process
    OUTSIDE any :func:`cache_scope`; returns how many were released.
    Call between queries in a long-lived session (or whenever the
    corpus-scale cache should be handed back to the executors). Scoped
    persists are released by their scope's exit, never by this global
    sweep — independent callers using scopes cannot be evicted from
    here."""
    with _LOCK:
        handles = list(_TRACKED)
        _TRACKED.clear()
    return _release(handles)


@contextmanager
def cache_scope() -> Iterator[list[DataFrame]]:
    """Isolate operator persists to this block and release them on
    exit::

        with cache_scope():
            pairs = prefix_filter_pairs(docs, ...)   # persists shingles
            pairs.write.parquet(out)
        # shingle cache released here; other threads' caches untouched

    Context-local (contextvars), so concurrent driver threads each
    get their own scope. Nesting works: the innermost scope captures.
    Yields the live handle list mainly for tests/diagnostics."""
    scope: list[DataFrame] = []
    token = _SCOPE.set(scope)
    try:
        yield scope
    finally:
        _SCOPE.reset(token)
        _release(scope)
