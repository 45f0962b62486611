"""Managed cache lifecycle for operator intermediates.

``remove_overlaps``' SQL sweep persists an intermediate frame that is
consumed more than once downstream (the overlap melt). A bare
``.persist()`` there leaks in long-lived sessions: nothing ever
unpersists, and repeated operator calls grow the storage pool without
bound (VERDICT r3 item 6).

This module is the single place that owns those intermediates. Each
persist site registers every call under a fresh tag ``family#<n>``;
once a family holds more than ``keep`` frames its oldest are released
FIFO, so the storage pool is bounded by ``keep`` frames per operator
family, not by the number of calls. ``release()`` drops everything (or
one tag) eagerly, e.g. at the end of a pipeline stage.

Contract notes:
- Unpersisting a frame a still-lazy earlier RESULT depends on is
  correctness-safe (Spark recomputes); only the caching benefit for
  that stale result is lost. Callers that materialize results promptly
  (the normal shape) never notice.
- ``blocking=False``: unpersist is async cleanup, never a barrier.
"""

from __future__ import annotations

import threading
from typing import Dict, List, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_REGISTRY: Dict[str, DataFrame] = {}
# drivers legitimately submit operator calls from several threads
# (concurrent job groups); without the lock two calls race on the
# registry and the family queues and a frame leaks unreferenced — the
# exact unbounded growth this module exists to prevent
_LOCK = threading.Lock()


def _unpersist_quietly(df: DataFrame) -> None:
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass  # session gone / already unpersisted — nothing to hold


#: per-family call counters and FIFO of live per-call tags
_FAMILY_SEQ: Dict[str, int] = {}
_FAMILY_TAGS: Dict[str, List[str]] = {}


def managed_persist_percall(
    df: DataFrame,
    family: str,
    keep: int = 4,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Per-CALL managed persist: every call registers a fresh tag
    ``family#<n>`` and the oldest frames beyond ``keep`` are released
    FIFO. Use for operators whose intermediate is read MORE THAN ONCE
    per call and whose callers legitimately hold several lazy results
    at once (a pipeline that builds ``remove_overlaps`` twice before
    collecting either — a single shared tag would evict the first
    call's base and silently recompute it at collect time). The pool
    stays bounded at ``keep`` frames per family instead of one.
    Returns the persisted frame."""
    out = df.persist(storage_level)
    with _LOCK:
        n = _FAMILY_SEQ[family] = _FAMILY_SEQ.get(family, 0) + 1
        tag = f"{family}#{n}"
        _REGISTRY[tag] = out
        q = _FAMILY_TAGS.setdefault(family, [])
        q.append(tag)
        evict = [q.pop(0) for _ in range(max(0, len(q) - int(keep)))]
    for t in evict:
        release(t)
    return out


def release(tag: Optional[str] = None) -> int:
    """Unpersist managed intermediates — one tag, or all when ``tag``
    is None. Returns the number of frames released."""
    with _LOCK:
        tags = [tag] if tag is not None else list(_REGISTRY)
        dropped = [
            _REGISTRY.pop(t) for t in tags if t in _REGISTRY
        ]
    for df in dropped:
        _unpersist_quietly(df)
    return len(dropped)


def managed_tags() -> List[str]:
    """Currently-held tags (for tests / introspection)."""
    with _LOCK:
        return sorted(_REGISTRY)
