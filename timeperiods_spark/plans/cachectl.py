"""Managed cache lifecycle for operator intermediates.

Several operators persist an intermediate frame that is consumed more
than once downstream (the as-of union frame, the overlap melt, the
interval-algebra delta frame). A bare
``.persist()`` there leaks in long-lived sessions: nothing ever
unpersists, and repeated operator calls grow the storage pool without
bound (VERDICT r3 item 6).

This module is the single place that owns those intermediates. Each
persist site registers under a stable tag; re-registering a tag
unpersists the PREVIOUS frame first, so repeated calls of the same
operator hold at most one cached intermediate each — the storage pool
is bounded by the number of distinct operator call-sites, not the
number of calls. ``release()`` drops everything (or one tag) eagerly,
e.g. at the end of a pipeline stage.

Contract notes:
- Unpersisting a frame a still-lazy earlier RESULT depends on is
  correctness-safe (Spark recomputes); only the caching benefit for
  that stale result is lost. Callers that materialize results promptly
  (the normal shape) never notice.
- ``blocking=False``: unpersist is async cleanup, never a barrier.
"""

from __future__ import annotations

import threading
import warnings
from typing import Dict, List, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_REGISTRY: Dict[str, DataFrame] = {}
# drivers legitimately submit operator calls from several threads
# (concurrent job groups); without the lock two same-tag calls race on
# pop/put and the loser's frame leaks unreferenced — the exact
# unbounded growth this module exists to prevent
_LOCK = threading.Lock()

#: per-tag eviction counts — a tag evicted many times in one session
#: means concurrent (or lazily-consumed) same-tag pipelines are
#: thrashing the slot and silently recomputing the intermediate
_EVICTIONS: Dict[str, int] = {}
_WARNED: set = set()
#: evictions of one tag before the once-per-tag thrash warning fires;
#: the first few are the normal repeated-operator-call shape
EVICTION_WARN_THRESHOLD = 3


def _unpersist_quietly(df: DataFrame) -> None:
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass  # session gone / already unpersisted — nothing to hold


def managed_persist(
    df: DataFrame,
    tag: str,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df`` under ``tag``, unpersisting whatever frame the
    tag previously held. Returns the persisted frame."""
    out = df.persist(storage_level)
    with _LOCK:
        prev = _REGISTRY.get(tag)
        _REGISTRY[tag] = out
        warn = False
        if prev is not None and prev is not out:
            n = _EVICTIONS[tag] = _EVICTIONS.get(tag, 0) + 1
            if n >= EVICTION_WARN_THRESHOLD and tag not in _WARNED:
                _WARNED.add(tag)
                warn = True
    if prev is not None and prev is not out:
        _unpersist_quietly(prev)
        if warn:
            warnings.warn(
                f"cachectl: tag '{tag}' evicted {EVICTION_WARN_THRESHOLD}+ "
                "times this session. Benign if each call's result was "
                "materialized before the next call; but concurrent or "
                "lazily-consumed same-tag calls are silently recomputing "
                "this intermediate every time (correctness-safe, cache "
                "benefit lost). Materialize results promptly or call "
                "release() between pipeline stages. Warned once per tag.",
                stacklevel=2,
            )
    return out


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
    at once (the trend scans: a two-stage pipeline builds holt twice
    before collecting either — a single shared tag would evict the
    first call's Arrow stage and silently recompute it at collect time,
    VERDICT r5 finding 3). The pool stays bounded at ``keep`` frames
    per family instead of one."""
    with _LOCK:
        n = _FAMILY_SEQ[family] = _FAMILY_SEQ.get(family, 0) + 1
    tag = f"{family}#{n}"
    out = managed_persist(df, tag, storage_level)
    with _LOCK:
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
        # an explicit release is the caller doing lifecycle correctly —
        # start the thrash accounting fresh for these tags
        for t in tags:
            _EVICTIONS.pop(t, None)
            _WARNED.discard(t)
    for df in dropped:
        _unpersist_quietly(df)
    return len(dropped)


def managed_tags() -> List[str]:
    """Currently-held tags (for tests / introspection)."""
    with _LOCK:
        return sorted(_REGISTRY)
