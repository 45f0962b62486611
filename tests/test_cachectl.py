"""Managed cache lifecycle (VERDICT r3 item 6): operators that persist
intermediates must not grow the storage pool without bound across
repeated calls in a long-lived session."""

from __future__ import annotations

import gc
import time

import pytest
from pyspark.sql import functions as F

from timeperiods_spark.plans import cachectl


def _n_cached(spark) -> int:
    """Number of RDDs currently holding cached blocks (DataFrame
    persist materializes through these)."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _wait_cached_at_most(spark, n: int, timeout: float = 10.0) -> int:
    """unpersist(blocking=False) is async — poll briefly."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        c = _n_cached(spark)
        if c <= n:
            return c
        time.sleep(0.2)
    return _n_cached(spark)


def _collect_until_cached_at_most(spark, n: int, timeout: float = 30.0) -> int:
    """Run Python and JVM GCs until at most ``n`` RDDs hold storage:
    Spark's ContextCleaner frees the blocks of a dropped frame's local
    checkpoint (a validated grouped interval_weighted_avg's result)
    only once the JVM has collected the frame."""
    deadline = time.monotonic() + timeout
    while _n_cached(spark) > n and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    return _n_cached(spark)


@pytest.fixture()
def clean_caches(spark):
    cachectl.release()
    spark.catalog.clearCache()
    # results that earlier tests dropped are freed by GC, not clearCache
    _collect_until_cached_at_most(spark, 0, timeout=10.0)
    yield
    cachectl.release()
    spark.catalog.clearCache()


def _intervals(spark, seed: int):
    return spark.range(200).select(
        (F.col("id") % 7).cast("int").alias("g"),
        ((F.col("id") * 13 + seed) % 500).cast("int").alias("s"),
        ((F.col("id") * 13 + seed) % 500 + 1 + (F.col("id") % 9)).cast("int").alias("e"),
        F.col("id").cast("double").alias("v"),
    )


def test_repeated_calls_bounded_storage(spark, clean_caches):
    """N repeated remove_overlaps calls hold at most `keep` cached
    intermediates, not N."""
    from timeperiods_spark.operators.overlaps import remove_overlaps

    high_water = 0
    for i in range(4):
        remove_overlaps(  # the SQL sweep, which persists its base
            _intervals(spark, i), ["s", "e"], group_vars=["g"], join_strategy="bin"
        ).count()
        high_water = max(high_water, _n_cached(spark))
    # one per-call family, FIFO-bounded at keep=2 (r5 item 6: shared
    # tags silently recompute when a pipeline holds several lazy
    # results); async unpersist may briefly hold one stale frame
    assert high_water <= 3, f"storage pool grew to {high_water} cached RDDs"
    fams = {t.split("#")[0] for t in cachectl.managed_tags()}
    assert fams == {"remove_overlaps.base"}
    assert len(cachectl.managed_tags()) <= 2  # keep=2
    released = cachectl.release()
    assert 1 <= released <= 2
    assert cachectl.managed_tags() == []
    assert _wait_cached_at_most(spark, 0) == 0


def test_release_single_tag(spark, clean_caches):
    df = spark.range(10).select(F.col("id").alias("x"))
    cachectl.managed_persist_percall(df, "t.a").count()
    cachectl.managed_persist_percall(df.select("x"), "t.b").count()
    ta, tb = cachectl.managed_tags()
    assert ta.startswith("t.a#") and tb.startswith("t.b#")
    assert cachectl.release(ta) == 1
    assert cachectl.managed_tags() == [tb]
    assert cachectl.release() == 1


def test_percall_tags_fifo_bound(spark, clean_caches):
    """managed_persist_percall: each call holds its own tag under the
    family; the pool stays FIFO-bounded at `keep` frames."""
    frames = [
        cachectl.managed_persist_percall(_intervals(spark, i), "fam.x", keep=3)
        for i in range(5)
    ]
    for fr in frames:
        fr.count()
    tags = [t for t in cachectl.managed_tags() if t.startswith("fam.x#")]
    assert len(tags) == 3
    # oldest two evicted FIFO
    assert all(int(t.split("#")[1]) >= 3 for t in tags)
    assert _wait_cached_at_most(spark, 3) <= 3


def test_interval_avg_with_join_stats_caches_nothing(spark, clean_caches):
    """A caller-provided join_stats is a planning hint only: the call
    persists no intermediate, so the partition layout feeding the
    weighted-mean aggregate is the same with or without it."""
    from timeperiods_spark import interval_weighted_avg

    x = spark.range(60).select(
        (F.col("id") % 3).cast("int").alias("g"),
        (F.floor(F.col("id") / 3) * 10).cast("int").alias("s"),
        (F.floor(F.col("id") / 3) * 10 + 9).cast("int").alias("e"),
        F.col("id").cast("double").alias("v"),
    )
    y = spark.range(12).select(
        (F.col("id") % 3).cast("int").alias("g"),
        (F.col("id") * 15).cast("int").alias("s"),
        (F.col("id") * 15 + 24).cast("int").alias("e"),
    )
    before = _n_cached(spark)
    rows = interval_weighted_avg(
        x, y, ("s", "e"), ("v",), ("g",), validate=False, join_stats=(60, 12, 3)
    ).collect()
    assert len(rows) == 12
    tags = cachectl.managed_tags()
    assert not [t for t in tags if t.startswith("interval_weighted_avg.")], tags
    assert _n_cached(spark) <= before


def test_validated_grouped_results_are_freed(spark, clean_caches):
    """A validated grouped ``interval_weighted_avg`` call computes its
    sums and holds them (a local checkpoint), through no registry:
    once the frames that read them are dropped, Spark's ContextCleaner
    frees the blocks, so after N calls a Python and a JVM GC bring the
    storage back to its baseline."""
    from timeperiods_spark import interval_weighted_avg

    x = spark.range(60).select(
        (F.col("id") % 3).cast("int").alias("g"),
        (F.floor(F.col("id") / 3) * 10).cast("int").alias("s"),
        (F.floor(F.col("id") / 3) * 10 + 9).cast("int").alias("e"),
        F.col("id").cast("double").alias("v"),
    )
    y = spark.range(12).select(
        (F.col("id") % 3).cast("int").alias("g"),
        (F.col("id") * 15).cast("int").alias("s"),
        (F.col("id") * 15 + 24).cast("int").alias("e"),
    )
    before = _n_cached(spark)
    outs = [
        interval_weighted_avg(x, y.where(f"s >= {i}"), ("s", "e"), ("v",), ("g",))
        for i in range(3)
    ]
    assert _n_cached(spark) == before + 3
    assert [o.orderBy("g", "s").count() for o in outs] == [12, 11, 11]
    del outs
    assert _collect_until_cached_at_most(spark, before) == before
