"""F8 — error paths (reference tests.R:382-429)."""

from __future__ import annotations

import contextlib
import uuid
import warnings

import pytest

from timeperiods_spark import (
    DuplicateIntervalError,
    IntervalValidationError,
    OverlapError,
    RoleValidationError,
    interval_weighted_avg,
    overlap_join,
    remove_overlaps,
)
from timeperiods_spark.plans import cachectl


@pytest.fixture()
def xy(spark):
    x = spark.createDataFrame(
        [(1, 7, 1.0), (8, 14, 2.0)], "start int, end int, v double"
    )
    y = spark.createDataFrame([(0, 13)], "start int, end int")
    return x, y


def test_partial_overlap_raises(spark, xy):
    x, y = xy
    bad = x.union(spark.createDataFrame([(2, 8, 3.0)], x.schema))
    with pytest.raises(OverlapError):
        interval_weighted_avg(bad, y, ("start", "end"), ("v",))


def test_touching_endpoint_is_overlap(spark, xy):
    # closed intervals: [1,7] and [7,9] overlap at 7 (tests.R:13-14 analog)
    x, y = xy
    bad = x.union(spark.createDataFrame([(7, 7, 3.0)], x.schema))
    with pytest.raises(OverlapError):
        interval_weighted_avg(bad, y, ("start", "end"), ("v",))


def test_skip_overlap_check_suppresses(spark, xy):
    x, y = xy
    bad = x.union(spark.createDataFrame([(2, 8, 3.0)], x.schema))
    out = interval_weighted_avg(
        bad, y, ("start", "end"), ("v",), skip_overlap_check=True
    )
    assert out.count() == 1  # garbage-in tolerated, as in the reference


def test_exact_duplicate_x_raises(spark, xy):
    x, y = xy
    with pytest.raises(DuplicateIntervalError):
        interval_weighted_avg(x.union(x), y, ("start", "end"), ("v",))


def test_reversed_interval_vars_raises(spark, xy):
    x, y = xy
    with pytest.raises(IntervalValidationError):
        interval_weighted_avg(x, y, ("end", "start"), ("v",))


def test_reserved_names_raise(spark, xy):
    x, y = xy
    for bad_name in ("yduration", "xduration", "xminstart", "xmaxend"):
        with pytest.raises(RoleValidationError):
            interval_weighted_avg(
                x.withColumnRenamed("v", bad_name), y, ("start", "end"), (bad_name,)
            )


def test_missing_column_raises(spark, xy):
    x, y = xy
    with pytest.raises(RoleValidationError):
        interval_weighted_avg(x, y, ("start", "end"), ("nope",))


def test_role_overlap_raises(spark, xy):
    x, y = xy
    with pytest.raises(RoleValidationError):
        interval_weighted_avg(x, y, ("start", "end"), ("start",))


def test_null_interval_raises(spark):
    x = spark.createDataFrame(
        [(1, 7, 1.0), (None, 14, 2.0)], "start int, end int, v double"
    )
    y = spark.createDataFrame([(0, 13)], "start int, end int")
    with pytest.raises(IntervalValidationError):
        interval_weighted_avg(x, y, ("start", "end"), ("v",))


def test_type_mismatch_raises(spark):
    import datetime as dt

    x = spark.createDataFrame(
        [(dt.date(2020, 1, 1), dt.date(2020, 1, 7), 1.0)], "start date, end date, v double"
    )
    y = spark.createDataFrame([(0, 13)], "start int, end int")
    with pytest.raises(IntervalValidationError):
        interval_weighted_avg(x, y, ("start", "end"), ("v",))


def test_string_interval_raises(spark):
    x = spark.createDataFrame([("a", "b", 1.0)], "start string, end string, v double")
    y = spark.createDataFrame([("a", "b")], "start string, end string")
    with pytest.raises(IntervalValidationError):
        interval_weighted_avg(x, y, ("start", "end"), ("v",))


def test_duplicate_y_warns_and_dedups(spark, xy):
    x, y = xy
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = interval_weighted_avg(x, y.union(y), ("start", "end"), ("v",))
        assert out.count() == 1
    assert any("duplicate" in str(m.message) for m in w)
    # stacklevel points at the caller, not into the package
    assert any(m.filename == __file__ for m in w), [m.filename for m in w]


def _sparse_two_groups(spark, rows_a):
    """Two groups (< 4 x defaultParallelism, so the integrity scan
    buckets the start axis into 16 buckets) of 8 intervals 1000 apart:
    each interval lands alone in its start bucket."""
    b = [("b", i * 1000, i * 1000 + 9, 1.0) for i in range(8)]
    return spark.createDataFrame(rows_a + b, "g string, s int, e int, v double")


def test_overlap_across_scan_buckets_raises(spark):
    """An early long interval overlapping rows in LATER start buckets is
    only visible at the bucket boundaries of the adjacency scan."""
    from timeperiods_spark import check_no_overlaps

    assert spark.sparkContext.defaultParallelism * 4 > 2
    a = [("a", 0, 2500, 1.0)] + [("a", i * 1000, i * 1000 + 9, 1.0) for i in range(1, 8)]
    x = _sparse_two_groups(spark, a)
    y = spark.createDataFrame([("a", 0, 9000), ("b", 0, 9000)], "g string, s int, e int")
    with pytest.raises(OverlapError):
        interval_weighted_avg(x, y, ("s", "e"), ("v",), ("g",))
    assert not check_no_overlaps(x, ("s", "e"), ("g",), raise_on_overlap=False)
    clean = _sparse_two_groups(
        spark, [("a", i * 1000, i * 1000 + 9, 1.0) for i in range(8)]
    )
    assert check_no_overlaps(clean, ("s", "e"), ("g",))
    dup = _sparse_two_groups(
        spark, [("a", i * 1000, i * 1000 + 9, 1.0) for i in (0, 1, 2, 3, 3)]
    )
    with pytest.raises(DuplicateIntervalError):
        interval_weighted_avg(dup, y, ("s", "e"), ("v",), ("g",))


@contextlib.contextmanager
def _jobs(spark):
    """Yields a list that holds, after the block, the ids of the Spark
    jobs the block ran (read from a job group set around it)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    ids: list = []
    sc.setJobGroup(group, "job count")
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "op", ["interval_weighted_avg", "remove_overlaps", "overlap_join"]
)
def test_unknown_join_strategy_is_rejected_before_spark_work(spark, op):
    x = spark.createDataFrame(
        [("a", 1, 7, 1.0), ("a", 8, 14, 2.0)], "g string, s int, e int, v double"
    )
    y = spark.createDataFrame([("a", 0, 13)], "g string, s int, e int")
    call = {
        "interval_weighted_avg": lambda: interval_weighted_avg(
            x, y, ("s", "e"), ("v",), ("g",), join_strategy="bogus"
        ),
        "remove_overlaps": lambda: remove_overlaps(
            x, ("s", "e"), ("g",), join_strategy="bogus"
        ),
        "overlap_join": lambda: overlap_join(
            x, y, ("s", "e"), ("g",), join_strategy="bogus"
        ),
    }[op]
    tags = cachectl.managed_tags()
    with _jobs(spark) as jobs, pytest.raises(RoleValidationError, match="bogus"):
        call()
    assert jobs == []
    assert cachectl.managed_tags() == tags


def test_overlap_join_rejects_integer_against_date(spark):
    import datetime as dt

    x = spark.createDataFrame([(1, 7, 1.0)], "s int, e int, v double")
    y = spark.createDataFrame(
        [(dt.date(1970, 1, 5), dt.date(1970, 1, 9))], "s date, e date"
    )
    with _jobs(spark) as jobs, pytest.raises(IntervalValidationError):
        overlap_join(x, y, ("s", "e"))
    assert jobs == []


def test_overlap_join_rejects_string_intervals(spark):
    x = spark.createDataFrame([("1", "7", 1.0)], "s string, e string, v double")
    y = spark.createDataFrame([("0", "9")], "s string, e string")
    with _jobs(spark) as jobs, pytest.raises(IntervalValidationError):
        overlap_join(x, y, ("s", "e"))
    assert jobs == []
