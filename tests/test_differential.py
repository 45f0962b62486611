"""Differential suite: fast engine vs explode oracle on every reference
scenario (reference tests.R runs interval_weighted_avg_f against
interval_weighted_avg_slow_f the same way; README.md:283-291)."""

from __future__ import annotations

import datetime as dt

import pytest

from timeperiods_spark import interval_weighted_avg
from timeperiods_spark.operators.interval_avg_slow import interval_weighted_avg_slow

from .conftest import assert_df_equal
from . import fixtures as FX


def _run_both(spark, builder, required=100.0, strategy="auto", **kw):
    x, y, iv, vv, gv = builder(spark)
    fast = interval_weighted_avg(
        x, y, iv, vv, gv, required_percentage=required, join_strategy=strategy, **kw
    )
    slow = interval_weighted_avg_slow(x, y, iv, vv, gv, required_percentage=required)
    keys = list(gv or []) + list(iv)
    assert_df_equal(fast, slow, keys)
    return fast


def test_f2_ungrouped(spark):
    out = _run_both(spark, FX.f2_ungrouped)
    assert out.count() == 1


@pytest.mark.parametrize("strategy", ["group_equi", "bin", "broadcast_y"])
def test_f3_date_panel(spark, strategy):
    kw = {"bin_width": 30} if strategy == "bin" else {}
    out = _run_both(spark, FX.f3_date_panel, strategy=strategy, **kw)
    # one row per (panel, year)
    assert out.count() == 2 * 8 * 6


@pytest.mark.parametrize("required", [100.0, 50.0])
def test_f4_missingness(spark, required):
    out = _run_both(spark, FX.f4_missingness, required=required)
    assert out.count() == 2 * 2 * 5


def test_f4_ungrouped_equals_grouped_slice(spark):
    """tests.R:233-252 — group_vars=None on the (1,1) subset equals the
    grouped run's (1,1) slice."""
    x, y, iv, vv, gv = FX.f4_missingness(spark)
    grouped = interval_weighted_avg(x, y, iv, vv, gv).filter(
        "id = 1 AND id2 = 1"
    ).drop("id", "id2")
    sub = interval_weighted_avg(
        x.filter("id = 1 AND id2 = 1").drop("id", "id2"),
        y.filter("id = 1 AND id2 = 1").drop("id", "id2"),
        iv,
        vv,
        None,
    )
    assert_df_equal(sub, grouped, list(iv))


def test_f5_downsample(spark):
    out = _run_both(spark, FX.f5_downsample, required=50.0)
    assert out.count() == 2 * 2 * 19


def test_f6_per_group_schedules(spark):
    out = _run_both(spark, FX.f6_per_group_schedules)
    # zero-overlap y row is kept with NULL value / xduration 0
    r = out.filter("id = 2 AND id2 = 2 AND start = 100").first()
    assert r is not None and r["value"] is None and r["xduration"] == 0


def test_f6_slices_match_full_runs(spark):
    """tests.R:317-352 — per-group different schedules must equal the
    corresponding slices of the uniform-schedule outputs."""
    x, y14, iv, vv, gv = FX.f4_missingness(spark)
    out6 = interval_weighted_avg(*FX.f6_per_group_schedules(spark)[:2], iv, vv, gv)
    out14 = interval_weighted_avg(x, y14, iv, vv, gv)
    assert_df_equal(
        out6.filter("id = 1 AND id2 = 1"),
        out14.filter("id = 1 AND id2 = 1"),
        list(gv) + list(iv),
    )
    out3 = interval_weighted_avg(*FX.f5_downsample(spark)[:2], iv, vv, gv)
    assert_df_equal(
        out6.filter("id = 1 AND id2 = 2"),
        out3.filter("id = 1 AND id2 = 2"),
        list(gv) + list(iv),
    )


def test_f7_overlapping_y(spark):
    out = _run_both(spark, FX.f7_overlapping_y, required=50.0)
    assert out.count() == 2 * 2 * 20  # 19 grid + 1 extra overlapping row


@pytest.mark.parametrize("strategy", ["group_equi", "bin"])
def test_f9_null_groups(spark, strategy):
    kw = {"bin_width": 5} if strategy == "bin" else {}
    out = _run_both(spark, FX.f9_null_groups, required=0.0, strategy=strategy, **kw)
    rows = {(r["id1"], r["region"], r["start"]): r for r in out.collect()}
    assert len(rows) == 9
    # NULL region joins NULL region: x row (4, NULL, [1,5], v=6)
    # does NOT belong to id1=1 — y (1, NULL, [1,7]) has no x overlap.
    assert rows[(1, None, 1)]["xduration"] == 0
    # absent id1=200 still yields rows, zero-filled
    assert rows[(200, 1, 1)]["xduration"] == 0
    assert rows[(200, 1, 1)]["value"] is None
    # required=0: zero-coverage values stay NULL (NaN→NULL), not masked
    assert rows[(1, 2, 50)]["value"] is None
    # covered case sanity: (1,1,[1,7]) overlaps [1,5] v=1 (5u) + [6,10] v=2 (2u)
    assert rows[(1, 1, 1)]["value"] == pytest.approx((5 * 1.0 + 2 * 2.0) / 7)


def test_f9_single_group_var(spark):
    x, y, iv, vv, _ = FX.f9_null_groups(spark)
    fast = interval_weighted_avg(
        x, y.select("id1", *iv).dropDuplicates(), iv, vv, ("id1",)
    )
    slow = interval_weighted_avg_slow(
        x, y.select("id1", *iv).dropDuplicates(), iv, vv, ("id1",)
    )
    assert_df_equal(fast, slow, ["id1"] + list(iv))


@pytest.mark.parametrize("strategy,salt", [("group_equi", None), ("bin", None), ("bin", 8)])
def test_f11_random(spark, strategy, salt):
    kw = {}
    if strategy == "bin":
        kw = {"bin_width": 16, "skew_salt": salt}
    out = _run_both(spark, FX.f11_random_pipeline, strategy=strategy, **kw)
    assert out.count() == 4 * 3 * 20


def test_iwa_extra_stats_matches_rollup_variance(spark):
    """interval_weighted_avg(extra_stats=) over a regular scaffold ==
    rollup_regular(extra_stats=) — the variance twin of the existing
    mean-equivalence differential."""
    import pyspark.sql.functions as F

    from timeperiods_spark import interval_weighted_avg, rollup_regular
    from timeperiods_spark.operators.rollup import (
        finalize_rollup,
        period_scaffold,
    )
    from timeperiods_spark.sources.tokens import token_table

    t = token_table(spark, 400)
    x = t.select(
        "source", "start_hour", "end_hour", F.col("n_tok").cast("double").alias("v")
    )
    y = period_scaffold(
        spark, 0, 24 * 366 - 1, 24,
        groups=x.select("source").dropDuplicates(),
    ).select("source", F.col("start").alias("start_hour"), F.col("end").alias("end_hour"))
    iwa = interval_weighted_avg(
        x, y, ("start_hour", "end_hour"), ("v",), ("source",), 0.0,
        skip_overlap_check=True, validate=False, assume_y_distinct=True,
        join_strategy="broadcast_y", extra_stats=True,
    )
    roll = finalize_rollup(
        rollup_regular(
            x, ("start_hour", "end_hour"), ("v",), ("source",),
            width=24, partial=True, extra_stats=True,
        ),
        ("v",), ("source",), width=24, required_percentage=0.0,
    )
    a = {
        (r["source"], r["start_hour"]): r["v_var"]
        for r in iwa.filter("xduration > 0").collect()
    }
    b = {(r["source"], r["start"]): r["v_var"] for r in roll.collect()}
    assert a.keys() == b.keys() and len(a) > 100
    import pytest as _pytest

    for k in a:
        assert a[k] == _pytest.approx(b[k], rel=1e-9, abs=1e-9)


def _coverage_frames(spark, date_typed):
    """y rows no x row reaches: a y group with no x rows, periods
    wholly before and wholly after their group's x range, a NULL group
    key, and duplicate y rows (deduplicated with a warning)."""
    x = spark.createDataFrame(
        [("a", 10, 14, 1.0), ("a", 15, 19, 2.0), (None, 12, 16, 3.0)],
        "g string, s int, e int, v double",
    )
    y = spark.createDataFrame(
        [
            ("a", 0, 5), ("a", 30, 40), ("a", 12, 17), ("a", 12, 17),
            (None, 0, 3), (None, 14, 20), ("b", 10, 15), ("b", 10, 15),
        ],
        "g string, s int, e int",
    )
    if date_typed:
        day = "date_add(DATE'2020-01-01', {})"
        x = x.selectExpr("g", f"{day.format('s')} AS s", f"{day.format('e')} AS e", "v")
        y = y.selectExpr("g", f"{day.format('s')} AS s", f"{day.format('e')} AS e")
    return x, y


@pytest.mark.parametrize("date_typed", [False, True])
@pytest.mark.parametrize("empty_x", [False, True])
@pytest.mark.parametrize("strategy", ["group_equi", "bin", "broadcast_y"])
def test_uncovered_periods_come_back_once_zero_filled(
    spark, strategy, empty_x, date_typed
):
    """Every distinct y row comes back exactly once; one that no x
    interval overlaps carries xduration 0, nobs 0, a NULL mean and NULL
    xminstart/xmaxend — the same rows the expansion oracle gives."""
    x, y = _coverage_frames(spark, date_typed)
    if empty_x:
        x = x.where("false")
    kw = {"bin_width": 4} if strategy == "bin" else {}
    with pytest.warns(UserWarning, match="duplicate"):
        fast = interval_weighted_avg(
            x, y, ("s", "e"), ("v",), ("g",), join_strategy=strategy, **kw
        )
        slow = interval_weighted_avg_slow(x, y, ("s", "e"), ("v",), ("g",))
    assert_df_equal(fast, slow, ["g", "s", "e"])

    day = (lambda n: dt.date(2020, 1, 1) + dt.timedelta(n)) if date_typed else int
    uncovered = {("a", 0, 5), ("a", 30, 40), (None, 0, 3), ("b", 10, 15)}
    if empty_x:
        uncovered |= {("a", 12, 17), (None, 14, 20)}
    uncovered = {(g, day(s), day(e)) for g, s, e in uncovered}
    rows = fast.collect()
    keys = [(r["g"], r["s"], r["e"]) for r in rows]
    assert len(keys) == len(set(keys)) == 6
    assert uncovered <= set(keys)
    for r in rows:
        if (r["g"], r["s"], r["e"]) in uncovered:
            assert (r["xduration"], r["nobs_v"], r["v"]) == (0, 0, None), r
            assert (r["xminstart"], r["xmaxend"]) == (None, None), r
        else:
            assert r["xduration"] > 0 and r["xminstart"] is not None, r
