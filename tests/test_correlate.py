"""Value semantics for rollup_ohlc and cross_correlation."""

from __future__ import annotations

import pytest

from timeperiods_spark import cross_correlation, rollup_ohlc
from timeperiods_spark.errors import RoleValidationError


def test_ohlc_basic_bars(spark):
    df = spark.createDataFrame(
        [
            ("a", 0, 10.0),
            ("a", 3, 5.0),
            ("a", 9, 7.0),   # close of bucket 0
            ("a", 10, 1.0),  # bucket 1
            ("b", 2, 4.0),
        ],
        "g string, p long, v double",
    )
    rows = {
        (r["g"], r["bucket"]): r
        for r in rollup_ohlc(df, "p", "v", ["g"], bucket_width=10).collect()
    }
    a0 = rows[("a", 0)]
    assert (a0["open"], a0["high"], a0["low"], a0["close"]) == (10.0, 10.0, 5.0, 7.0)
    assert a0["n_obs"] == 3 and a0["sum_value"] == 22.0
    a1 = rows[("a", 1)]
    assert (a1["open"], a1["close"], a1["n_obs"]) == (1.0, 1.0, 1)
    assert rows[("b", 0)]["open"] == 4.0


def test_ohlc_tie_rules_and_nulls(spark):
    # two observations on the SAME period: open takes the min value of
    # the tied earliest, close the max value of the tied latest; NULL
    # values are ignored entirely
    df = spark.createDataFrame(
        [("a", 0, 3.0), ("a", 0, 1.0), ("a", 5, 8.0), ("a", 5, 2.0),
         ("a", 7, None)],
        "g string, p long, v double",
    )
    r = rollup_ohlc(df, "p", "v", ["g"], bucket_width=10).collect()[0]
    assert r["open"] == 1.0 and r["close"] == 8.0
    assert r["n_obs"] == 4 and r["high"] == 8.0 and r["low"] == 1.0


def test_ohlc_rejects_bad_width(spark):
    df = spark.createDataFrame([("a", 0, 1.0)], "g string, p long, v double")
    with pytest.raises(RoleValidationError):
        rollup_ohlc(df, "p", "v", ["g"], bucket_width=0)


def test_xcorr_perfect_lagged_correlation(spark):
    # b is exactly a shifted by 2 periods: corr(a(t), b(t+2)) == 1
    rows = [("a", t, float(t * t % 17)) for t in range(30)]
    rows += [("b", t + 2, float(t * t % 17)) for t in range(30)]
    df = spark.createDataFrame(rows, "s string, p long, v double")
    out = {
        r["lag"]: r
        for r in cross_correlation(
            df, "p", "v", "s", pairs=[("a", "b")], lags=[0, 2]
        ).collect()
    }
    assert out[2]["xcorr"] == pytest.approx(1.0)
    assert out[2]["n_overlap"] == 30
    assert abs(out[0]["xcorr"]) < 1.0


def test_xcorr_autocorrelation_and_zero_variance_null(spark):
    rows = [("a", t, float(t)) for t in range(10)]
    rows += [("c", t, 5.0) for t in range(10)]  # constant: undefined corr
    df = spark.createDataFrame(rows, "s string, p long, v double")
    out = cross_correlation(
        df, "p", "v", "s", pairs=[("a", "a"), ("c", "c")], lags=[0, 1]
    ).collect()
    by = {(r["series_a"], r["lag"]): r for r in out}
    assert by[("a", 0)]["xcorr"] == pytest.approx(1.0)
    assert by[("a", 1)]["xcorr"] == pytest.approx(1.0)  # linear series
    # zero-variance series: NULL, never NaN
    assert by[("c", 0)]["xcorr"] is None


def test_xcorr_min_overlap_drops_thin_lags(spark):
    rows = [("a", t, float(t)) for t in range(3)]
    rows += [("b", t, float(t)) for t in range(3)]
    df = spark.createDataFrame(rows, "s string, p long, v double")
    out = cross_correlation(
        df, "p", "v", "s", pairs=[("a", "b")], lags=[0, 2], min_overlap=2
    ).collect()
    lags = {r["lag"] for r in out}
    assert 0 in lags and 2 not in lags  # lag 2 overlaps on 1 point only


def test_xcorr_validation(spark):
    df = spark.createDataFrame([("a", 0, 1.0)], "s string, p long, v double")
    with pytest.raises(RoleValidationError):
        cross_correlation(df, "p", "v", "s", pairs=[], lags=[0])
    with pytest.raises(RoleValidationError):
        cross_correlation(df, "p", "v", "s", pairs=[("a", "a")], lags=[0],
                          min_overlap=1)
