"""Value semantics for rollup_ohlc."""

from __future__ import annotations

import pytest

from timeperiods_spark import rollup_ohlc
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
