"""Operators with no dedicated test module: grouped cartesian and M4
downsampling."""

from __future__ import annotations


def test_grouped_cartesian_rename_dodges_own_columns(spark):
    """Renaming a colliding 'v' must not collide with the same input's
    own 'i_v' column (r2 advice finding)."""
    from timeperiods_spark.operators.cross import grouped_cartesian

    a = spark.createDataFrame([(1, 10.0)], "g int, v double")
    b = spark.createDataFrame([(1, 20.0, 30.0)], "g int, v double, i_v double")
    out = grouped_cartesian([a, b], ["g"])
    assert sorted(out.columns) == ["g", "i_i_v", "i_v", "v"]
    row = out.collect()[0]
    assert (row["v"], row["i_i_v"], row["i_v"]) == (10.0, 20.0, 30.0)


def test_downsample_m4_picks_and_dedup(spark):
    from timeperiods_spark import downsample_m4

    rows = [
        # bucket 0 (periods 0-9): first=0, last=9, vmin at 3, vmax tie
        # at 2 and 7 -> earliest (2) wins
        ("g", 0, 5.0), ("g", 2, 9.0), ("g", 3, 1.0), ("g", 7, 9.0), ("g", 9, 4.0),
        # bucket 1: single point -> all four picks coincide -> 1 row
        ("g", 12, 2.0),
        # NULL values ignored
        ("g", 14, None),
    ]
    df = spark.createDataFrame(rows, "g string, p int, v double")
    out = downsample_m4(df, "p", "v", ["g"], bucket_width=10)
    got = sorted((r["bucket"], r["period"], r["value"]) for r in out.collect())
    assert got == [(0, 0, 5.0), (0, 2, 9.0), (0, 3, 1.0), (0, 9, 4.0), (1, 12, 2.0)]
