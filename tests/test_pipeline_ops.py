"""Operators with no dedicated test module: grouped cartesian,
sessionize, M4 downsampling, rolling-window aggregates and exact
dedup."""

from __future__ import annotations


def test_exact_dedup_deterministic(spark):
    from timeperiods_spark.operators.spandedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 3.0), (3, "b", 1.0)], "id long, k string, v double"
    )
    out = exact_dedup(df, ["k"], order_cols=["v", "id"]).orderBy("k").collect()
    assert [(r["id"], r["k"]) for r in out] == [(2, "a"), (3, "b")]


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


def test_sessionize_semantics_and_bucket_boundaries(spark):
    from pyspark.sql import Window
    from timeperiods_spark import sessionize

    rows = [
        ("u1", 0), ("u1", 10), ("u1", 100), ("u1", 105), ("u1", 400),
        ("u2", 50),
    ]
    df = spark.createDataFrame(rows, "u string, t int")
    got = {
        (r["u"], r["t"]): r["session_id"]
        for r in sessionize(df, "t", 30, ["u"]).collect()
    }
    assert got == {
        ("u1", 0): 1, ("u1", 10): 1,      # within gap
        ("u1", 100): 2, ("u1", 105): 2,   # 90 > 30 -> new session
        ("u1", 400): 3,
        ("u2", 50): 1,
    }
    # bucketed result == plain-window result on a bigger random stream
    big = spark.range(5000).selectExpr(
        "CAST(id % 7 AS STRING) AS u",
        "CAST((id * 2654435761) % 100000 AS INT) AS t",
    ).dropDuplicates(["u", "t"])
    bucketed = {
        (r["u"], r["t"]): r["session_id"]
        for r in sessionize(big, "t", 40, ["u"]).collect()
    }
    w = Window.partitionBy("u").orderBy("t")
    import pyspark.sql.functions as F

    flag = F.when(
        F.lag("t").over(w).isNull() | (F.col("t") - F.lag("t").over(w) > 40), 1
    ).otherwise(0)
    plain = {
        (r["u"], r["t"]): r["sid"]
        for r in big.withColumn("f", flag)
        .withColumn(
            "sid",
            F.sum("f").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )
        .collect()
    }
    assert bucketed == plain


def test_sessionize_null_ts_and_collision(spark):
    import pytest as _pytest

    from timeperiods_spark import sessionize
    from timeperiods_spark.errors import RoleValidationError

    df = spark.createDataFrame(
        [("u", 1), ("u", None), ("u", 2)], "u string, t int"
    )
    got = {r["t"]: r["session_id"] for r in sessionize(df, "t", 10, ["u"]).collect()}
    assert got[1] == 1 and got[2] == 1 and got[None] is None
    with _pytest.raises(RoleValidationError):
        sessionize(df.withColumn("session_id", df["t"]), "t", 10, ["u"])


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


def test_rolling_window_agg_matches_range_window(spark):
    """Fan-out + hash-agg formulation == the RANGE-window formulation
    on a sparse series with NULL values and ties."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from timeperiods_spark import rolling_window_agg

    rows = [("a", 1, 10.0), ("a", 2, None), ("a", 5, 50.0), ("a", 6, 60.0),
            ("a", 6, 61.0), ("b", 3, 3.0)]
    df = spark.createDataFrame(rows, "g string, p int, v double")
    out = rolling_window_agg(df, "p", "v", ["g"], k=3)
    got = {
        (r["g"], r["p"], r["v"]): (r["roll_sum"], r["roll_count"], r["roll_mean"],
                                    r["roll_min"], r["roll_max"])
        for r in out.collect()
    }
    w = Window.partitionBy("g").orderBy("p").rangeBetween(-2, 0)
    want = {
        (r["g"], r["p"], r["v"]): (r["s"], r["c"], r["m"], r["mn"], r["mx"])
        for r in df.select(
            "g", "p", "v",
            F.sum("v").over(w).alias("s"),
            F.count("v").over(w).cast("long").alias("c"),
            F.avg("v").over(w).alias("m"),
            F.min("v").over(w).alias("mn"),
            F.max("v").over(w).alias("mx"),
        ).collect()
    }
    assert got == want
