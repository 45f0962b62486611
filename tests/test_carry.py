"""plans/carry.py — shared bucketed-carry machinery: guard decisions,
value equivalence between bucketed and unbucketed paths, and the
broadcast-size cap (VERDICT r2 items 2 and 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from timeperiods_spark.operators.overlaps import running_max
from timeperiods_spark.plans.carry import plan_buckets


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def series(spark):
    # 2000 rows, deterministic pseudo-random values, configurable groups
    return spark.range(2000).select(
        F.col("id").cast("int").alias("t"),
        ((F.col("id") * 2654435761) % 997).cast("double").alias("v"),
    )


def test_guard_few_groups_buckets(spark, series):
    df = series.withColumn("g", (F.col("t") % 3).cast("int"))
    plan = plan_buckets(df, ["g"], "t")
    assert plan.bucketed and not plan.empty
    assert "__bk" in plan.df.columns


def test_guard_many_groups_skips_carry(spark, series):
    """Groups >= 4x parallelism: per-group windows are already parallel,
    so no bucket machinery and — critically — no carry-frame broadcast."""
    df = series.withColumn("g", (F.col("t") % 500).cast("int"))
    plan = plan_buckets(df, ["g"], "t")
    assert not plan.bucketed and not plan.empty

    out = running_max(df, "v", ["t"], ["g"])
    assert "BroadcastExchange" not in _plan(out)


def test_guard_hint_overrides_estimate(spark, series):
    df = series.withColumn("g", (F.col("t") % 3).cast("int"))
    plan = plan_buckets(df, ["g"], "t", group_count_hint=10_000)
    assert not plan.bucketed


def test_carry_cap_shrinks_buckets(spark, series):
    """Below the guard threshold but with a tight cap, the bucket count
    shrinks so groups x buckets never exceeds carry_cap_rows."""
    df = series.withColumn("g", (F.col("t") % 3).cast("int"))
    plan = plan_buckets(df, ["g"], "t", group_count_hint=10, carry_cap_rows=40)
    assert plan.bucketed and plan.n_buckets <= 4


def test_running_max_bucketed_equals_plain(spark, series):
    """Bucketed-carry running max == plain per-group window, including
    across bucket boundaries and with NULL values."""
    from pyspark.sql import Window

    df = series.withColumn("g", (F.col("t") % 3).cast("int")).withColumn(
        "v", F.when(F.col("t") % 17 == 0, None).otherwise(F.col("v"))
    )
    got = {
        (r["g"], r["t"]): r["out"]
        for r in running_max(df, "v", ["t"], ["g"], out_col="out").collect()
    }
    w = Window.partitionBy("g").orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        (r["g"], r["t"]): r["out"]
        for r in df.withColumn("out", F.max("v").over(w)).collect()
    }
    assert got == want


def test_running_max_ungrouped_not_single_task(spark, series):
    """The ungrouped path is always bucketed, and its carry gives the
    plain window's values across bucket boundaries, NULLs included."""
    from pyspark.sql import Window

    out = running_max(series, "v", ["t"])
    p = _plan(out)
    assert "hashpartitioning(__bk" in p, p[:1200]

    df = series.withColumn(
        "v", F.when(F.col("t") % 17 == 0, None).otherwise(F.col("v"))
    )
    got = sorted(
        (r["t"], r["out"])
        for r in running_max(df, "v", ["t"], out_col="out").collect()
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    want = sorted(
        (r["t"], r["out"]) for r in df.withColumn("out", F.max("v").over(w)).collect()
    )
    assert len(got) == 2000 and got == want


def test_running_max_non_numeric_order_raises_ungrouped(spark):
    """Ungrouped + non-bucketable order column would serialize to one
    window task; the operator now raises with guidance (VERDICT r3
    item 7) instead of silently degrading. Grouped calls still accept
    string order columns (per-group windows)."""
    import pytest

    from timeperiods_spark.errors import RoleValidationError

    df = spark.createDataFrame(
        [("a", 2.0), ("b", 1.0), ("c", 3.0)], "k string, v double"
    )
    with pytest.raises(RoleValidationError, match="non-bucketable"):
        running_max(df, "v", ["k"])

    grouped = spark.createDataFrame(
        [(1, "a", 2.0), (1, "b", 1.0), (2, "a", 3.0)],
        "g int, k string, v double",
    )
    rows = {
        (r["g"], r["k"]): r["v_cummax"]
        for r in running_max(grouped, "v", ["k"], ["g"]).collect()
    }
    assert rows == {(1, "a"): 2.0, (1, "b"): 2.0, (2, "a"): 3.0}


def test_empty_frame_flows_through(spark):
    df = spark.createDataFrame([], "g int, t int, v double")
    plan = plan_buckets(df, ["g"], "t")
    assert plan.empty and "__bk" in plan.df.columns
    assert running_max(df, "v", ["t"], ["g"]).count() == 0


def test_integrity_scan_many_groups_no_broadcast(spark):
    from timeperiods_spark.operators.interval_avg import _overlap_scan

    xw = spark.range(2000).selectExpr(
        "CAST(id % 500 AS STRING) AS __g0",
        "CAST(id * 10 AS LONG) AS __xs",
        "CAST(id * 10 + 4 AS LONG) AS __xe",
    )
    scan = _overlap_scan(xw, ["__g0"])
    assert "BroadcastExchange" not in _plan(scan)
    assert scan.first()["ovl"] == 0


def test_running_max_date_order_column(spark):
    """Date leading order column takes the bucketed path via unix_date
    (DATE->BIGINT casts are forbidden; code-review finding)."""
    import datetime as dt

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("g", dt.date(2024, 1, 1) + dt.timedelta(days=i), float((i * 7) % 5))
         for i in range(50)],
        "g string, d date, v double",
    )
    out = running_max(df, "v", ["d"], ["g"], out_col="m")
    rows = sorted((r["d"], r["v"], r["m"]) for r in out.collect())
    best = 0.0
    for d, v, m in rows:
        best = max(best, v)
        assert m == best, (d, v, m, best)
