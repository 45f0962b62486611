"""Physical-plan assertions — the 100 TB safety net.

These tests pin the plan SHAPES that make the engine viable at scale;
a regression here (e.g. a range join degenerating to a nested-loop, or
a filter no longer reaching the parquet scan) is a performance bug even
while every value-level test stays green.
"""

from __future__ import annotations

import re

import pytest

from timeperiods_spark import (
    TierCatalog,
    ingest_batch,
    interval_weighted_avg,
    rollup_regular,
    token_table,
)
from timeperiods_spark.operators.overlaps import remove_overlaps


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def xy(spark):
    x = spark.createDataFrame(
        [(1, 0, 9, 1.0), (2, 10, 19, 2.0)], "g int, s long, e long, v double"
    )
    y = spark.createDataFrame([(1, 0, 4), (2, 5, 9)], "g int, s long, e long")
    return x, y


def test_group_equi_is_hash_or_merge_join(xy):
    x, y = xy
    p = _plan(
        interval_weighted_avg(
            x, y, ("s", "e"), ("v",), ("g",), validate=False, assume_y_distinct=True,
            join_strategy="group_equi",
        )
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_broadcast_y_uses_broadcast_hash_join(xy):
    x, y = xy
    p = _plan(
        interval_weighted_avg(
            x, y, ("s", "e"), ("v",), ("g",),
            validate=False, assume_y_distinct=True, join_strategy="broadcast_y",
        )
    )
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_auto_switches_to_bin_on_large_cross_estimate(xy):
    """auto is data-aware (sf1.0 regression: unconditional group_equi
    ran a 20-group x 750k-interval panel at 97x the sf0.1 wall): with
    a candidate-volume estimate above AUTO_BIN_PAIRS the plan must be
    the bin join (explode + equi join, no per-group cross). The
    explode node only exists on the bin path, so its presence pins the
    choice; results stay identical across strategies (test_golden)."""
    x, y = xy
    big = (10_000_000, 10_000_000, 2)  # 5e13 est. pairs >> threshold
    p = _plan(
        interval_weighted_avg(
            x, y, ("s", "e"), ("v",), ("g",),
            validate=False, assume_y_distinct=True, join_stats=big,
        )
    )
    assert "Generate" in p and "explode" in p.lower()
    assert "CartesianProduct" not in p
    small = (100, 100, 2)
    p2 = _plan(
        interval_weighted_avg(
            x, y, ("s", "e"), ("v",), ("g",),
            validate=False, assume_y_distinct=True, join_stats=small,
        )
    )
    assert "explode" not in p2.lower()


def test_bin_join_never_cartesian(spark):
    x = spark.createDataFrame([(0, 9, 1.0), (10, 19, 2.0)], "s long, e long, v double")
    y = spark.createDataFrame([(0, 4), (5, 9)], "s long, e long")
    p = _plan(
        interval_weighted_avg(
            x, y, ("s", "e"), ("v",), None,
            validate=False, assume_y_distinct=True,
            join_strategy="bin", bin_width=4,
        )
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_remove_overlaps_bin_never_cartesian(spark):
    x = spark.createDataFrame([(1, 5), (3, 9), (8, 12)], "s long, e long")
    p = _plan(remove_overlaps(x, ("s", "e"), bin_width=4))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_rollup_has_single_exchange_and_partial_agg(spark):
    r = rollup_regular(
        token_table(spark, 1000),
        ("start_hour", "end_hour"),
        ("n_tok",),
        ("source",),
        width=24,
        partial=True,
    )
    p = _plan(r)
    # map-side partial + final aggregate around exactly one shuffle
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in p
    # no join anywhere on the regular-grid path
    assert "Join" not in p


def test_catalog_read_pushes_down(spark, tmp_path):
    cat = TierCatalog(str(tmp_path / "c"), ("n_tok",), ("source",))
    ingest_batch(cat, token_table(spark, 2000), ("start_hour", "end_hour"), batch_id="b")
    fin = (
        cat.read_finished(spark, "daily", 0.0)
        .filter("period BETWEEN 100 AND 120")
        .select("source", "period", "n_tok")
    )
    p = _plan(fin)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "period" in m.group(1), p[:800]
    m2 = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m2 is not None
    cols = {c.split(":")[0] for c in m2.group(1).split(",")}
    # only the columns the projection needs are read — min/max/xduration
    # must be pruned away
    assert "xminstart" not in cols and "xmaxend" not in cols, cols


def test_ungrouped_validation_is_not_single_partition(spark):
    """With group_vars=[] the integrity scan must window by the
    deterministic start-bucket — not funnel everything through one
    Window.partitionBy(lit(1)) task. (The tiny per-bucket frame may use
    a constant window; the FULL-DATA window may not, which is
    what the __bk partitioning key pins.)"""
    from timeperiods_spark.operators.interval_avg import _overlap_scan

    xw = spark.createDataFrame(
        [(i * 10, i * 10 + 5) for i in range(100)], "__xs long, __xe long"
    )
    p = _plan(_overlap_scan(xw, []))
    assert "hashpartitioning(__bk" in p, p[:1500]


def test_iwa_projection_prunes_value_columns(spark, xy):
    """Selecting only coverage columns must prune the value column from
    the measurement scan (Catalyst column pruning through the operator)."""
    x, y = xy
    out = interval_weighted_avg(
        x, y, ("s", "e"), ("v",), ("g",), validate=False, assume_y_distinct=True
    ).select("g", "s", "e", "xduration")
    p = _plan(out)
    assert "CartesianProduct" not in p


def test_gap_fill_locf_buckets_large_domains(spark):
    """The LOCF window must partition by (group…, __bk) whenever the
    period domain is too large for per-group windows (VERDICT r2 item
    4); SMALL domains legitimately use per-group windows (the carry
    subtree costs ~1s of fixed stages — plans/carry.py domain gate).
    Plan-only: hints mean no jobs run for the huge span."""
    from timeperiods_spark.operators.rollup import gap_fill_locf

    t = token_table(spark, 300)
    daily = rollup_regular(
        t, ("start_hour", "end_hour"), ("n_tok",), ("source",), width=24,
        required_percentage=0.0,
    )
    big = gap_fill_locf(
        daily, ["n_tok"], ["source"], width=24,
        span=(0, 24 * (1 << 20)), group_count_hint=11,
    )
    assert "hashpartitioning(source" in _plan(big) and "__bk" in _plan(big)
    small = gap_fill_locf(
        daily, ["n_tok"], ["source"], width=24,
        span=(0, 24 * 366 - 1), group_count_hint=11,
    )
    # small domain: no carry-frame join (the scaffold join's broadcast
    # is legitimate and stays) — __hbk is the carry stitch's key
    assert "__hbk" not in _plan(small)


def test_sweep_rollup_buckets_large_domains(spark):
    """width-1 sweep's prefix-sum window partitions by (group…, __bk)
    for large period domains; the small tier domain stays per-group
    (domain gate). VERDICT r2 item 4 + r3 fixed-cost fix."""
    t = token_table(spark, 300)
    big = rollup_regular(
        t, ("start_hour", "end_hour"), ("n_tok",), ("source",), width=1,
        algorithm="sweep", required_percentage=0.0,
        carry_hints={"span": (0, 1 << 20), "groups": 11},
    )
    assert "__bk" in _plan(big)
    small = rollup_regular(
        t, ("start_hour", "end_hour"), ("n_tok",), ("source",), width=1,
        algorithm="sweep", required_percentage=0.0,
        carry_hints={"span": (0, 8824), "groups": 11},
    )
    assert "BroadcastExchange" not in _plan(small)


def test_auto_stats_near_threshold_triggers_recheck(xy):
    """VERDICT r4 item 8: a stale auto_stats hint whose estimate lands
    within AUTO_STATS_RECHECK_BAND of the bin cliff must trigger the
    real stats action instead of being trusted — the tiny test panel's
    TRUE volume is far below the cliff, so the recheck lands on
    group_equi (no explode) even though the naive hint-side arithmetic
    sits just under AUTO_BIN_PAIRS where a 10x-stale corpus would
    cross it."""
    from timeperiods_spark.plans.strategy import (
        AUTO_BIN_PAIRS,
        AUTO_STATS_RECHECK_BAND,
    )

    x, y = xy
    # estimate just inside the padding band (cliff/4 < est <= cliff)
    in_band = (AUTO_BIN_PAIRS // 2, 1, 1)
    p = _plan(
        interval_weighted_avg(
            x, y, ("s", "e"), ("v",), ("g",),
            validate=False, assume_y_distinct=True, join_stats=in_band,
        )
    )
    # recheck ran against the real (tiny) data: group_equi, not bin
    assert "explode" not in p.lower()

    # sanity on the band arithmetic itself
    assert AUTO_BIN_PAIRS // AUTO_STATS_RECHECK_BAND < AUTO_BIN_PAIRS // 2


def test_overlap_join_bin_never_nested_loop(spark):
    """overlap_join inherits the rollup's physical guarantees: the
    bucketized strategy is an equi join on (bin, groups) — never a
    BroadcastNestedLoop/cartesian, which a naive theta join becomes."""
    from timeperiods_spark import overlap_join

    x = spark.createDataFrame(
        [(1, 0, 9, 1.0), (2, 10, 19, 2.0)], "g int, s long, e long, v double"
    )
    y = spark.createDataFrame([(1, 0, 4), (2, 5, 9)], "g int, s long, e long")
    plan = _plan(overlap_join(x, y, ("s", "e"), ["g"], join_strategy="bin"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # ungrouped auto resolves to bin (no group keys to equi-join on)
    plan2 = _plan(overlap_join(x.drop("g"), y.drop("g"), ("s", "e")))
    assert "CartesianProduct" not in plan2
    assert "BroadcastNestedLoopJoin" not in plan2


def test_overlap_join_left_no_anti_join(spark):
    """how='left' is built INSIDE the strategy join (a preserved-x outer
    join; the bin shape resolves a first-bin NULL candidate with one
    max(matched) window) — never the dropDuplicates + left_anti rescan
    of x it once was: no anti join anywhere, and at most ONE exchange
    more than the inner plan (the bin variant's identity window)."""
    from timeperiods_spark import overlap_join

    x = spark.createDataFrame(
        [(i % 7, i, i + 3, float(i)) for i in range(200)],
        "g int, s long, e long, v double",
    )
    y = spark.createDataFrame(
        [(i % 7, i * 10, i * 10 + 5) for i in range(40)],
        "g int, s long, e long",
    )
    for strat in ("bin", "group_equi", "broadcast_y"):
        kw = dict(join_strategy=strat)
        if strat == "bin":
            kw["bin_width"] = 8
        inner = _plan(overlap_join(x, y, ("s", "e"), ["g"], how="inner", **kw))
        left = _plan(overlap_join(x, y, ("s", "e"), ["g"], how="left", **kw))
        assert "Anti" not in left, strat
        assert "CartesianProduct" not in left, strat
        assert "BroadcastNestedLoopJoin" not in left, strat
        assert left.count("Exchange") <= inner.count("Exchange") + 1, strat


def test_ohlc_single_aggregate_no_join_no_window(spark):
    """rollup_ohlc: ONE aggregate keyed (group, bucket) — the struct
    orderings put open/close INSIDE the aggregate, so there is no
    window, no join, and no sort of raw rows; exactly one shuffle."""
    from timeperiods_spark import rollup_ohlc

    df = spark.createDataFrame(
        [("g", i, float(i % 13)) for i in range(100)],
        "g string, p long, v double",
    )
    plan = _plan(rollup_ohlc(df, "p", "v", ["g"], bucket_width=10))
    assert "Join" not in plan
    assert "Window" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def _jobs_run_by(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, read from a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_eager_work_is_one_stats_pass_and_one_scan(spark):
    """The call itself (not its result) runs the fused stats pass and
    the overlap scan only: 7 jobs on this bucketed few-group panel,
    where the separate y check, x scan with broadcast carry and
    auto-join stats ran 15. The bound leaves margin for AQE stage
    splits."""
    x = spark.range(600).selectExpr(
        "CAST(id % 3 AS INT) AS g", "CAST(id DIV 3 * 10 AS INT) AS s",
        "CAST(id DIV 3 * 10 + 6 AS INT) AS e", "CAST(id AS DOUBLE) AS v",
    )
    y = spark.range(300).selectExpr(
        "CAST(id % 3 AS INT) AS g", "CAST(id DIV 3 * 20 AS INT) AS s",
        "CAST(id DIV 3 * 20 + 14 AS INT) AS e",
    )
    n = _jobs_run_by(
        spark, lambda: interval_weighted_avg(x, y, ("s", "e"), ("v",), ("g",))
    )
    assert 0 < n <= 10, n


def test_validated_grouped_call_is_one_eager_action(spark):
    """On the same panel, a validated grouped call that ``auto`` sends
    to the Arrow sweep runs one eager action, which checks x and y,
    sizes the groups and computes the sums: at most 5 jobs, where the
    stats pass and the overlap scan ran 7."""
    x = spark.range(600).selectExpr(
        "CAST(id % 3 AS INT) AS g", "CAST(id DIV 3 * 10 AS INT) AS s",
        "CAST(id DIV 3 * 10 + 6 AS INT) AS e", "CAST(id AS DOUBLE) AS v",
    )
    y = spark.range(300).selectExpr(
        "CAST(id % 3 AS INT) AS g", "CAST(id DIV 3 * 20 AS INT) AS s",
        "CAST(id DIV 3 * 20 + 14 AS INT) AS e",
    )
    out = []
    n = _jobs_run_by(
        spark, lambda: out.append(interval_weighted_avg(x, y, ("s", "e"), ("v",), ("g",)))
    )
    # the result scans the sweep's rows, computed by the call
    assert "Scan ExistingRDD" in _plan(out[0])
    assert 0 < n <= 5, n


@pytest.mark.parametrize("kw, patch, bound", [
    ({"join_strategy": "group_equi"}, {}, 10),
    ({}, {"AUTO_SWEEP_ROWS": 100}, 5),
    ({}, {"AUTO_SWEEP_ROWS": 100, "AUTO_BIN_PAIRS": 1000}, 5),
])
def test_pair_path_eager_work(spark, monkeypatch, kw, patch, bound):
    """The same panel on the pair join. An explicit strategy runs the
    stats pass and the overlap scan (7 jobs). ``auto`` with the largest
    group over the sweep's row budget plans the join, group_equi or
    bin with its width, from the one check action: no other pass."""
    from timeperiods_spark.plans import strategy

    for name, value in patch.items():
        monkeypatch.setattr(strategy, name, value)
    x = spark.range(600).selectExpr(
        "CAST(id % 3 AS INT) AS g", "CAST(id DIV 3 * 10 AS INT) AS s",
        "CAST(id DIV 3 * 10 + 6 AS INT) AS e", "CAST(id AS DOUBLE) AS v",
    )
    y = spark.range(300).selectExpr(
        "CAST(id % 3 AS INT) AS g", "CAST(id DIV 3 * 20 AS INT) AS s",
        "CAST(id DIV 3 * 20 + 14 AS INT) AS e",
    )
    out = []
    n = _jobs_run_by(
        spark,
        lambda: out.append(interval_weighted_avg(x, y, ("s", "e"), ("v",), ("g",), **kw)),
    )
    plan = _plan(out[0])
    assert "MapInArrow" not in plan
    assert ("__bin" in plan) == ("AUTO_BIN_PAIRS" in patch)
    assert 0 < n <= bound, n


def test_build_overlap_pairs_with_hints_runs_no_job(spark):
    """Given the request's stats, planning the join runs no job —
    including a fresh RequestStats whose estimate sits in the recheck
    band, where a bare tuple hint would be rechecked."""
    from pyspark.sql import Row

    from timeperiods_spark.plans.strategy import (
        AUTO_BIN_PAIRS,
        RequestStats,
        build_overlap_pairs,
    )

    xw = spark.range(100).selectExpr(
        "id % 2 AS __g0", "id * 10 AS __xs", "id * 10 + 5 AS __xe"
    )
    yw = spark.range(50).selectExpr(
        "id % 2 AS __yg0", "id * 20 AS __ys", "id * 20 + 9 AS __ye"
    )
    in_band = RequestStats(Row(n=AUTO_BIN_PAIRS // 2, groups=1), Row(n=1), 8)
    # bin, group_equi, then the fresh in-band stats (bin width from them)
    for hint, width in (((10**9, 10**9, 2), 10), ((100, 50, 2), 10), (in_band, None)):
        n = _jobs_run_by(spark, lambda: build_overlap_pairs(
            xw, yw, 1, auto_stats=hint, bin_width=width
        ))
        assert n == 0, (hint, n)
