"""The grouped Arrow sweep (plans/kernel.py): the ``auto`` pick, its
row budget, the checks counted in the sweep's pass and
layout-independent sums."""

from __future__ import annotations

import math
import random
import warnings

import pytest

from timeperiods_spark import interval_weighted_avg, remove_overlaps
from timeperiods_spark.errors import (
    DuplicateIntervalError,
    IntervalValidationError,
    OverlapError,
)
from timeperiods_spark.operators.interval_avg import _canonical, _overlap_scan
from timeperiods_spark.plans import strategy
from timeperiods_spark.plans import kernel

#: what the result of a request that took the sweep scans: a validated
#: call computed the sums already, an unvalidated one runs the sweep
_SWEPT = {True: "Scan ExistingRDD", False: "MapInArrow"}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture()
def panel(spark):
    """Three groups, values multiples of 1/8: every sum is exact, so
    the sweep and the pair join agree bit for bit."""
    x = spark.range(600).selectExpr(
        "CAST(id % 3 AS INT) AS g", "CAST(id DIV 3 * 10 AS INT) AS s",
        "CAST(id DIV 3 * 10 + 6 AS INT) AS e",
        "IF(id % 7 = 0, NULL, CAST(id % 80 AS DOUBLE) / 8) AS v",
    )
    y = spark.range(300).selectExpr(
        "CAST(id % 3 AS INT) AS g", "CAST(id DIV 3 * 20 - 5 AS INT) AS s",
        "CAST(id DIV 3 * 20 + 14 AS INT) AS e",
    )
    return x, y


@pytest.mark.parametrize("validate", [True, False])
def test_auto_takes_the_sweep_within_the_row_budget(spark, panel, monkeypatch, validate):
    x, y = panel

    def run():
        return interval_weighted_avg(
            x, y, ("s", "e"), ("v",), ("g",), validate=validate, extra_stats=True
        )

    swept = run()
    assert _SWEPT[validate] in _plan(swept)
    monkeypatch.setattr(strategy, "AUTO_SWEEP_ROWS", 100)  # < the largest group
    joined = run()
    plan = _plan(joined)
    assert not any(s in plan for s in _SWEPT.values())
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    assert _rows(swept) == _rows(joined)
    # the bin join, sized from the check action's p90 (validated) or
    # by its own pass (the group-size aggregate has none)
    monkeypatch.setattr(strategy, "AUTO_BIN_PAIRS", 1000)
    binned = run()
    assert "__bin" in _plan(binned)
    assert _rows(swept) == _rows(binned)


def test_remove_overlaps_takes_the_sweep_within_the_row_budget(spark, monkeypatch):
    x = spark.range(400).selectExpr(
        "CAST(id % 4 AS INT) AS g", "CAST(id * 3 AS INT) AS s",
        "CAST(id * 3 + id % 11 AS INT) AS e", "CAST(id AS STRING) AS tag",
    )
    swept = remove_overlaps(x, ("s", "e"), ("g",))
    assert "MapInArrow" in _plan(swept)
    monkeypatch.setattr(strategy, "AUTO_SWEEP_ROWS", 50)
    sql_sweep = remove_overlaps(x, ("s", "e"), ("g",))
    assert "MapInArrow" not in _plan(sql_sweep)
    assert _rows(swept) == _rows(sql_sweep)


def test_sweep_matches_the_pair_join_on_nullable_string_keys(spark):
    """NULL group keys group with each other, groups only y holds come
    out zero-filled, duplicate y rows once; NULL values, coverage masks
    and Date intervals as on the pair join (sums compared to 1e-9)."""
    import datetime as dt

    rnd = random.Random(5)
    d0 = dt.date(2020, 1, 1)
    xr, yr = [], []
    for g1 in ("a", "b", None):
        for g2 in (1, None):
            t = rnd.randint(0, 40)
            for _ in range(rnd.randint(1, 40)):
                t += rnd.randint(1, 4)
                n = rnd.randint(0, 5)
                v = None if rnd.random() < 0.2 else rnd.random() * 10
                xr.append((g1, g2, d0 + dt.timedelta(t), d0 + dt.timedelta(t + n), v))
                t += n
            for _ in range(rnd.randint(1, 20)):
                s = rnd.randint(-10, 250)
                yr.append((g1, g2, d0 + dt.timedelta(s), d0 + dt.timedelta(s + rnd.randint(0, 30))))
    yr += [yr[0], ("only-y", 7, d0, d0 + dt.timedelta(3))]
    x = spark.createDataFrame(xr, "g1 string, g2 int, s date, e date, v double")
    y = spark.createDataFrame(yr, "g1 string, g2 int, s date, e date")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        for req in (100.0, 50.0, 0.0):
            args = (x, y, ("s", "e"), ("v",), ("g1", "g2"), req)
            swept = interval_weighted_avg(*args, extra_stats=True)
            assert _SWEPT[True] in _plan(swept)
            joined = interval_weighted_avg(*args, extra_stats=True, join_strategy="group_equi")
            a, b = _rows(swept), _rows(joined)
            assert len(a) == len(b) == len(set(yr))
            for ra, rb in zip(a, b):
                assert ra == pytest.approx(rb, rel=1e-9, abs=1e-9), (ra, rb)


def test_sweep_sums_are_layout_independent(spark):
    """The same validated request in several layouts (shuffle
    partitions, broadcast thresholds, x reshuffled) gives bit-identical
    rows on arbitrary doubles: each period sums in one fixed order."""
    from pyspark.sql import functions as F

    src = spark.range(6 * 3000, numPartitions=4).selectExpr(
        "CAST(id % 6 AS INT) AS g", "CAST(id DIV 6 * 3 AS INT) AS s",
        "CAST(id DIV 6 * 3 + 2 AS INT) AS e", "rand(7) AS v",
    )
    x = spark.createDataFrame(src.collect(), src.schema)  # values fixed once
    y = spark.range(6 * 90).selectExpr(
        "CAST(id % 6 AS INT) AS g", "CAST(id DIV 6 * 100 AS INT) AS s",
        "CAST(id DIV 6 * 100 + 99 AS INT) AS e",
    )
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    results = []
    try:
        for parts in (4, 16):
            for threshold in ("10MB", "-1", "100MB"):
                for reshuffle in (False, True):
                    spark.conf.set(keys[0], str(parts))
                    spark.conf.set(keys[1], threshold)
                    spark.conf.set(keys[2], threshold)
                    xi = x.repartition(F.rand(3)) if reshuffle else x
                    out = interval_weighted_avg(xi, y, ("s", "e"), ("v",), ("g",))
                    results.append(sorted(tuple(r) for r in out.collect()))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert len(results[0]) == 540
    for other in results[1:]:
        differ = sum(a != b for a, b in zip(results[0], other))
        assert differ == 0, f"{differ} of 540 rows differ between layouts"


def _old_checks(spark, xw, yw, n_groups):
    stats = strategy.request_stats(xw, yw, n_groups)
    gcols = [f"__g{i}" for i in range(n_groups)]
    ovl = _overlap_scan(xw.where("__xe >= __xs"), gcols).first()["ovl"]
    return stats, ovl


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_one_action_checks_match_the_stats_pass_and_scan(spark, seed):
    """Every count of the checked sweep against the stats pass, the
    overlap scan and exact group sizes, on data with a NULL group key,
    duplicate y rows and (seed 3) NULL x endpoints, each group counted
    over several Arrow batches."""
    rnd = random.Random(seed)
    xr, yr = [], []
    for g in (1, 2, None):
        t = 0
        for _ in range(rnd.randint(200, 600)):
            t += rnd.randint(0, 3)
            xr.append((g, t, t + rnd.randint(-1, 2)))
        for _ in range(rnd.randint(0, 300)):
            s = rnd.randint(0, 900)
            yr.append((g, s, s + rnd.randint(-1, 50)))
    xr += [(1, None, 5), (2, 7, None)] if seed == 3 else []
    yr += rnd.sample(yr, 5)
    x = spark.createDataFrame(xr, "g int, s long, e long").selectExpr("*", "1.0D AS v")
    y = spark.createDataFrame(yr, "g int, s long, e long")
    _, xw, yw = _canonical(x, y, ("s", "e"), ("v",), ("g",))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "64")  # every group spans several batches
    try:
        _, new = kernel.checked_sweep(xw, yw, 1, 1, False)
    finally:
        spark.conf.set(key, saved)
    old, ovl = _old_checks(spark, xw, yw, 1)
    for side, o in (("x", old.x), ("y", old.y)):
        n = getattr(new, side)
        assert (n.n, n.nd, n.nulls, n.rev, n.lo, n.hi) == (o.n, o.nd, o.nulls, o.rev, o.lo, o.hi)
        rows = xr if side == "x" else yr
        sizes = {}
        for r in rows:
            sizes[r[0]] = sizes.get(r[0], 0) + 1
        assert (n.groups, n.top) == (len(sizes), max(sizes.values())), side
    assert (new.x.ovl > 0) == (ovl > 0)
    assert new.p90 > 0


@pytest.mark.parametrize("case", ["y_null", "y_rev", "x_null", "x_rev", "x_dup", "x_ovl"])
def test_grouped_checks_raise_typed_errors(spark, case):
    xr = [("a", i * 10, i * 10 + 5, 1.0) for i in range(50)]
    xr += [("b", i * 10, i * 10 + 5, 2.0) for i in range(50)]
    yr = [("a", 0, 99), ("b", 50, 149)]
    err = {
        "y_null": IntervalValidationError, "y_rev": IntervalValidationError,
        "x_null": IntervalValidationError, "x_rev": IntervalValidationError,
        "x_dup": DuplicateIntervalError, "x_ovl": OverlapError,
    }[case]
    if case == "y_null":
        yr.append(("a", None, 5))
    elif case == "y_rev":
        yr.append(("b", 9, 3))
    elif case == "x_null":
        xr.append(("b", 1000, None, 1.0))
    elif case == "x_rev":
        xr.append(("a", 1003, 1001, 1.0))
    elif case == "x_dup":
        xr.append(xr[70])
    else:
        xr.append(("b", 495, 497, 1.0))  # touches the last interval
    x = spark.createDataFrame(xr, "g string, s int, e int, v double")
    y = spark.createDataFrame(yr, "g string, s int, e int")
    with pytest.raises(err):
        interval_weighted_avg(x, y, ("s", "e"), ("v",), ("g",))
    if case == "x_ovl":
        out = interval_weighted_avg(
            x.where("s <> 495"), y, ("s", "e"), ("v",), ("g",), skip_overlap_check=True
        )
        assert out.count() == 2


def test_grouped_duplicate_y_warns_at_the_caller(spark, panel):
    x, y = panel
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = interval_weighted_avg(x, y.union(y), ("s", "e"), ("v",), ("g",))
    assert _SWEPT[True] in _plan(out)
    assert out.count() == 300
    assert any("duplicate" in str(m.message) for m in w)
    assert any(m.filename == __file__ for m in w), [m.filename for m in w]


def _nulls_first(r):
    return tuple(v for c in r for v in (c is not None, c or 0))



class _Acc:
    """An accumulator's driver side, for partition functions run locally."""

    def __init__(self):
        self.value = {}

    def add(self, term):
        self.value.update(term)


@pytest.mark.parametrize("seed", range(4))
def test_check_summaries_stitch_across_any_split(monkeypatch, seed):
    """The sweep's check counters against brute-force counts, wherever
    hash partitions cut the stream between groups and Arrow batches cut
    it anywhere (no Spark: the partition function runs on local
    batches). Rows hold NULL keys, NULL endpoints and duplicates; one
    group passes a small row budget partway through its partition: it
    is still counted exactly and gets no sums, and the groups after it
    keep theirs."""
    import pyarrow as pa
    import pyspark

    rnd = random.Random(seed)
    big, budget = 2, 70
    rows = []
    for k in (None, 1, 2, 3):
        for side in (0, 1):
            t = 0
            for _ in range(rnd.randint(40, 60) if k == big else rnd.randint(0, 30)):
                t += rnd.randint(0, 4)
                s = None if rnd.random() < 0.03 else t
                e = None if rnd.random() < 0.03 else t + rnd.randint(-1, 3)
                rows.append((k, side, s, e, 1.0))
    rows += rnd.sample(rows, 3)
    rows.sort(key=_nulls_first)
    types = [pa.int32(), pa.int32(), pa.int64(), pa.int64(), pa.float64()]
    out_names = ["__yg0", "__ys", "__ye", "__xdur", "__snm0", "__sp0", "__minstart", "__maxend"]

    def batch(part):
        return pa.RecordBatch.from_arrays(
            [pa.array([r[i] for r in part], t) for i, t in enumerate(types)],
            names=["__k0", "__side", "__s", "__e", "__v0"],
        )

    class Task:
        part = 0

        @staticmethod
        def partitionId():
            return Task.part

    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: Task))
    groups_start = [i for i in range(1, len(rows)) if rows[i][0] != rows[i - 1][0]]

    def run(cap):
        acc, out = _Acc(), []
        cuts = sorted(rnd.sample(groups_start, rnd.randint(0, len(groups_start))))
        for p, (a, b) in enumerate(zip([0, *cuts], [*cuts, len(rows)])):
            Task.part, part = p, rows[a:b]
            inner = sorted(rnd.sample(range(1, len(part)), min(5, len(part) - 1)))
            batches = [batch(part[i:j]) for i, j in zip([0, *inner], [*inner, len(part)])]
            for rb in kernel._iwa_partition(1, 1, False, out_names, cap, acc, iter(batches)):
                out += rb.to_pylist()
        return kernel._stats(list(acc.value.values())), out

    whole, sums = run(math.inf)
    for side, got in ((0, whole.x), (1, whole.y)):
        mine = [r for r in rows if r[1] == side]  # in (key, start, end) order
        sizes = {}
        for r in mine:
            sizes[r[0]] = sizes.get(r[0], 0) + 1
        ok = [r for r in mine if None not in r[2:4]]
        ovl = sum(
            1 for p, r in zip(mine, mine[1:])
            if side == 0 and p[0] == r[0] and None not in (p[2], p[3], r[2], r[3])
            and r[2] <= p[3]
        )
        assert (got.n, got.nd) == (len(mine), len({r[:4] for r in mine}))
        assert (got.nulls, got.rev) == (len(mine) - len(ok), sum(r[3] < r[2] for r in ok))
        assert (got.groups, got.top) == (len(sizes), max(sizes.values(), default=0))
        assert got.ovl == ovl
        ends = [v for r in ok for v in r[2:4]]
        assert (got.lo, got.hi) == (min(ends, default=None), max(ends, default=None))
    # p90: the smallest length of the 1/8-doubling bucket holding it
    lengths = sorted(r[3] - r[2] + 1 for r in rows if None not in r[2:4] and r[3] >= r[2])
    exact = lengths[math.ceil(0.9 * len(lengths)) - 1]
    assert whole.p90 <= exact < whole.p90 * 2 ** (1 / 8) + 1, (whole.p90, exact)
    for _ in range(10):
        assert run(math.inf) == (whole, sums)
    # the group over the budget: exact counts, no sums; the rest unchanged
    assert sum(r[0] == big for r in rows) > budget
    assert max(sum(r[0] == k for r in rows) for k in (None, 1, 3)) <= budget
    assert {r["__yg0"] for r in sums} >= {big, 3}
    for _ in range(10):
        capped, kept = run(budget)
        assert capped == whole
        assert kept == [r for r in sums if r["__yg0"] != big]
