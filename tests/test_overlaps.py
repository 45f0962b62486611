"""F10/F12 — remove_overlaps properties, grouped cartesian, running max,
and the realistic pipeline (reference tests.R:13-50, 56-122, 433-470)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from timeperiods_spark import interval_weighted_avg
from timeperiods_spark.operators.cross import grouped_cartesian
from timeperiods_spark.operators.interval_avg_slow import interval_weighted_avg_slow
from timeperiods_spark.operators.overlaps import (
    check_no_overlaps,
    remove_overlaps,
    running_max,
)
from timeperiods_spark.errors import OverlapError, RoleValidationError

from .conftest import assert_df_equal


def test_canonical_case(spark):
    """tests.R:13-14 — x = [1,5],[5,5],[5,10] → atomic [1,4],[5,5],[6,10]."""
    x = spark.createDataFrame(
        [("1", "1", 1, 5), ("1", "1", 5, 5), ("1", "1", 5, 10)],
        "id1 string, id2 string, start int, end int",
    )
    out = remove_overlaps(x, ("start", "end"), ("id1", "id2"))
    rows = sorted(
        (r["start"], r["end"], r["o_start"], r["o_end"]) for r in out.collect()
    )
    assert rows == [
        (1, 4, 1, 5),
        (5, 5, 1, 5),
        (5, 5, 5, 5),
        (5, 5, 5, 10),
        (6, 10, 5, 10),
    ]


def _random_intervals(spark, n=400, seed=185):
    rng = np.random.default_rng(seed)
    rows = []
    for _ in range(n):
        a, b = sorted(rng.integers(0, 1000, size=2).tolist())
        rows.append(
            (int(rng.binomial(3, 0.3)), int(rng.binomial(7, 0.5)), int(a), int(b))
        )
    return spark.createDataFrame(rows, "id1 int, id2 int, start int, end int")


def test_remove_overlaps_properties(spark):
    """tests.R:18-50 — atomic pieces exactly tile each original with
    unit continuity, no duplicates; output is non-overlapping; every
    original endpoint is a cut point."""
    x = _random_intervals(spark)
    out = remove_overlaps(x, ("start", "end"), ("id1", "id2")).cache()

    # pieces tile each original: per (group, original), sum of piece
    # lengths == original length, min start == o_start, max end == o_end
    tiling = (
        out.groupBy("id1", "id2", "o_start", "o_end")
        .agg(
            F.sum(F.col("end") - F.col("start") + 1).alias("covered"),
            F.min("start").alias("mn"),
            F.max("end").alias("mx"),
            F.count("*").alias("k"),
            F.count_distinct(F.struct("start", "end")).alias("kd"),
        )
        .collect()
    )
    assert tiling
    for r in tiling:
        assert r["covered"] == r["o_end"] - r["o_start"] + 1, r
        assert r["mn"] == r["o_start"] and r["mx"] == r["o_end"], r
        assert r["k"] == r["kd"], f"duplicate pieces: {r}"

    # atomic pieces are non-overlapping within groups
    pieces = out.select("id1", "id2", "start", "end").dropDuplicates()
    assert check_no_overlaps(pieces, ("start", "end"), ("id1", "id2"))

    # every original start is the start of some piece; every original
    # end is the end of some piece (cut-point property, tests.R:40-50)
    joined_s = out.filter("o_start = start").select("id1", "id2", "o_start", "o_end")
    joined_e = out.filter("o_end = end").select("id1", "id2", "o_start", "o_end")
    originals = x.count()
    assert joined_s.dropDuplicates().count() == x.dropDuplicates().count()
    assert joined_e.dropDuplicates().count() == x.dropDuplicates().count()
    out.unpersist()


def test_remove_overlaps_duplicate_originals_multiset(spark):
    """Duplicate x rows are legal remove_overlaps input: foverlaps tags
    each atomic piece once per duplicate original (multiset semantics,
    timeperiod_functions.R:580). The duplicated [0,16] original must
    yield each of its atomic pieces exactly twice; the overlapping
    [8,45] row cuts both copies identically. Regression for the round-3
    Hypothesis draw (g=0 rows {(0,16)x2, (8,45)})."""
    x = spark.createDataFrame(
        [(0, 0, 16), (0, 0, 16), (0, 8, 45)], "g int, s int, e int"
    )
    out = remove_overlaps(x, ("s", "e"), ("g",)).collect()
    from collections import Counter

    per = {}
    for r in out:
        per.setdefault((r["o_s"], r["o_e"]), []).append((r["s"], r["e"]))
    # cut points: 0..7, 8..16 inside [0,16]; 8..16, 17..45 inside [8,45]
    assert Counter(per[(0, 16)]) == Counter({(0, 7): 2, (8, 16): 2})
    assert Counter(per[(8, 45)]) == Counter({(8, 16): 1, (17, 45): 1})


def test_remove_overlaps_empty_and_all_null_inputs(spark):
    """No rows, or no non-NULL endpoint at all: no atomic pieces, for
    the grouped and the ungrouped sweep."""
    empty = spark.createDataFrame([], "g int, s int, e int")
    nulls = spark.createDataFrame([(1, None, None), (1, None, None)], "g int, s int, e int")
    for x in (empty, nulls):
        assert remove_overlaps(x, ("s", "e"), ("g",)).count() == 0
        assert remove_overlaps(x, ("s", "e")).count() == 0


def test_remove_overlaps_sweep_buckets_stay_bounded(spark, monkeypatch):
    """Nested intervals sharing one start: the event values are mostly
    ends, all past the last start. The sweep's bucket plan must cover
    them, or every distinct end gets a bucket of its own and the
    broadcast handoff frame grows to one row per interval."""
    from timeperiods_spark.plans import carry

    real, plans = carry.plan_buckets, []

    def spy(*args, **kwargs):
        plans.append(real(*args, **kwargs))
        return plans[-1]

    monkeypatch.setattr(carry, "plan_buckets", spy)
    x = spark.createDataFrame(
        [(g, 0, e) for g in (1, 2) for e in range(10, 2000, 10)], "g int, s int, e int"
    )
    out = remove_overlaps(x, ("s", "e"), ("g",), join_strategy="bin")  # the SQL sweep
    # piece k of a group's 199 is covered by the 200 - k longest
    assert out.count() == 2 * sum(range(1, 200))
    (plan,) = plans
    assert plan.bucketed
    top = plan.df.agg(F.max("__bk")).first()[0]
    assert 0 <= top < plan.n_buckets, (top, plan.n_buckets)


def test_remove_overlaps_dates(spark):
    d = dt.date
    x = spark.createDataFrame(
        [(d(2020, 1, 1), d(2020, 1, 5)), (d(2020, 1, 5), d(2020, 1, 10))],
        "start date, end date",
    )
    out = remove_overlaps(x, ("start", "end"))
    rows = sorted((r["start"], r["end"]) for r in out.collect())
    assert rows == [
        (d(2020, 1, 1), d(2020, 1, 4)),
        (d(2020, 1, 5), d(2020, 1, 5)),
        (d(2020, 1, 5), d(2020, 1, 5)),
        (d(2020, 1, 6), d(2020, 1, 10)),
    ]


def test_pipeline_remove_then_average(spark):
    """tests.R:433-470 — remove_overlaps → mean over duplicate atomic
    pieces → interval_weighted_avg, fast == slow."""
    rng = np.random.default_rng(186)
    xrows = []
    for g in range(3):
        for _ in range(40):
            a, b = sorted(rng.integers(0, 300, size=2).tolist())
            xrows.append((g, int(a), int(b), float(rng.normal())))
    x = spark.createDataFrame(xrows, "g int, start int, end int, value double")

    # payload (value) is carried through the decomposition by default —
    # no join-back on (g, o_start, o_end) needed
    atomic = remove_overlaps(x, ("start", "end"), ("g",))
    clean = atomic.groupBy("g", "start", "end").agg(F.avg("value").alias("value"))
    assert check_no_overlaps(clean, ("start", "end"), ("g",))

    yrows = [(g, s, s + 13) for g in range(3) for s in range(0, 300, 14)]
    y = spark.createDataFrame(yrows, "g int, start int, end int")
    fast = interval_weighted_avg(clean, y, ("start", "end"), ("value",), ("g",), 50.0)
    slow = interval_weighted_avg_slow(
        clean, y, ("start", "end"), ("value",), ("g",), 50.0
    )
    assert_df_equal(fast, slow, ["g", "start", "end"])


def test_grouped_cartesian_matches_bruteforce(spark):
    """F12 (tests.R:56-122) — per-group product, inner group semantics."""
    X = spark.createDataFrame(
        [(1, 2, 1, 1), (2, 3, 1, 2), (3, 4, 2, 1), (4, 5, 9, 9)],
        "x1 int, x2 int, id1 int, id2 int",
    )
    Y = spark.createDataFrame(
        [(4, 5, 1, 1), (5, 6, 1, 1), (6, 7, 1, 2), (7, 8, 3, 3)],
        "y1 int, y2 int, id1 int, id2 int",
    )
    out = grouped_cartesian([X, Y], ["id1", "id2"])
    got = sorted(tuple(r) for r in out.select("id1", "id2", "x1", "y1").collect())
    # brute force in python
    xr = [(1, 2, 1, 1), (2, 3, 1, 2), (3, 4, 2, 1), (4, 5, 9, 9)]
    yr = [(4, 5, 1, 1), (5, 6, 1, 1), (6, 7, 1, 2), (7, 8, 3, 3)]
    expect = sorted(
        (xa[2], xa[3], xa[0], ya[0])
        for xa in xr
        for ya in yr
        if (xa[2], xa[3]) == (ya[2], ya[3])
    )
    assert got == expect


def test_grouped_cartesian_no_groups_and_null_groups(spark):
    A = spark.createDataFrame([(1,), (2,)], "a int")
    B = spark.createDataFrame([(10,), (20,), (30,)], "b int")
    assert grouped_cartesian([A, B]).count() == 6

    C = spark.createDataFrame([(None, 1.0), (1, 2.0)], "g int, c double")
    D = spark.createDataFrame([(None, 3.0), (2, 4.0)], "g int, d double")
    out = grouped_cartesian([C, D], ["g"]).collect()
    assert len(out) == 1 and out[0]["g"] is None  # NULL matches NULL


def test_grouped_cartesian_name_collision_auto_renames(spark):
    """Reference CJ.dt auto-prefixes colliding columns with i.
    (timeperiod_functions.R:5-12, :33); this engine uses i_ and repeats
    the prefix until unused. auto_rename=False restores the hard error."""
    A = spark.createDataFrame([(1,)], "a int")
    B = spark.createDataFrame([(2,)], "a int")
    C = spark.createDataFrame([(3,)], "a int")
    out = grouped_cartesian([A, B, C], [])
    assert out.columns == ["a", "i_a", "i_i_a"]
    assert out.collect()[0].asDict() == {"a": 1, "i_a": 2, "i_i_a": 3}
    with pytest.raises(RoleValidationError):
        grouped_cartesian([A, B], [], auto_rename=False)


def test_running_max_dates(spark):
    d = dt.date
    df = spark.createDataFrame(
        [(1, 1, d(2020, 1, 5)), (1, 2, d(2020, 1, 2)), (1, 3, d(2020, 1, 9))],
        "g int, o int, dte date",
    )
    out = running_max(df, "dte", ["o"], ["g"]).orderBy("o").collect()
    assert [r["dte_cummax"] for r in out] == [d(2020, 1, 5), d(2020, 1, 5), d(2020, 1, 9)]


def test_remove_overlaps_payload_carry(spark):
    """Non-key x columns ride through like the reference's foverlaps
    (timeperiod_functions.R:576-584 keeps all x columns) — including
    on duplicate-interval inputs, where a join-back would double-count."""
    x = spark.createDataFrame(
        [(1, 1, 5, 10.0, "a"), (1, 3, 8, 20.0, "b"), (1, 3, 8, 30.0, "c")],
        "g int, start int, end int, v double, tag string",
    )
    out = remove_overlaps(x, ("start", "end"), ("g",))
    assert set(out.columns) == {"g", "start", "end", "o_start", "o_end", "v", "tag"}
    rows = {(r["o_start"], r["o_end"], r["start"], r["end"], r["v"], r["tag"])
            for r in out.collect()}
    # the two duplicate originals each tag their pieces with THEIR value
    assert (3, 8, 3, 5, 20.0, "b") in rows and (3, 8, 3, 5, 30.0, "c") in rows
    # exactly one row per (original-row, piece): dup originals not merged
    per_piece = out.groupBy("start", "end").count().collect()
    counts = {(r["start"], r["end"]): r["count"] for r in per_piece}
    assert counts[(3, 5)] == 3  # [3,5] covered by all three originals
    assert counts[(6, 8)] == 2  # [6,8] by the two [3,8] duplicates only
    # opt-out keeps the old key-only shape
    slim = remove_overlaps(x, ("start", "end"), ("g",), keep_values=False)
    assert set(slim.columns) == {"g", "start", "end", "o_start", "o_end"}
    with pytest.raises(RoleValidationError):
        remove_overlaps(
            x.withColumnRenamed("v", "o_start2").withColumnRenamed("tag", "o_end"),
            ("start", "end"), ("g",),
        )


def test_check_no_overlaps_raises(spark):
    df = spark.createDataFrame([(1, 5), (5, 9)], "start int, end int")
    with pytest.raises(OverlapError):
        check_no_overlaps(df, ("start", "end"))
    assert not check_no_overlaps(df, ("start", "end"), raise_on_overlap=False)


def test_check_no_overlaps_cross_partition_boundary(spark):
    """Ungrouped validation range-partitions the scan; an overlap whose
    two rows land in different range partitions must still be caught
    via the boundary handoff (one long early interval covering rows
    that sort into later partitions)."""
    rows = [(0, 100000)] + [(i * 10, i * 10 + 5) for i in range(1, 2000)]
    df = spark.createDataFrame(rows, "start int, end int")
    assert not check_no_overlaps(df, ("start", "end"), raise_on_overlap=False)
    # and a clean ungrouped table still validates through the same path
    clean = spark.createDataFrame(
        [(i * 10, i * 10 + 5) for i in range(2000)], "start int, end int"
    )
    assert check_no_overlaps(clean, ("start", "end"))


def test_verbose_flag_prints_steps(spark, capsys):
    """Reference parity: verbose= (timeperiod_functions.R:117) reports
    validation timings and plan choices."""
    x = spark.createDataFrame([(0, 4, 1.0), (5, 9, 2.0)], "s int, e int, v double")
    y = spark.createDataFrame([(0, 9)], "s int, e int")
    interval_weighted_avg(x, y, ("s", "e"), ("v",), None, 50.0, verbose=True).collect()
    out = capsys.readouterr().out
    assert "x integrity" in out and "join_strategy" in out


def test_merge_intervals_semantics(spark):
    """Union coverage: overlap and closed-grid adjacency merge, gaps
    split; n_source_intervals counts absorbed inputs."""
    from timeperiods_spark import merge_intervals

    rows = [
        ("a", 1, 5), ("a", 5, 10),    # overlap -> one
        ("a", 11, 12),                # adjacent (10+1=11) -> merges too
        ("a", 20, 25),                # gap -> separate
        ("b", 3, 3), ("b", 7, 8),
    ]
    df = spark.createDataFrame(rows, "g string, s int, e int")
    got = sorted(
        (r["g"], r["s"], r["e"], r["n_source_intervals"])
        for r in merge_intervals(df, ("s", "e"), ["g"]).collect()
    )
    assert got == [
        ("a", 1, 12, 3), ("a", 20, 25, 1),
        ("b", 3, 3, 1), ("b", 7, 8, 1),
    ]


def test_merge_intervals_matches_remove_overlaps_coverage(spark):
    """Property: the union's covered cell set == the atomic pieces'
    covered cell set from remove_overlaps, on a random panel."""
    import pyspark.sql.functions as F

    from timeperiods_spark import merge_intervals, remove_overlaps

    df = spark.range(500).selectExpr(
        "CAST(id % 5 AS STRING) AS g",
        "CAST((id * 37) % 1000 AS INT) AS s",
        "CAST((id * 37) % 1000 + (id % 11) + 1 AS INT) AS e",
    )
    merged = merge_intervals(df, ("s", "e"), ["g"])
    cells_m = {
        (r["g"], r["c"])
        for r in merged.select(
            "g", F.explode(F.sequence("s", "e")).alias("c")
        ).collect()
    }
    atomic = remove_overlaps(df, ("s", "e"), ["g"]).select("g", "s", "e").dropDuplicates()
    cells_a = {
        (r["g"], r["c"])
        for r in atomic.select(
            "g", F.explode(F.sequence("s", "e")).alias("c")
        ).collect()
    }
    assert cells_m == cells_a
    # merged intervals are disjoint and non-adjacent per group
    ivs = {}
    for r in merged.collect():
        ivs.setdefault(r["g"], []).append((r["s"], r["e"]))
    for g, lst in ivs.items():
        lst.sort()
        for (s1, e1), (s2, e2) in zip(lst, lst[1:]):
            assert s2 > e1 + 1


def test_interval_difference_and_gaps(spark):
    from timeperiods_spark import find_gaps, interval_difference

    x = spark.createDataFrame(
        [("a", 0, 20), ("a", 30, 40), ("b", 5, 9)], "g string, s int, e int"
    )
    y = spark.createDataFrame(
        [("a", 5, 8), ("a", 18, 33), ("b", 0, 100)], "g string, s int, e int"
    )
    got = sorted(
        (r["g"], r["s"], r["e"])
        for r in interval_difference(x, y, ("s", "e"), ["g"]).collect()
    )
    assert got == [("a", 0, 4), ("a", 9, 17), ("a", 34, 40)]

    gaps = sorted(
        (r["g"], r["s"], r["e"])
        for r in find_gaps(x, ("s", "e"), ["g"], span=(0, 50)).collect()
    )
    assert gaps == [("a", 21, 29), ("a", 41, 50), ("b", 0, 4), ("b", 10, 50)]


def test_interval_difference_property_vs_cells(spark):
    """Random panels: difference's covered cells == x cells minus y
    cells, and outputs are maximal disjoint runs."""
    import pyspark.sql.functions as F

    from timeperiods_spark import interval_difference

    x = spark.range(120).selectExpr(
        "CAST(id % 3 AS STRING) AS g",
        "CAST((id * 53) % 400 AS INT) AS s",
        "CAST((id * 53) % 400 + (id % 7) + 1 AS INT) AS e",
    )
    y = spark.range(60).selectExpr(
        "CAST(id % 3 AS STRING) AS g",
        "CAST((id * 91) % 400 AS INT) AS s",
        "CAST((id * 91) % 400 + (id % 11) + 1 AS INT) AS e",
    )
    diff = interval_difference(x, y, ("s", "e"), ["g"])
    got_cells = {
        (r["g"], r["c"])
        for r in diff.select("g", F.explode(F.sequence("s", "e")).alias("c")).collect()
    }
    cx = {(r["g"], r["c"]) for r in x.select("g", F.explode(F.sequence("s", "e")).alias("c")).collect()}
    cy = {(r["g"], r["c"]) for r in y.select("g", F.explode(F.sequence("s", "e")).alias("c")).collect()}
    assert got_cells == cx - cy
    ivs = {}
    for r in diff.collect():
        ivs.setdefault(r["g"], []).append((r["s"], r["e"]))
    for g, lst in ivs.items():
        lst.sort()
        for (s1, e1), (s2, e2) in zip(lst, lst[1:]):
            assert s2 > e1 + 1  # maximal: no adjacent outputs


def test_find_gaps_preserves_date_type(spark):
    """Date-typed intervals come back as dates from find_gaps (the
    synthetic full-span frame must carry x's dtype; review finding)."""
    import datetime as dt

    from timeperiods_spark import find_gaps

    d = dt.date(2020, 1, 1)
    x = spark.createDataFrame(
        [("a", d, d + dt.timedelta(days=4))], "g string, s date, e date"
    )
    lo = (d - dt.date(1970, 1, 1)).days
    gaps = find_gaps(x, ("s", "e"), ["g"], span=(lo, lo + 9))
    assert dict(gaps.dtypes)["s"] == "date" and dict(gaps.dtypes)["e"] == "date"
    got = [(r["s"], r["e"]) for r in gaps.collect()]
    assert got == [(d + dt.timedelta(days=5), d + dt.timedelta(days=9))]


def test_interval_algebra_ungrouped(spark):
    """Ungrouped paths (gcols=[]) of the union/difference sweeps — the
    always-bucketed branch of plans/carry.py."""
    from timeperiods_spark import (
        find_gaps,
        interval_difference,
        merge_intervals,
    )

    x = spark.createDataFrame([(1, 5), (4, 9), (20, 25)], "s int, e int")
    m = sorted((r["s"], r["e"]) for r in merge_intervals(x, ("s", "e")).collect())
    assert m == [(1, 9), (20, 25)]
    y = spark.createDataFrame([(3, 6)], "s int, e int")
    d = sorted(
        (r["s"], r["e"]) for r in interval_difference(x, y, ("s", "e")).collect()
    )
    assert d == [(1, 2), (7, 9), (20, 25)]
    g = sorted((r["s"], r["e"]) for r in find_gaps(x, ("s", "e"), span=(0, 30)).collect())
    assert g == [(0, 0), (10, 19), (26, 30)]


def test_interval_algebra_invalid_rows_raise(spark):
    """merge_intervals / interval_difference raise on NULL endpoints or
    reversed intervals via the row-local sweep guard (round-4 ADVICE:
    previously a reversed interval silently drove the running coverage
    negative, corrupting island detection for the whole group)."""
    from timeperiods_spark import interval_difference, merge_intervals

    reversed_df = spark.createDataFrame([(1, 9, 3)], "g int, s int, e int")
    with pytest.raises(Exception, match="end < start|invalid interval"):
        merge_intervals(reversed_df, ("s", "e"), ["g"]).collect()

    null_df = spark.createDataFrame(
        [(1, None, 3)], "g int, s int, e int"
    )
    with pytest.raises(Exception, match="NULL endpoint|invalid interval"):
        merge_intervals(null_df, ("s", "e"), ["g"]).collect()

    ok = spark.createDataFrame([(1, 0, 5)], "g int, s int, e int")
    with pytest.raises(Exception, match="end < start|invalid interval"):
        interval_difference(ok, reversed_df, ("s", "e"), ["g"]).collect()


def test_running_max_string_order_grouped_ok_ungrouped_raises(spark):
    """Non-bucketable (string) leading order: grouped falls back to
    per-group windows; ungrouped raises instead of silently serializing
    the whole frame into one window task (round-3 verdict minor)."""
    df = spark.createDataFrame(
        [("g1", "a", 3), ("g1", "b", 1), ("g2", "a", 5), ("g2", "b", 2)],
        "g string, o string, v int",
    )
    rows = {
        (r["g"], r["o"]): r["v_cummax"]
        for r in running_max(df, "v", ["o"], ["g"]).collect()
    }
    assert rows == {("g1", "a"): 3, ("g1", "b"): 3, ("g2", "a"): 5, ("g2", "b"): 5}
    with pytest.raises(RoleValidationError, match="non-bucketable"):
        running_max(df, "v", ["o"])


def test_overlap_join_inner_and_left(spark):
    """Public foverlaps: pair multiset vs brute force, clipping,
    suffixing, NULL-group join, left completion, strategy equality."""
    import datetime

    from timeperiods_spark import overlap_join

    x_rows = [("a", 1, 5, 10.0), ("a", 8, 9, 20.0), (None, 0, 3, 30.0),
              ("b", 100, 110, 40.0)]
    y_rows = [("a", 4, 8, "p1"), ("a", 20, 25, "p2"), (None, 2, 2, "p3")]
    x = spark.createDataFrame(x_rows, "g string, s int, e int, v double")
    y = spark.createDataFrame(y_rows, "g string, s int, e int, tag string")

    brute = set()
    for gx, xs, xe, v in x_rows:
        for gy, ys, ye, tag in y_rows:
            if gx == gy and xs <= ye and xe >= ys:
                brute.add((gx, xs, xe, ys, ye, v, tag,
                           max(xs, ys), min(xe, ye),
                           min(xe, ye) - max(xs, ys) + 1))
    for strat in ("group_equi", "bin"):
        got = {
            (r["g"], r["s_x"], r["e_x"], r["s_y"], r["e_y"], r["v"],
             r["tag"], r["overlap_start"], r["overlap_end"],
             r["overlap_duration"])
            for r in overlap_join(x, y, ("s", "e"), ["g"],
                                  join_strategy=strat).collect()
        }
        assert got == brute, strat
    # left: unmatched x rows kept with NULL y side
    left = overlap_join(x, y, ("s", "e"), ["g"], how="left").collect()
    assert len(left) == len(brute) + 1  # only (b,100,110) is unmatched
    nulls = [r for r in left if r["s_y"] is None]
    assert {(r["g"], r["s_x"]) for r in nulls} == {("b", 100)}
    for r in nulls:
        assert r["tag"] is None and r["overlap_duration"] is None

    # date intervals round-trip; colliding payload names get suffixes
    d0 = datetime.date(2024, 1, 1)
    xd = spark.createDataFrame(
        [(d0, d0 + datetime.timedelta(days=4), "xx")],
        "s date, e date, tag string",
    )
    yd = spark.createDataFrame(
        [(d0 + datetime.timedelta(days=2), d0 + datetime.timedelta(days=9),
          "yy")],
        "s date, e date, tag string",
    )
    r = overlap_join(xd, yd, ("s", "e")).collect()[0]
    assert r["tag_x"] == "xx" and r["tag_y"] == "yy"
    assert r["overlap_start"] == d0 + datetime.timedelta(days=2)
    assert r["overlap_end"] == d0 + datetime.timedelta(days=4)
    assert r["overlap_duration"] == 3
