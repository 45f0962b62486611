"""F10/F12 — remove_overlaps properties, grouped cartesian, running max,
and the realistic pipeline (reference tests.R:13-50, 56-122, 433-470)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from timeperiods_spark import interval_weighted_avg
from timeperiods_spark.operators.cross import grouped_cartesian
from timeperiods_spark.operators.overlaps import (
    check_no_overlaps,
    remove_overlaps,
    running_max,
)
from timeperiods_spark.errors import OverlapError, RoleValidationError

from .conftest import assert_df_equal
from .oracle import interval_weighted_avg_slow


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


def _islands(cells):
    """Maximal runs of consecutive integers in ``cells``."""
    runs = []
    for c in sorted(set(cells)):
        if runs and c == runs[-1][1] + 1:
            runs[-1] = (runs[-1][0], c)
        else:
            runs.append((c, c))
    return runs


def _brute_pieces(rows):
    """Atomic pieces of ungrouped (s, e) rows by brute force: every
    original is cut at each start and each end + 1 inside it; one
    (s, e, o_s, o_e) per piece per original row."""
    cuts = sorted({s for s, _ in rows} | {e + 1 for _, e in rows})
    out = []
    for a, b in rows:
        inside = [c for c in cuts if a <= c <= b + 1]
        out += [(lo, hi - 1, a, b) for lo, hi in zip(inside, inside[1:])]
    return sorted(out)


def test_merge_intervals_matches_remove_overlaps_coverage(spark):
    """Property: the atomic pieces cover exactly the input's cells, on a
    random panel, through the Arrow sweep and the SQL sweep; merged
    into maximal runs per group, the distinct pieces give the input's
    islands."""
    df = spark.range(500).selectExpr(
        "CAST(id % 5 AS STRING) AS g",
        "CAST((id * 37) % 1000 AS INT) AS s",
        "CAST((id * 37) % 1000 + (id % 11) + 1 AS INT) AS e",
    )
    cells_in = {}
    for r in df.collect():
        cells_in.setdefault(r["g"], set()).update(range(r["s"], r["e"] + 1))
    for strategy in ("auto", "bin"):
        atomic = (
            remove_overlaps(df, ("s", "e"), ["g"], join_strategy=strategy)
            .select("g", "s", "e")
            .dropDuplicates()
            .collect()
        )
        cells_a, pieces = {}, {}
        for r in atomic:
            got = cells_a.setdefault(r["g"], set())
            piece = set(range(r["s"], r["e"] + 1))
            assert not got & piece, (strategy, r)  # distinct pieces are disjoint
            got |= piece
            pieces.setdefault(r["g"], []).append((r["s"], r["e"]))
        assert cells_a == cells_in, strategy
        for g, lst in pieces.items():
            cells = [c for s, e in lst for c in range(s, e + 1)]
            assert _islands(cells) == _islands(cells_in[g]), (strategy, g)


def test_interval_algebra_ungrouped(spark, monkeypatch):
    """Ungrouped remove_overlaps (no group columns) runs the SQL sweep
    through the always-bucketed branch of plans/carry.py; its pieces
    match brute force, also when the sweep's lead crosses buckets."""
    from timeperiods_spark.plans import carry

    real, plans = carry.plan_buckets, []

    def spy(*args, **kwargs):
        plans.append(real(*args, **kwargs))
        return plans[-1]

    monkeypatch.setattr(carry, "plan_buckets", spy)

    x = spark.createDataFrame([(1, 5), (4, 9), (20, 25)], "s int, e int")
    got = sorted(
        (r["s"], r["e"], r["o_s"], r["o_e"])
        for r in remove_overlaps(x, ("s", "e")).collect()
    )
    assert got == [(1, 3, 1, 5), (4, 5, 1, 5), (4, 5, 4, 9), (6, 9, 4, 9), (20, 25, 20, 25)]

    rows = [((i * 37) % 3000, (i * 37) % 3000 + (i % 23)) for i in range(300)]
    big = spark.createDataFrame(rows, "s int, e int")
    got = sorted(
        (r["s"], r["e"], r["o_s"], r["o_e"])
        for r in remove_overlaps(big, ("s", "e")).collect()
    )
    assert got == _brute_pieces(rows)
    assert [p.bucketed for p in plans] == [True, True]
    assert plans[-1].df.select("__bk").distinct().count() > 1  # the lead crosses buckets


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
