"""M4/M5 — token table, regular-grid rollups, cascades, gap-fill/LOCF."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from timeperiods_spark import RoleValidationError, interval_weighted_avg
from timeperiods_spark.operators.rollup import (
    cascade,
    finalize_rollup,
    gap_fill_interpolate,
    gap_fill_locf,
    merge_partials,
    period_scaffold,
    rollup_regular,
)
from timeperiods_spark.sources.tokens import token_table

from .conftest import assert_df_equal

N_DOCS = 3000


@pytest.fixture(scope="module")
def tok(spark):
    # x role: (source group, [start_hour, end_hour], value n_tok).
    # Raw sequences overlap within a source, so decompose-by-average:
    # mean n_tok per (source, hour-cell) — here we just use doc-level
    # intervals made non-overlapping by averaging per atomic hour via
    # rollup at width=1 (every tier is then derived from hourly).
    return token_table(spark, N_DOCS).cache()


def test_token_table_shape(tok):
    row = tok.selectExpr(
        "count(*) AS n",
        "sum(CASE WHEN size(tokens) = n_tok THEN 0 ELSE 1 END) AS bad_len",
        "sum(CASE WHEN end_hour < start_hour THEN 1 ELSE 0 END) AS rev",
        "count(DISTINCT source) AS nsrc",
    ).first()
    assert row["n"] == N_DOCS
    assert row["bad_len"] == 0
    assert row["rev"] == 0
    assert row["nsrc"] == 11


def test_token_roundtrip_repartition(tok):
    """FIXTURES F13 invariant: per-row token-array equality survives
    repartitioning (shuffle round-trip)."""
    shuffled = tok.repartition(16, "source")
    joined = tok.alias("a").join(shuffled.alias("b"), "doc_id")
    bad = joined.filter(F.expr("a.tokens != b.tokens")).count()
    assert bad == 0


def _hourly_x(tok):
    """Non-overlapping hourly measurement table per source: average
    token throughput per (source, hour) from doc intervals."""
    per_hour = rollup_regular(
        tok,
        ("start_hour", "end_hour"),
        ("n_tok",),
        ("source",),
        width=1,
        required_percentage=0.0,
    )
    return per_hour.select(
        "source",
        F.col("start").cast("int").alias("start_hour"),
        F.col("end").cast("int").alias("end_hour"),
        F.col("n_tok"),
    )


def test_rollup_equals_interval_weighted_avg(spark, tok):
    """Differential: map-side regular rollup == generic iwa over an
    explicit scaffold y (covered periods only)."""
    x = _hourly_x(tok).cache()
    width = 24
    rolled = rollup_regular(
        x,
        ("start_hour", "end_hour"),
        ("n_tok",),
        ("source",),
        width=width,
        required_percentage=50.0,
    ).select(
        "source",
        F.col("start").cast("int").alias("start_hour"),
        F.col("end").cast("int").alias("end_hour"),
        "n_tok",
        "yduration",
        "xduration",
        "nobs_n_tok",
        F.col("xminstart").cast("int").alias("xminstart"),
        F.col("xmaxend").cast("int").alias("xmaxend"),
    )

    lohi = x.agg(F.min("start_hour"), F.max("end_hour")).first()
    scaffold = period_scaffold(
        spark, int(lohi[0]), int(lohi[1]), width, 0, tok.select("source").distinct()
    ).select(
        "source",
        F.col("start").cast("int").alias("start_hour"),
        F.col("end").cast("int").alias("end_hour"),
    )
    via_iwa = interval_weighted_avg(
        x,
        scaffold,
        ("start_hour", "end_hour"),
        ("n_tok",),
        ("source",),
        required_percentage=50.0,
        join_strategy="broadcast_y",
    ).filter("xduration > 0")
    assert_df_equal(rolled, via_iwa, ["source", "start_hour"])
    x.unpersist()


def test_cascade_exact(spark, tok):
    """daily/weekly partials cascaded from hourly == computed direct."""
    x = _hourly_x(tok).cache()
    hourly = rollup_regular(
        x, ("start_hour", "end_hour"), ("n_tok",), ("source",), width=1, partial=True
    ).cache()
    for coarse in (24, 168):
        direct = rollup_regular(
            x,
            ("start_hour", "end_hour"),
            ("n_tok",),
            ("source",),
            width=coarse,
            partial=True,
        )
        casc = cascade(
            hourly, ("n_tok",), ("source",), fine_width=1, coarse_width=coarse
        )
        assert_df_equal(
            casc.orderBy("source", "period"),
            direct.orderBy("source", "period"),
            ["source", "period"],
        )
    # weekly from daily as well (nesting 24 | 168)
    daily = cascade(hourly, ("n_tok",), ("source",), fine_width=1, coarse_width=24)
    weekly_from_daily = cascade(
        daily, ("n_tok",), ("source",), fine_width=24, coarse_width=168
    )
    weekly_direct = rollup_regular(
        x, ("start_hour", "end_hour"), ("n_tok",), ("source",), width=168, partial=True
    )
    assert_df_equal(
        weekly_from_daily.orderBy("source", "period"),
        weekly_direct.orderBy("source", "period"),
        ["source", "period"],
    )
    hourly.unpersist()
    x.unpersist()


def test_finalize_matches_nonpartial(spark, tok):
    x = _hourly_x(tok)
    p = rollup_regular(
        x, ("start_hour", "end_hour"), ("n_tok",), ("source",), width=24, partial=True
    )
    fin = finalize_rollup(p, ("n_tok",), ("source",), width=24, required_percentage=50.0)
    direct = rollup_regular(
        x,
        ("start_hour", "end_hour"),
        ("n_tok",),
        ("source",),
        width=24,
        required_percentage=50.0,
    )
    assert_df_equal(
        fin.orderBy("source", "period"), direct.orderBy("source", "period"),
        ["source", "period"],
    )


def test_merge_partials_incremental(spark):
    """Incremental continuous aggregate: partials of two batches merged
    == partials of the union."""
    rows1 = [("a", 0, 9, 2.0), ("a", 10, 19, 4.0)]
    rows2 = [("a", 20, 29, 6.0), ("b", 0, 4, 1.0)]
    mk = lambda rows: spark.createDataFrame(rows, "g string, s int, e int, v double")
    p1 = rollup_regular(mk(rows1), ("s", "e"), ("v",), ("g",), width=7, partial=True)
    p2 = rollup_regular(mk(rows2), ("s", "e"), ("v",), ("g",), width=7, partial=True)
    merged = merge_partials(p1.unionByName(p2), ("v",), ("g",))
    full = rollup_regular(
        mk(rows1 + rows2), ("s", "e"), ("v",), ("g",), width=7, partial=True
    )
    assert_df_equal(
        merged.orderBy("g", "period"), full.orderBy("g", "period"), ["g", "period"]
    )


def test_gap_fill_locf(spark):
    x = spark.createDataFrame(
        [("a", 0, 6, 10.0), ("a", 21, 27, 20.0)], "g string, s int, e int, v double"
    )
    rolled = rollup_regular(x, ("s", "e"), ("v",), ("g",), width=7, required_percentage=100.0)
    filled = gap_fill_locf(rolled, ("v",), ("g",), width=7, span=(0, 34)).orderBy("period")
    rows = filled.collect()
    assert [r["period"] for r in rows] == [0, 1, 2, 3, 4]
    assert [r["gap_filled"] for r in rows] == [False, True, True, False, True]
    assert [r["v_filled"] for r in rows] == [10.0, 10.0, 10.0, 20.0, 20.0]
    assert rows[1]["v"] is None and rows[1]["xduration"] == 0


def test_gap_fill_locf_null_before_first(spark):
    # LOCF before any observation stays NULL
    x = spark.createDataFrame([("a", 14, 20, 5.0)], "g string, s int, e int, v double")
    rolled = rollup_regular(x, ("s", "e"), ("v",), ("g",), width=7)
    filled = gap_fill_locf(rolled, ("v",), ("g",), width=7, span=(0, 20)).orderBy("period")
    rows = filled.collect()
    assert rows[0]["v_filled"] is None and rows[0]["gap_filled"]
    assert rows[2]["v_filled"] == 5.0


@pytest.mark.parametrize(
    "fill", [gap_fill_locf, gap_fill_interpolate], ids=lambda f: f.__name__
)
def test_gap_fill_empty_input_keeps_the_output_columns(spark, fill):
    # an empty batch with no span gets the same columns and types as a
    # non-empty one, so a downstream select of the filled columns works
    x = spark.createDataFrame(
        [("a", 0, 6, 10.0), ("a", 21, 27, 20.0)], "g string, s int, e int, v double"
    )
    rolled = rollup_regular(x, ("s", "e"), ("v",), ("g",), width=7)
    full = fill(rolled, ("v",), ("g",), width=7)
    empty = fill(rolled.filter(F.lit(False)), ("v",), ("g",), width=7)
    assert empty.dtypes == full.dtypes
    assert empty.count() == 0


def test_group_encoders_exact_and_guarded(spark, tok):
    """Expression-encoded group keys: identical output; non-1:1 encoder
    must raise, not silently merge groups (decode-join fanout guard)."""
    enc = {"source": F.substring("source", 5, 3).cast("int")}
    kw = dict(width=24, required_percentage=0.0)
    a = rollup_regular(tok, ("start_hour", "end_hour"), ("n_tok",), ("source",), **kw)
    b = rollup_regular(
        tok, ("start_hour", "end_hour"), ("n_tok",), ("source",),
        group_encoders=enc, **kw,
    )
    ra = sorted(map(tuple, a.collect()))
    assert ra == sorted(map(tuple, b.collect()))
    with pytest.raises(Exception, match="1:1"):
        rollup_regular(
            tok, ("start_hour", "end_hour"), ("n_tok",), ("source",),
            width=24, partial=True, group_encoders={"source": F.lit(1)},
        ).count()
    with pytest.raises(RoleValidationError, match="'h'"):
        rollup_regular(
            tok, ("start_hour", "end_hour"), ("n_tok",), ("source",),
            width=24, group_encoders={"h": F.lit(1)},
        )


def test_sweep_algorithm_parity(spark, tok):
    """Boundary-sweep backend == explode backend, width 1, both encodes,
    null values, negative origin."""
    for kwargs in (dict(), dict(group_encoders={"source": F.substring("source", 5, 3).cast("int")})):
        a = rollup_regular(
            tok, ("start_hour", "end_hour"), ("n_tok",), ("source",),
            width=1, partial=True, **kwargs,
        )
        b = rollup_regular(
            tok, ("start_hour", "end_hour"), ("n_tok",), ("source",),
            width=1, partial=True, algorithm="sweep", **kwargs,
        )
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    x = spark.createDataFrame(
        [("a", -5, 3, None), ("a", 1, 7, 2.0), ("b", 0, 0, 1.5)],
        "g string, s int, e int, v double",
    )
    p = rollup_regular(x, ("s", "e"), ("v",), ("g",), width=1, partial=True, origin=-10)
    q = rollup_regular(
        x, ("s", "e"), ("v",), ("g",), width=1, partial=True, origin=-10,
        algorithm="sweep",
    )
    assert sorted(map(tuple, p.collect())) == sorted(map(tuple, q.collect()))


def test_encode_paths_keep_null_group_keys(spark):
    """NULL group keys are legal groups (tests.R:564-580); the decode
    join must be null-safe, not name-based equality (which drops them)."""
    x = spark.createDataFrame(
        [(None, 0, 5, 10.0), ("a", 0, 5, 20.0), (None, 6, 11, 30.0)],
        "g string, s int, e int, v double",
    )
    plain = rollup_regular(x, ("s", "e"), ("v",), ("g",), width=6,
                           required_percentage=0.0)
    key = lambda t: tuple((v is None, v) for v in t)
    pa = sorted(map(tuple, plain.collect()), key=key)
    assert any(r[0] is None for r in pa)  # the NULL group survived
    # group_encoders whose expression yields NULL for some group: the
    # encoded NULL key must aggregate and decode, not vanish
    withnull = rollup_regular(
        x, ("s", "e"), ("v",), ("g",), width=6, required_percentage=0.0,
        group_encoders={"g": F.when(F.col("g") == "a", 1)},
    )
    assert sorted(map(tuple, withnull.collect()), key=key) == pa


def test_rollup_endpoint_validation(spark):
    """NULL / reversed endpoints raise instead of silently dropping or
    mis-aggregating (parity with interval_weighted_avg's errors)."""
    for algorithm in ("explode", "sweep"):
        bad_null = spark.createDataFrame(
            [("a", 0, None, 1.0)], "g string, s int, e int, v double"
        )
        with pytest.raises(Exception, match="non-NULL|end >= start"):
            rollup_regular(bad_null, ("s", "e"), ("v",), ("g",), width=1,
                           partial=True, algorithm=algorithm).count()
        bad_rev = spark.createDataFrame(
            [("a", 9, 3, 1.0)], "g string, s int, e int, v double"
        )
        with pytest.raises(Exception, match="non-NULL|end >= start"):
            rollup_regular(bad_rev, ("s", "e"), ("v",), ("g",), width=1,
                           partial=True, algorithm=algorithm).count()
        # opt-out for pre-validated hot paths: NULL rows drop silently
        ok = rollup_regular(bad_null, ("s", "e"), ("v",), ("g",), width=1,
                            partial=True, algorithm=algorithm, validate=False)
        assert ok.count() == 0


def test_group_dim_supplied_matches_and_guards(spark, tok):
    """A caller-supplied decode dim (kills the fallback distinct scan of
    the source) must produce identical output — and an INCOMPLETE dim
    must raise, not silently drop groups."""
    enc = {"source": F.substring("source", 5, 3).cast("int")}
    kw = dict(width=24, required_percentage=0.0, group_encoders=enc)
    full_dim = spark.range(11).selectExpr("concat('src_', id) AS source")
    a = rollup_regular(tok, ("start_hour", "end_hour"), ("n_tok",), ("source",), **kw)
    b = rollup_regular(tok, ("start_hour", "end_hour"), ("n_tok",), ("source",),
                       group_dim=full_dim, **kw)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    bad_dim = spark.range(2).selectExpr("concat('src_', id) AS source")
    for algorithm in ("explode", "sweep"):
        with pytest.raises(Exception, match="group_dim is missing"):
            # collect, not count: count() prunes every column expression
            # (the guard is threaded through `period`); rows are never
            # silently dropped either way — the decode is a LEFT join
            rollup_regular(
                tok, ("start_hour", "end_hour"), ("n_tok",), ("source",),
                width=1 if algorithm == "sweep" else 24,
                partial=True, group_encoders=enc, group_dim=bad_dim,
                algorithm=algorithm,
            ).collect()


def test_gap_fill_interpolate_linear_and_boundaries(spark):
    """Linear interpolation between neighbors; NULL outside the
    observed range; observed periods keep their own value."""
    import pandas as pd

    from timeperiods_spark.operators.rollup import gap_fill_interpolate

    pdf = pd.DataFrame(
        {
            "g": ["a"] * 3 + ["b"] * 2,
            "period": [2, 5, 8, 3, 4],
            "start": [2, 5, 8, 3, 4],
            "end": [2, 5, 8, 3, 4],
            "v": [10.0, 40.0, 10.0, 7.0, None],
            "xduration": [1, 1, 1, 1, 0],
        }
    )
    out = gap_fill_interpolate(
        spark.createDataFrame(pdf), ["v"], ["g"], width=1, span=(0, 9)
    )
    rows = {(r["g"], r["period"]): r["v_interp"] for r in out.collect()}
    assert rows[("a", 2)] == 10.0 and rows[("a", 5)] == 40.0
    assert rows[("a", 3)] == 20.0 and rows[("a", 4)] == 30.0  # rising leg
    assert rows[("a", 6)] == 30.0 and rows[("a", 7)] == 20.0  # falling leg
    assert rows[("a", 0)] is None and rows[("a", 9)] is None  # no extrapolation
    assert rows[("b", 3)] == 7.0
    assert rows[("b", 2)] is None and rows[("b", 5)] is None
    assert rows[("b", 4)] is None  # single observation: no second anchor


def test_gap_fill_interpolate_crosses_buckets(spark):
    """Interpolation across a long gap spanning many carry buckets."""
    import pandas as pd

    from timeperiods_spark.operators.rollup import gap_fill_interpolate

    pdf = pd.DataFrame(
        {
            "g": ["s"] * 2,
            "period": [0, 1000],
            "start": [0, 1000],
            "end": [0, 1000],
            "v": [0.0, 1000.0],
            "xduration": [1, 1],
        }
    )
    out = gap_fill_interpolate(
        spark.createDataFrame(pdf), ["v"], ["g"], width=1, span=(0, 1000)
    )
    rows = {r["period"]: r["v_interp"] for r in out.collect()}
    assert len(rows) == 1001
    for p in (1, 250, 499, 500, 750, 999):
        assert rows[p] == float(p), (p, rows[p])


def test_extra_stats_variance_exact_and_cascade_additive(spark):
    """sumsq partials: (a) explode == sweep == brute-force weighted
    variance at width 1, (b) daily variance derived from hourly
    partials via cascade == daily variance computed from raw data."""
    import pyspark.sql.functions as F

    from timeperiods_spark.operators.rollup import (
        cascade,
        finalize_rollup,
        rollup_regular,
    )
    from timeperiods_spark.sources.tokens import token_table

    t = token_table(spark, 800)
    kw = dict(width=1, partial=True, extra_stats=True)
    a = rollup_regular(t, ("start_hour", "end_hour"), ("n_tok",), ("source",), **kw)
    b = rollup_regular(
        t, ("start_hour", "end_hour"), ("n_tok",), ("source",),
        algorithm="sweep", **kw,
    )
    ka = {(r["source"], r["period"]): (r["sumsq_n_tok"], r["sumprod_n_tok"])
          for r in a.collect()}
    kb = {(r["source"], r["period"]): (r["sumsq_n_tok"], r["sumprod_n_tok"])
          for r in b.collect()}
    assert ka.keys() == kb.keys()
    for k in ka:
        assert ka[k][0] == pytest.approx(kb[k][0], rel=1e-12)

    daily_from_cascade = finalize_rollup(
        cascade(a, ("n_tok",), ("source",), fine_width=1, coarse_width=24),
        ("n_tok",), ("source",), width=24, required_percentage=0.0,
    )
    daily_direct = finalize_rollup(
        rollup_regular(
            t, ("start_hour", "end_hour"), ("n_tok",), ("source",),
            width=24, partial=True, extra_stats=True,
        ),
        ("n_tok",), ("source",), width=24, required_percentage=0.0,
    )
    da = {(r["source"], r["period"]): r["n_tok_var"] for r in daily_from_cascade.collect()}
    db = {(r["source"], r["period"]): r["n_tok_var"] for r in daily_direct.collect()}
    assert da.keys() == db.keys() and len(da) > 50
    for k in da:
        assert da[k] == pytest.approx(db[k], rel=1e-9, abs=1e-9)
    # spot-check against a brute-force weighted variance for one key
    some = next(iter(sorted(da)))
    src, per = some
    cells = (
        t.filter(F.col("source") == src)
        .select(
            F.explode(F.sequence("start_hour", "end_hour")).alias("h"),
            F.col("n_tok").cast("double").alias("v"),
        )
        .filter((F.col("h") >= per * 24) & (F.col("h") < (per + 1) * 24))
    )
    stats = cells.agg(
        (F.sum(F.col("v") * F.col("v")) / F.count("v")
         - F.pow(F.sum("v") / F.count("v"), 2)).alias("var")
    ).first()
    assert da[some] == pytest.approx(stats["var"], rel=1e-9)


def test_cross_stats_covariance_exact_and_cascade(spark):
    """sumxy partials: explode == sweep, cascade-exact, and equal to a
    brute-force time-weighted covariance on one (source, day)."""
    import pyspark.sql.functions as F

    from timeperiods_spark.operators.rollup import (
        cascade,
        finalize_rollup,
        rollup_regular,
    )
    from timeperiods_spark.sources.tokens import token_table

    t = token_table(spark, 500).withColumn(
        "m", (F.col("n_tok") % 97).cast("double")
    )
    kw = dict(width=1, partial=True, cross_stats=[("n_tok", "m")])
    a = rollup_regular(t, ("start_hour", "end_hour"), ("n_tok", "m"), ("source",), **kw)
    b = rollup_regular(
        t, ("start_hour", "end_hour"), ("n_tok", "m"), ("source",),
        algorithm="sweep", **kw,
    )
    ka = {(r["source"], r["period"]): (r["sumxy_n_tok_m"], r["nobsxy_n_tok_m"])
          for r in a.collect()}
    kb = {(r["source"], r["period"]): (r["sumxy_n_tok_m"], r["nobsxy_n_tok_m"])
          for r in b.collect()}
    assert ka.keys() == kb.keys()
    for k in ka:
        assert ka[k][1] == kb[k][1]
        assert ka[k][0] == pytest.approx(kb[k][0], rel=1e-12)

    daily_c = finalize_rollup(
        cascade(a, ("n_tok", "m"), ("source",), fine_width=1, coarse_width=24),
        ("n_tok", "m"), ("source",), width=24, required_percentage=0.0,
    )
    daily_d = finalize_rollup(
        rollup_regular(
            t, ("start_hour", "end_hour"), ("n_tok", "m"), ("source",),
            width=24, partial=True, cross_stats=[("n_tok", "m")],
        ),
        ("n_tok", "m"), ("source",), width=24, required_percentage=0.0,
    )
    da = {(r["source"], r["period"]): r["cov_n_tok_m"] for r in daily_c.collect()}
    db = {(r["source"], r["period"]): r["cov_n_tok_m"] for r in daily_d.collect()}
    assert da.keys() == db.keys() and len(da) > 50
    for k in da:
        assert da[k] == pytest.approx(db[k], rel=1e-9, abs=1e-9)

    src, per = sorted(da)[0]
    cells = (
        t.filter(F.col("source") == src)
        .select(
            F.explode(F.sequence("start_hour", "end_hour")).alias("h"),
            F.col("n_tok").cast("double").alias("x"),
            F.col("m").alias("y"),
        )
        .filter((F.col("h") >= per * 24) & (F.col("h") < (per + 1) * 24))
    )
    st = cells.agg(
        (F.sum(F.col("x") * F.col("y")) / F.count("x")
         - (F.sum("x") / F.count("x")) * (F.sum("y") / F.count("y"))).alias("cov")
    ).first()
    assert da[(src, per)] == pytest.approx(st["cov"], rel=1e-9)


def test_cross_stats_ambiguous_names_rejected(spark):
    import pyspark.sql.functions as F

    from timeperiods_spark.errors import RoleValidationError
    from timeperiods_spark.operators.rollup import rollup_regular

    df = spark.createDataFrame(
        [(0, 1, 1.0, 2.0, 3.0)], "s int, e int, x double, y_z double, x_y double"
    ).withColumn("z", F.lit(4.0))
    with pytest.raises(RoleValidationError):
        rollup_regular(
            df, ("s", "e"), ("x", "y_z", "x_y", "z"), None, width=1,
            partial=True, cross_stats=[("x_y", "z")],
        )


def test_covariance_respects_required_percentage(spark):
    """A period failing the coverage requirement must report NULL for
    mean, variance, AND covariance together (round-4 ADVICE: cov was
    only guarded by nobsxy > 0, so an under-covered period reported a
    NULL mean with a non-NULL covariance)."""
    import pyspark.sql.functions as F

    from timeperiods_spark.operators.rollup import finalize_rollup, rollup_regular

    # one interval covering 6 of 24 hours of day 0: 25% coverage
    t = spark.createDataFrame(
        [("s", 0, 5, 10.0, 3.0)],
        "source string, start_hour int, end_hour int, a double, b double",
    )
    partials = rollup_regular(
        t, ("start_hour", "end_hour"), ("a", "b"), ("source",),
        width=24, partial=True, cross_stats=[("a", "b")],
        extra_stats=["variance"],
    )
    strict = finalize_rollup(
        partials, ("a", "b"), ("source",), width=24, required_percentage=50.0
    ).collect()[0]
    assert strict["a"] is None and strict["b"] is None
    assert strict["a_var"] is None
    assert strict["cov_a_b"] is None
    loose = finalize_rollup(
        partials, ("a", "b"), ("source",), width=24, required_percentage=25.0
    ).collect()[0]
    assert loose["a"] == pytest.approx(10.0)
    assert loose["cov_a_b"] == pytest.approx(0.0)
