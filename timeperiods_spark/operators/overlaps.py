"""Interval decomposition and overlap utilities.

``remove_overlaps`` reimplements the reference's endpoint sweep
(/root/reference/timeperiod_functions.R:527-588): melt interval
endpoints into an ordered event stream, reconstruct the atomic
(non-overlapping) partition of each group's time axis with a window
lead, and range-join the originals back on so each atomic piece is
tagged with every original interval covering it. It is the
preprocessing step that turns overlapping raw measurements into legal
``interval_weighted_avg`` input (reference pipeline tests.R:433-470).

Spark-first shape: the melt is a union of two projections, the sweep is
a single window (one shuffle by group), and the join-back reuses the
pluggable range-join strategies — every step is a native DataFrame op.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Row, Window, functions as F
from pyspark.sql import types as T

from ..errors import IntervalValidationError, OverlapError, RoleValidationError
from ..plans.strategy import build_overlap_pairs, request_stats
from .interval_avg import _grid, _is_intervalish, _ungrid


def _normalize(
    x: DataFrame, interval_vars: Sequence[str], group_vars: Sequence[str]
):
    if len(interval_vars) != 2:
        raise RoleValidationError("interval_vars must name exactly (start, end)")
    missing = [c for c in list(interval_vars) + list(group_vars) if c not in x.columns]
    if missing:
        raise RoleValidationError(f"columns {missing} not present in x")
    xf = {f.name: f.dataType for f in x.schema.fields}
    s_t, e_t = xf[interval_vars[0]], xf[interval_vars[1]]
    if not (_is_intervalish(s_t) and _is_intervalish(e_t)):
        raise IntervalValidationError("interval_vars must be integer or date columns")
    if isinstance(s_t, T.DateType) != isinstance(e_t, T.DateType):
        raise IntervalValidationError("interval_vars must share a class")
    return s_t


def _lead_with_boundary_handoff(
    melted: DataFrame, gcols: Sequence[str], bounds_hint: tuple, group_count_hint: int
) -> DataFrame:
    """lead(__is_end), lead(__val) over (gcols…, __val, __is_end) order
    WITHOUT a per-group window: bucket the value axis deterministically,
    lead within (group, bucket), stitch bucket boundaries from each
    bucket's first row.

    Buckets are ``floor((val - lo) / W)`` with W derived from the
    observed value range — purely a function of the ROW, unlike
    spark_partition_id over a range exchange, whose sampled boundaries
    can differ between the jobs that compute the handoff and the main
    result. The shared plans/carry.py machinery owns the bucketing,
    the tiny per-(group, bucket) handoff frame, and the broadcast
    stitch — and guards by group cardinality (many groups → per-group
    windows, no handoff frame at all). Rows whose true lead is absent
    (each group's final event) are filtered, matching the plain-window
    formulation. Given the hints, planning runs no action; an empty or
    all-NULL stream flows through and yields no rows."""
    from ..plans.carry import attach_carry, plan_buckets

    gcols = list(gcols)
    plan = plan_buckets(
        melted, gcols, "__val",
        bounds_hint=bounds_hint, group_count_hint=group_count_hint,
    )
    # forward handoff: each bucket's lead comes from the group's NEXT
    # non-empty bucket's first row. The (val, is_end) pair is packed
    # into ONE long — 2*val + is_end — which orders identically
    # (strictly monotone in the (val, is_end) lexicographic order) but
    # keeps the bucket aggregate a plain min(long): min over a STRUCT
    # is not hash-aggregable in Spark and planned as a SortAggregate,
    # i.e. a full sort of the melted event stream just to build the
    # tiny handoff frame (measured in the r6 remove_overlaps plan).
    # Unpack via shiftright (floor-div-2, exact for negatives) and
    # bit 0. Bound: |val| < 2^62 or the *2 trips ANSI overflow — far
    # above the engine's stated exact grid range.
    packed = F.col("__val") * F.lit(2) + F.col("__is_end").cast("long")
    stitched = attach_carry(
        plan,
        [F.min(packed).alias("__fp")],
        lambda wg: [F.lead("__fp").over(wg).alias("__hp")],
    )
    h_end = F.when(
        F.col("__hp").isNotNull(), F.col("__hp").bitwiseAND(F.lit(1)) == 1
    )
    h_val = F.shiftright(F.col("__hp"), 1)
    w = Window.partitionBy(*gcols, "__bk").orderBy("__val", "__is_end")
    out = stitched.select(
        *gcols,
        "__val",
        "__is_end",
        F.coalesce(F.lead("__is_end").over(w), h_end).alias("__next_end"),
        F.coalesce(F.lead("__val").over(w), h_val).alias("__next_val"),
    )
    return out.filter(F.col("__next_end").isNotNull())


def remove_overlaps(
    x: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    join_strategy: str = "bin",
    bin_width: Optional[int] = None,
    keep_values: bool = True,
    cache: bool = True,
) -> DataFrame:
    """Decompose possibly-overlapping intervals into atomic pieces.

    Returns one row per (atomic piece, original interval overlapping
    it): columns ``group_vars…, interval_vars… (the atomic piece),
    o_<start>, o_<end> (the original interval), <payload columns…>``.
    The reference names the original columns ``o.start``/``o.end``
    (timeperiod_functions.R:584); Spark column names with dots require
    backtick quoting everywhere, so this engine uses ``o_`` —
    a deliberate, documented deviation.

    ``keep_values=True`` (default) carries every non-key x column
    through, matching the reference's ``foverlaps(x, temp)`` which
    keeps all x columns — so callers never need a join-back on
    (group, o_start, o_end), which would double-count when x holds
    duplicate intervals. Pass ``keep_values=False`` to shuffle only the
    keys when the payload is wide and unneeded.

    ``join_strategy`` defaults to the bucketized bin join, NOT
    group_equi: the decomposition is typically applied to dense
    low-cardinality panels where an equi-only join degenerates into a
    per-group cartesian product (each group's originals x its atomic
    pieces). The bin join keeps candidate pairs local to a time bucket
    regardless of group cardinality. Pass ``group_equi`` only for
    high-cardinality, short-panel groups.
    """
    group_vars = list(group_vars or [])
    ivl_dtype = _normalize(x, interval_vars, group_vars)
    n_g = len(group_vars)
    gcols = [f"__g{i}" for i in range(n_g)]
    ygcols = [f"__yg{i}" for i in range(n_g)]

    payload = (
        [c for c in x.columns if c not in group_vars and c not in interval_vars]
        if keep_values
        else []
    )
    o_names = {f"o_{interval_vars[0]}", f"o_{interval_vars[1]}"}
    clash = [c for c in payload if c in o_names]
    if clash:
        raise RoleValidationError(
            f"columns {clash} collide with the output's o_-prefixed "
            "original-interval columns; rename them (the reference "
            "rejects i.-prefixed inputs the same way, "
            "timeperiod_functions.R:534-539)"
        )

    xf = {f.name: f.dataType for f in x.schema.fields}
    base = x.select(
        *[F.col(g).alias(gc) for g, gc in zip(group_vars, gcols)],
        _grid(interval_vars[0], xf[interval_vars[0]]).alias("__xs"),
        _grid(interval_vars[1], xf[interval_vars[1]]).alias("__xe"),
        *[F.col(c).alias(f"__p{i}") for i, c in enumerate(payload)],
    )
    # base feeds four subtrees (the stats pass, per-bucket leads, bucket
    # firsts, and the join-back): persist so the upstream input is
    # computed once — at corpus scale it's (groups, 2 longs, payload)
    # per interval, spilling to disk if needed. Managed: a repeat call
    # releases the previous call's frame, so long-lived sessions hold
    # at most one cached melt (cache=False opts out entirely).
    if cache:
        from ..plans.cachectl import managed_persist_percall

        base = managed_persist_percall(base, "remove_overlaps.base", keep=2)

    # one planning pass (base not shuffled) bounds the sweep over starts
    # AND ends and sizes the join-back (bin width ≈ p90 original length)
    stats = request_stats(base, None, n_g, distinct=False)
    x = stats.x

    # O21 — melt endpoints into a long event stream
    melted = base.select(*gcols, F.col("__xs").alias("__val"), F.lit(False).alias("__is_end")).unionByName(
        base.select(*gcols, F.col("__xe").alias("__val"), F.lit(True).alias("__is_end"))
    )

    # O22 — order (value, is_end) within group; lead flag + value.
    # False sorts before True, so a start at value v precedes an end at v,
    # matching the reference's setorderv (timeperiod_functions.R:559).
    #
    # Parallelism: a window partitioned by the group columns caps the
    # sweep at ONE TASK PER GROUP (and one task total when ungrouped) —
    # a dense 5-group panel would serialize the whole event stream.
    # Instead the lead() runs within (group…, value-bucket) and bucket
    # boundaries are stitched from a tiny per-bucket handoff frame
    # (_lead_with_boundary_handoff, built on plans/carry.py).
    swept = _lead_with_boundary_handoff(melted, gcols, (x.lo or 0, x.hi or 0), x.groups)

    # O23 — boundary reconstruction (timeperiod_functions.R:568-573):
    # piece start = value at a start-point, value+1 after an end-point;
    # piece end = next_value-1 before a start-point, next_value at an end.
    atomic = swept.select(
        *gcols,
        F.when(~F.col("__is_end"), F.col("__val")).otherwise(F.col("__val") + 1).alias("__as"),
        F.when(~F.col("__next_end"), F.col("__next_val") - 1).otherwise(F.col("__next_val")).alias("__ae"),
    ).filter(F.col("__ae") >= F.col("__as"))

    # O24 — tag each atomic piece with every original interval covering
    # it. Reuse the range-join strategies: originals are the x side,
    # atomic pieces the y side.
    yw = atomic.select(
        *[F.col(g).alias(yg) for g, yg in zip(gcols, ygcols)],
        F.col("__as").alias("__ys"),
        F.col("__ae").alias("__ye"),
    )
    # <= 2 atomic pieces per original: ny is exact, trusted (no recheck)
    pairs = build_overlap_pairs(
        base, yw, n_g, strategy=join_strategy, bin_width=bin_width,
        auto_stats=replace(stats, y=Row(n=2 * x.n)),
    )

    out = pairs.select(
        *[F.col(yg).alias(orig) for yg, orig in zip(ygcols, group_vars)],
        _ungrid(F.col("__ys"), ivl_dtype).alias(interval_vars[0]),
        _ungrid(F.col("__ye"), ivl_dtype).alias(interval_vars[1]),
        _ungrid(F.col("__xs"), ivl_dtype).alias(f"o_{interval_vars[0]}"),
        _ungrid(F.col("__xe"), ivl_dtype).alias(f"o_{interval_vars[1]}"),
        *[F.col(f"__p{i}").alias(c) for i, c in enumerate(payload)],
    )
    return out


def check_no_overlaps(
    x: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    raise_on_overlap: bool = True,
) -> bool:
    """True when intervals are strictly non-overlapping within groups.

    Window-scan formulation of the reference's self-``foverlaps``
    assertion (timeperiod_functions.R:213-220): within each group sorted
    by (start, end), some row overlaps a predecessor iff some row
    overlaps its immediate predecessor (closed intervals — a touching
    endpoint IS an overlap). No join.
    """
    group_vars = list(group_vars or [])
    _normalize(x, interval_vars, group_vars)
    xf = {f.name: f.dataType for f in x.schema.fields}
    gcols = [f"__g{i}" for i in range(len(group_vars))]
    base = x.select(
        *[F.col(g).alias(gc) for g, gc in zip(group_vars, gcols)],
        _grid(interval_vars[0], xf[interval_vars[0]]).alias("__xs"),
        _grid(interval_vars[1], xf[interval_vars[1]]).alias("__xe"),
    )
    # bucketed adjacency scan (interval_avg._overlap_scan): parallelism
    # independent of group cardinality
    from .interval_avg import _overlap_scan

    n_bad = _overlap_scan(base, gcols).first()["ovl"]
    if n_bad and raise_on_overlap:
        raise OverlapError("overlapping intervals within groups")
    return n_bad == 0


def running_max(
    df: DataFrame,
    col: str,
    order_by: Sequence[str],
    group_by: Optional[Sequence[str]] = None,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Running (cumulative) max — generalizes the reference's
    ``cummax.Date`` (timeperiod_functions.R:52) to any orderable column,
    grouped. Works on dates natively (no int round-trip needed).

    When the leading order column is numeric/date, the scan runs within
    (group…, order-bucket) with a per-bucket max carried in from
    earlier buckets (plans/carry.py) — so one huge group, or the
    ungrouped case, no longer serializes into a single window task.
    Equal leading-order values always share a bucket (the bucket is a
    pure function of that value), so the carry is exact.

    A non-bucketable leading order type (string, decimal, …) falls back
    to plain per-group windows, whose parallelism is the number of
    groups — fine for a real panel, but UNGROUPED it would be a single
    task over the whole frame, so that combination raises: provide an
    integer/date leading order column (e.g. a precomputed sort key) or
    group the scan.
    """
    group_by = list(group_by or [])
    order_by = list(order_by)
    out_name = out_col or f"{col}_cummax"
    lead_t = order_by[0] if isinstance(order_by[0], str) else None
    lead_type = (
        df.schema[lead_t].dataType.simpleString() if lead_t is not None else ""
    )
    bucketable = lead_type in (
        "tinyint", "smallint", "int", "bigint", "date",
    )
    if not bucketable:
        if not group_by:
            raise RoleValidationError(
                "running_max: ungrouped scan with a non-bucketable "
                f"leading order column ({lead_type or 'expression'}) "
                "would run as ONE window task over the whole frame. "
                "Provide an integer/date leading order column (a "
                "precomputed sort key) or pass group_by."
            )
        # grouped: per-group windows — parallelism = number of groups,
        # the standard many-group shape the carry planner also picks
        w = Window.partitionBy(*group_by).orderBy(*order_by).rowsBetween(
            Window.unboundedPreceding, 0
        )
        return df.withColumn(out_name, F.max(col).over(w))

    from ..plans.carry import attach_carry, plan_buckets

    grid_t = "__rm_t"
    # DATE->BIGINT casts are forbidden (ANSI); unix_date gives the
    # epoch-day grid the bucket function needs
    t_expr = (
        F.unix_date(F.col(lead_t)).cast("long")
        if lead_type == "date"
        else F.col(lead_t).cast("long")
    )
    base = df.withColumn(grid_t, t_expr)
    plan = plan_buckets(base, group_by, grid_t)
    if plan.empty:
        return df.withColumn(out_name, F.max(col).over(
            Window.partitionBy(*(group_by or [F.lit(1)])).orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, 0)
        ))
    stitched = attach_carry(
        plan,
        [F.max(col).alias("__bmax")],
        lambda wg: [
            F.max("__bmax")
            .over(wg.rowsBetween(Window.unboundedPreceding, -1))
            .alias("__carry_max")
        ],
    )
    w = Window.partitionBy(*group_by, "__bk").orderBy(*order_by).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return stitched.withColumn(
        out_name, F.greatest(F.max(col).over(w), F.col("__carry_max"))
    ).drop("__bk", grid_t, "__carry_max")


def overlap_join(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    how: str = "inner",
    join_strategy: str = "auto",
    bin_width: Optional[int] = None,
    skew_salt: Optional[int] = None,
    join_stats: Optional[tuple] = None,
    suffixes: tuple = ("_x", "_y"),
) -> DataFrame:
    """The reference's ``foverlaps`` as a public operator: one row per
    (x row, y row) pair whose CLOSED intervals overlap within equal
    (null-safe) group keys — reference timeperiod_functions.R:239-240
    semantics, exposed directly instead of only inside the rollup.

    Payload columns from both sides carry through (name collisions get
    ``suffixes``); the interval columns come back as
    ``<start><suffixes[0]>``/... per side plus ``overlap_start``,
    ``overlap_end``, ``overlap_duration`` (closed-grid clip, in the
    interval columns' own type for dates). ``how="left"`` keeps
    unmatched x rows with NULL y columns (data.table's ``nomatch=NA``).

    Physical strategy is the same four-way plan the rollup uses
    (`group_equi` / broadcasts / bucketized `bin` / data-aware
    ``auto``) — a pure theta join would run as a nested loop.
    """
    group_vars = list(group_vars or [])
    if how not in ("inner", "left"):
        raise RoleValidationError("how must be 'inner' or 'left'")
    for side, df in (("x", x), ("y", y)):
        missing = [c for c in (*interval_vars, *group_vars)
                   if c not in df.columns]
        if missing:
            raise RoleValidationError(f"{side} is missing columns {missing}")
    s_col, e_col = interval_vars
    xf = {f.name: f.dataType for f in x.schema.fields}
    yf = {f.name: f.dataType for f in y.schema.fields}
    dtype = xf[s_col]

    n_g = len(group_vars)
    gcols = [f"__g{i}" for i in range(n_g)]
    ygcols = [f"__yg{i}" for i in range(n_g)]
    x_pay = [c for c in x.columns if c not in (*interval_vars, *group_vars)]
    y_pay = [c for c in y.columns if c not in (*interval_vars, *group_vars)]

    xw = x.select(
        *[F.col(g).alias(gc) for g, gc in zip(group_vars, gcols)],
        _grid(s_col, xf[s_col]).alias("__xs"),
        _grid(e_col, xf[e_col]).alias("__xe"),
        *[F.col(c).alias(f"__xp{i}") for i, c in enumerate(x_pay)],
    )
    yw = y.select(
        *[F.col(g).alias(gc) for g, gc in zip(group_vars, ygcols)],
        _grid(s_col, yf[s_col]).alias("__ys"),
        _grid(e_col, yf[e_col]).alias("__ye"),
        *[F.col(c).alias(f"__yp{i}") for i, c in enumerate(y_pay)],
    )
    pairs = build_overlap_pairs(
        xw, yw, n_g,
        strategy=join_strategy, bin_width=bin_width,
        skew_salt=skew_salt, auto_stats=join_stats, how=how,
    )

    def _out_name(c: str, taken: set, suffix: str) -> str:
        return c + suffix if c in taken else c

    x_names = {*x_pay, *group_vars}
    y_names = {*y_pay}
    sx, sy = suffixes

    # how="left": unmatched x rows reach here with NULL __ys/__ye (the
    # strategy layer preserves x inside the join itself — no anti join,
    # no second scan of x; same completion shape as the rollup's O10,
    # interval_avg.py). greatest/least IGNORE NULLs (they'd fabricate
    # overlap bounds from the x side alone), so the clip columns are
    # NULL-guarded on the unmatched sentinel.
    unmatched = F.col("__ys").isNull()

    def _clip(expr, out_type):
        if how == "inner":
            return expr.cast(out_type) if out_type == "long" else expr
        guarded = F.when(unmatched, F.lit(None)).otherwise(expr)
        return guarded.cast(out_type) if out_type == "long" else guarded

    # interval columns always suffixed per side (they collide by
    # construction)
    cols = [
        *[F.col(gc).alias(g) for g, gc in zip(group_vars, ygcols)],
        _ungrid(F.col("__xs"), dtype).alias(f"{s_col}{sx}"),
        _ungrid(F.col("__xe"), dtype).alias(f"{e_col}{sx}"),
        _ungrid(F.col("__ys"), dtype).alias(f"{s_col}{sy}"),
        _ungrid(F.col("__ye"), dtype).alias(f"{e_col}{sy}"),
        *[
            F.col(f"__xp{i}").alias(_out_name(c, y_names, sx))
            for i, c in enumerate(x_pay)
        ],
        *[
            F.col(f"__yp{i}").alias(_out_name(c, x_names, sy))
            for i, c in enumerate(y_pay)
        ],
        _clip(_ungrid(F.greatest("__xs", "__ys"), dtype), "any")
        .alias("overlap_start"),
        _clip(_ungrid(F.least("__xe", "__ye"), dtype), "any")
        .alias("overlap_end"),
        _clip(
            F.least("__xe", "__ye") - F.greatest("__xs", "__ys") + F.lit(1),
            "long",
        ).alias("overlap_duration"),
    ]
    return pairs.select(*cols)
