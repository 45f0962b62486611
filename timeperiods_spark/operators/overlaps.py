"""Interval decomposition and overlap utilities.

``remove_overlaps`` reimplements the reference's endpoint sweep
(/root/reference/timeperiod_functions.R:527-588): melt interval
endpoints into an ordered event stream, reconstruct the atomic
(non-overlapping) partition of each group's time axis with a window
lead, and range-join the originals back on so each atomic piece is
tagged with every original interval covering it. It is the
preprocessing step that turns overlapping raw measurements into legal
``interval_weighted_avg`` input (reference pipeline tests.R:433-470).

Spark-first shape: grouped input whose largest group fits
``plans.strategy.AUTO_SWEEP_ROWS`` runs as the grouped Arrow sweep
(plans/kernel.py), one ``mapInArrow`` call per partition. Otherwise the
melt is a union of two projections, the sweep is a single window (one
shuffle by group), and the join-back reuses the pluggable range-join
strategies — every step is native Spark SQL, built as one projection per
stage from expression strings (plans/sql.py).
"""

from __future__ import annotations

from dataclasses import replace
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Row, Window, functions as F
from pyspark.sql import types as T

from ..errors import IntervalValidationError, OverlapError, RoleValidationError
from ..plans.sql import ident, sql
from ..plans.kernel import arrow_ok, pieces_sweep, sweepable
from ..plans.strategy import (
    build_overlap_pairs,
    check_strategy,
    group_sizes,
    request_stats,
    sweep_fits,
)
from .interval_avg import _fields, _grid, _is_intervalish, _ungrid


def _normalize(xf: dict, interval_vars: Sequence[str], group_vars: Sequence[str]):
    """Validate the roles against x's field map; the interval dtype."""
    if len(interval_vars) != 2:
        raise RoleValidationError("interval_vars must name exactly (start, end)")
    missing = [c for c in list(interval_vars) + list(group_vars) if c not in xf]
    if missing:
        raise RoleValidationError(f"columns {missing} not present in x")
    s_t, e_t = xf[interval_vars[0]], xf[interval_vars[1]]
    if not (_is_intervalish(s_t) and _is_intervalish(e_t)):
        raise IntervalValidationError("interval_vars must be integer or date columns")
    if isinstance(s_t, T.DateType) != isinstance(e_t, T.DateType):
        raise IntervalValidationError("interval_vars must share a class")
    return s_t


def _atomic_pieces(
    base: DataFrame, gcols: Sequence[str], bounds_hint: tuple, group_count_hint: int
) -> DataFrame:
    """The atomic pieces of ``base``'s intervals as a y frame (``__yg*,
    __ys, __ye``): melt (O21), sweep (O22) and boundary reconstruction
    (O23).

    The sweep leads (is_end, value) over (gcols…, value, is_end) order
    WITHOUT a per-group window — a window partitioned by the group
    columns caps the sweep at ONE TASK PER GROUP (one task total when
    ungrouped), so a dense 5-group panel would serialize the whole
    event stream. Instead it buckets the value axis deterministically,
    leads within (group, bucket), and stitches bucket boundaries from
    each bucket's first row.

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
    from ..plans.carry import Carry, attach_carry, plan_buckets

    gcols = list(gcols)
    keys = "".join(f"{g}, " for g in gcols)
    melted = sql(
        f"""SELECT {keys}__xs AS __val, false AS __is_end FROM {{base}}
        UNION ALL SELECT {keys}__xe, true FROM {{base}}""",
        base=base,
    )
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
    stitched = attach_carry(
        plan, [Carry("__hp", "min", "__val * 2 + CAST(__is_end AS BIGINT)", "next")]
    )
    # O22: False sorts before True, so a start at value v precedes an
    # end at v, matching the reference's setorderv
    # (timeperiod_functions.R:559). O23 (timeperiod_functions.R:568-573):
    # piece start = value at a start-point, value+1 after an end-point;
    # piece end = next_value-1 before a start-point, next_value at an end.
    return sql(
        f"""SELECT {"".join(f"__g{i} AS __yg{i}, " for i in range(len(gcols)))}__as AS __ys,
               __ae AS __ye
        FROM (
            SELECT {keys}IF(__is_end, __val + 1, __val) AS __as,
                   IF(__next_end, __next_val, __next_val - 1) AS __ae
            FROM (
                SELECT {keys}__val, __is_end,
                       coalesce(lead(__is_end) OVER w, (__hp & 1) = 1) AS __next_end,
                       coalesce(lead(__val) OVER w, shiftright(__hp, 1)) AS __next_val
                FROM {{swept}}
                WINDOW w AS (PARTITION BY {keys}__bk ORDER BY __val, __is_end))
            WHERE __next_end IS NOT NULL)
        WHERE __ae >= __as""",
        swept=stitched,
    )


def remove_overlaps(
    x: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    join_strategy: str = "auto",
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

    ``join_strategy="auto"`` (the default) runs grouped input through
    the Arrow sweep (plans.kernel.pieces_sweep) when one group-size
    action finds its largest group within
    ``plans.strategy.AUTO_SWEEP_ROWS``: each partition's groups are cut
    at starts ∪ (ends + 1) in one Python call, with no melt, window
    sweep, join-back or persist. Ungrouped input, larger groups and
    payload types Arrow cannot carry take the SQL sweep below with the
    bucketized bin join-back, NOT group_equi: the decomposition is
    typically applied to dense low-cardinality panels where an
    equi-only join degenerates into a per-group cartesian product (each
    group's originals x its atomic pieces). The bin join keeps
    candidate pairs local to a time bucket regardless of group
    cardinality. So ``auto`` here never hands the pick to
    build_overlap_pairs' own ``auto`` (which may choose group_equi), as
    an explicit ``auto`` did before the sweep existed. Any other
    ``join_strategy`` forces the SQL sweep with that join-back; pass
    ``group_equi`` only for high-cardinality, short-panel groups.
    """
    check_strategy(join_strategy)
    group_vars = list(group_vars or [])
    xf = _fields(x)
    ivl_dtype = _normalize(xf, interval_vars, group_vars)
    n_g = len(group_vars)
    gcols = [f"__g{i}" for i in range(n_g)]

    payload = (
        [c for c in xf if c not in group_vars and c not in interval_vars]
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

    s, e = interval_vars
    base = x.selectExpr(
        *[f"{ident(g)} AS {gc}" for g, gc in zip(group_vars, gcols)],
        f"{_grid(s, xf[s])} AS __xs",
        f"{_grid(e, xf[e])} AS __xe",
        *[f"{ident(c)} AS __p{i}" for i, c in enumerate(payload)],
    )
    out = [
        *[f"__yg{i} AS {ident(g)}" for i, g in enumerate(group_vars)],
        f"{_ungrid('__ys', ivl_dtype)} AS {ident(s)}",
        f"{_ungrid('__ye', ivl_dtype)} AS {ident(e)}",
        f"{_ungrid('__xs', ivl_dtype)} AS {ident('o_' + s)}",
        f"{_ungrid('__xe', ivl_dtype)} AS {ident('o_' + e)}",
        *[f"__p{i} AS {ident(c)}" for i, c in enumerate(payload)],
    ]
    if join_strategy == "auto":
        join_strategy = "bin"
        if sweepable(base, None, n_g) and arrow_ok(base):
            if sweep_fits(group_sizes(base, None, n_g)):
                return pieces_sweep(base, n_g).selectExpr(*out)

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

    yw = _atomic_pieces(base, gcols, (x.lo or 0, x.hi or 0), x.groups)

    # O24 — tag each atomic piece with every original interval covering
    # it. Reuse the range-join strategies: originals are the x side,
    # atomic pieces the y side.
    # <= 2 atomic pieces per original: ny is exact, trusted (no recheck)
    pairs = build_overlap_pairs(
        base, yw, n_g, strategy=join_strategy, bin_width=bin_width,
        auto_stats=replace(stats, y=Row(n=2 * x.n)),
    )

    return pairs.selectExpr(*out)


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
    xf = _fields(x)
    _normalize(xf, interval_vars, group_vars)
    gcols = [f"__g{i}" for i in range(len(group_vars))]
    s, e = interval_vars
    base = x.selectExpr(
        *[f"{ident(g)} AS {gc}" for g, gc in zip(group_vars, gcols)],
        f"{_grid(s, xf[s])} AS __xs",
        f"{_grid(e, xf[e])} AS __xe",
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

    from ..plans.carry import Carry, attach_carry, plan_buckets

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
    stitched = attach_carry(plan, [Carry("__carry_max", "max", ident(col))])
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
    xf, yf = _fields(x), _fields(y)
    dtype = _normalize(xf, interval_vars, group_vars)
    if isinstance(dtype, T.DateType) != isinstance(
        _normalize(yf, interval_vars, group_vars), T.DateType
    ):
        raise IntervalValidationError(
            "interval_vars must be the same class (all integer or all date) in x and y"
        )
    s_col, e_col = interval_vars

    n_g = len(group_vars)
    gcols = [f"__g{i}" for i in range(n_g)]
    ygcols = [f"__yg{i}" for i in range(n_g)]
    x_pay = [c for c in xf if c not in (*interval_vars, *group_vars)]
    y_pay = [c for c in yf if c not in (*interval_vars, *group_vars)]

    xw = x.selectExpr(
        *[f"{ident(g)} AS {gc}" for g, gc in zip(group_vars, gcols)],
        f"{_grid(s_col, xf[s_col])} AS __xs",
        f"{_grid(e_col, xf[e_col])} AS __xe",
        *[f"{ident(c)} AS __xp{i}" for i, c in enumerate(x_pay)],
    )
    yw = y.selectExpr(
        *[f"{ident(g)} AS {gc}" for g, gc in zip(group_vars, ygcols)],
        f"{_grid(s_col, yf[s_col])} AS __ys",
        f"{_grid(e_col, yf[e_col])} AS __ye",
        *[f"{ident(c)} AS __yp{i}" for i, c in enumerate(y_pay)],
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
    # no second scan of x). greatest/least IGNORE NULLs (they'd
    # fabricate overlap bounds from the x side alone), so the clip
    # columns are NULL-guarded on the unmatched sentinel.
    def _clip(expr: str) -> str:
        return expr if how == "inner" else f"IF(__ys IS NULL, NULL, {expr})"

    # interval columns always suffixed per side (they collide by
    # construction)
    return pairs.selectExpr(
        *[f"{gc} AS {ident(g)}" for g, gc in zip(group_vars, ygcols)],
        f"{_ungrid('__xs', dtype)} AS {ident(s_col + sx)}",
        f"{_ungrid('__xe', dtype)} AS {ident(e_col + sx)}",
        f"{_ungrid('__ys', dtype)} AS {ident(s_col + sy)}",
        f"{_ungrid('__ye', dtype)} AS {ident(e_col + sy)}",
        *[
            f"__xp{i} AS {ident(_out_name(c, y_names, sx))}"
            for i, c in enumerate(x_pay)
        ],
        *[
            f"__yp{i} AS {ident(_out_name(c, x_names, sy))}"
            for i, c in enumerate(y_pay)
        ],
        _clip(_ungrid("greatest(__xs, __ys)", dtype)) + " AS overlap_start",
        _clip(_ungrid("least(__xe, __ye)", dtype)) + " AS overlap_end",
        _clip("CAST(least(__xe, __ye) - greatest(__xs, __ys) + 1 AS BIGINT)")
        + " AS overlap_duration",
    )
