"""Overlap-weighted interval averaging — the engine's core operator.

Semantics reproduce ``interval_weighted_avg_f`` from the reference
(/root/reference/timeperiod_functions.R:117-354; output contract
README.md:74-110): measurements ``x`` are values averaged over closed
integer/date intervals, non-overlapping within group combinations;
target periods ``y`` are arbitrary (possibly overlapping, possibly
non-aligned) intervals; the output has exactly one row per distinct
``(group, y-interval)`` carrying the overlap-duration-weighted mean of
each value column plus coverage metadata (yduration, xduration,
nobs_<v>, xminstart, xmaxend) and a ``required_percentage`` coverage
mask.

The implementation is Spark-first, NOT a port. Grouped input whose
largest group fits ``plans.strategy.AUTO_SWEEP_ROWS`` runs the
reference's per-group binary search as the grouped Arrow sweep
(:mod:`timeperiods_spark.plans.kernel`): one ``mapInArrow`` call per
partition, no join. Everything else takes a range join (with a
selectable physical strategy, see :mod:`timeperiods_spark.plans.strategy`)
followed by a hash aggregate that Catalyst executes with partial
(map-side) + final aggregation and whole-stage codegen, all native Spark
SQL. Each stage is one projection built from SQL expression strings
(plans/sql.py): composing ``Column`` objects call by call costs a py4j
round trip per call.

Closed-interval arithmetic: a unit difference is the smallest observable
increment; duration = end - start + 1 (reference
timeperiod_functions.R:83, :265, :334).
"""

from __future__ import annotations

import time
import warnings
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..errors import (
    DuplicateIntervalError,
    IntervalValidationError,
    OverlapError,
    RoleValidationError,
)
from ..plans.carry import plan_buckets
from ..plans.sql import ident, sql
from ..plans.kernel import checked_sweep, iwa_sweep, sweepable
from ..plans.strategy import (
    RequestStats,
    build_overlap_pairs,
    check_strategy,
    group_sizes,
    request_stats,
    sweep_fits,
)

#: Output column names reserved by the operator
#: (reference timeperiod_functions.R:126-130).
RESERVED_OUTPUT_NAMES = ("yduration", "xduration", "xminstart", "xmaxend")

_EPOCH = "1970-01-01"

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _is_intervalish(dtype: T.DataType) -> bool:
    return isinstance(dtype, _INT_TYPES) or isinstance(dtype, T.DateType)


def _fields(df: DataFrame) -> dict:
    """``{column name: data type}``, from one read of ``df``'s schema."""
    return {f.name: f.dataType for f in df.schema.fields}


def _grid(colname: str, dtype: T.DataType) -> str:
    """SQL normalizing an interval endpoint column to long grid units.

    Dates become day counts since 1970-01-01 (the reference treats Date
    as its integer day count, timeperiod_functions.R:52, :491-494)."""
    c = ident(colname)
    if isinstance(dtype, T.DateType):
        return f"CAST(datediff({c}, DATE'{_EPOCH}') AS BIGINT)"
    return f"CAST({c} AS BIGINT)"


def _ungrid(expr: str, dtype: T.DataType) -> str:
    """SQL restoring a long grid value to the user-facing endpoint type."""
    if isinstance(dtype, T.DateType):
        return f"date_add(DATE'{_EPOCH}', CAST({expr} AS INT))"
    return f"CAST({expr} AS {dtype.simpleString()})"


def _validate_roles(
    xf: dict,
    yf: dict,
    interval_vars: Sequence[str],
    value_vars: Sequence[str],
    group_vars: Sequence[str],
) -> T.DataType:
    """Schema-only validation (no Spark action) against the field maps
    of x and y (:func:`_fields`). Returns the interval dtype.

    Mirrors the reference's checks at timeperiod_functions.R:126-187
    (reserved names, column existence, role disjointness, endpoint types).
    """
    if len(interval_vars) != 2:
        raise RoleValidationError("interval_vars must name exactly (start, end)")
    if not value_vars:
        raise RoleValidationError("value_vars must name at least one column")
    roles = list(interval_vars) + list(value_vars) + list(group_vars)
    reserved = [c for c in roles if c in RESERVED_OUTPUT_NAMES]
    if reserved:
        raise RoleValidationError(
            f"column(s) {reserved} are reserved for the output "
            f"(yduration/xduration/xminstart/xmaxend); rename them"
        )
    for name, need, fields in (
        ("x", list(group_vars) + list(interval_vars) + list(value_vars), xf),
        ("y", list(group_vars) + list(interval_vars), yf),
    ):
        missing = [c for c in need if c not in fields]
        if missing:
            raise RoleValidationError(f"columns {missing} not present in {name}")
    if len(set(roles)) != len(roles):
        raise RoleValidationError(
            "interval_vars, value_vars and group_vars must be pairwise disjoint"
        )
    xs_t, xe_t = xf[interval_vars[0]], xf[interval_vars[1]]
    ys_t, ye_t = yf[interval_vars[0]], yf[interval_vars[1]]
    for t, where in ((xs_t, "x"), (xe_t, "x"), (ys_t, "y"), (ye_t, "y")):
        if not _is_intervalish(t):
            raise IntervalValidationError(
                f"interval_vars in {where} must be integer or date, got {t.simpleString()}"
            )
    x_is_date = isinstance(xs_t, T.DateType)
    if x_is_date != isinstance(xe_t, T.DateType) or x_is_date != isinstance(
        ys_t, T.DateType
    ) or x_is_date != isinstance(ye_t, T.DateType):
        raise IntervalValidationError(
            "interval_vars must be the same class (all integer or all date) in x and y"
        )
    return xs_t


def _canonical(
    x: DataFrame, y: DataFrame, interval_vars: Sequence[str],
    value_vars: Sequence[str], group_vars: Sequence[str],
) -> tuple:
    """(interval dtype, xw, yw): the roles validated, then the canonical
    frames — collision-free, side-disjoint names (x ``__g*, __xs, __xe,
    __v*``; y ``__yg*, __ys, __ye``) in long grid units, as the
    reference renames to placeholders (timeperiod_functions.R:229-255)."""
    xf, yf = _fields(x), _fields(y)
    ivl_dtype = _validate_roles(xf, yf, interval_vars, value_vars, group_vars)
    s, e = interval_vars
    xw = x.selectExpr(
        *[f"{ident(g)} AS __g{i}" for i, g in enumerate(group_vars)],
        f"{_grid(s, xf[s])} AS __xs",
        f"{_grid(e, xf[e])} AS __xe",
        *[f"CAST({ident(v)} AS DOUBLE) AS __v{i}" for i, v in enumerate(value_vars)],
    )
    yw = y.selectExpr(
        *[f"{ident(g)} AS __yg{i}" for i, g in enumerate(group_vars)],
        f"{_grid(s, yf[s])} AS __ys",
        f"{_grid(e, yf[e])} AS __ye",
    )
    return ivl_dtype, xw, yw


def _overlap_scan(
    xw: DataFrame, gcols: Sequence[str], *,
    bounds_hint: Optional[tuple] = None, group_count_hint: Optional[int] = None,
) -> DataFrame:
    """One-row frame whose ``ovl`` is > 0 iff two intervals of ``xw``
    overlap within a group (closed: a shared endpoint counts). NULL and
    reversed rows overlap nothing here.

    Replaces the reference's self-``foverlaps`` assertion
    (timeperiod_functions.R:216) with an adjacency scan: in (group,
    start, end) order the first row that overlaps ANY predecessor also
    overlaps its immediate predecessor (the rows before it are disjoint
    and sorted, so their ends increase), so a lag suffices. The lag
    runs within (group…, start-bucket) (plans/carry.py), so parallelism
    never collapses to one task per group, or one in all when
    ungrouped; bucket boundaries are checked by a lag over the tiny
    per-bucket frame of (first start, max end) — no join back onto x.
    """
    plan = plan_buckets(
        xw.where("__xe >= __xs"), gcols, "__xs",
        bounds_hint=bounds_hint, group_count_hint=group_count_hint,
    )
    keys = ", ".join(gcols)
    across = (
        # the bucket's first start against the group's earlier buckets
        f" + coalesce(CAST(min(__xs) <= lag(max(__xe)) OVER "
        f"(PARTITION BY {keys or '1'} ORDER BY __bk) AS BIGINT), 0)"
        if plan.bucketed else ""
    )
    return sql(
        f"""SELECT coalesce(sum(__o), 0) AS ovl FROM (
            SELECT count_if(__o){across} AS __o FROM (
                SELECT *, __xs <= lag(__xe) OVER (
                    PARTITION BY {keys + ", " if keys else ""}__bk
                    ORDER BY __xs, __xe) AS __o
                FROM {{xs}})
            GROUP BY {keys + ", " if keys else ""}__bk)""",
        xs=plan.df,
    )


def _vlog(verbose: bool, msg: str) -> None:
    if verbose:
        print(f"[interval_weighted_avg] {msg}", flush=True)


def _validate(
    stats: RequestStats, xw: DataFrame, n_groups: int, skip_overlap_check: bool,
    verbose: bool = False,
) -> None:
    """Raise the typed error of the first check of one request that
    fails, in this order: y NULL, y reversed, y duplicates (a warning),
    x NULL, x reversed, x duplicates, then x overlaps (unless
    ``skip_overlap_check``): ``stats.x.ovl`` when the stats count them
    (plans.kernel.checked_sweep), else one overlap scan of x."""
    x, y = stats.x, stats.y
    if y.nulls:
        raise IntervalValidationError("interval_vars columns cannot be NULL in y")
    if y.rev:
        raise IntervalValidationError("y has intervals with end < start")
    if y.n != y.nd:
        warnings.warn(
            "duplicate (group, start, end) rows in y; deduplicating "
            "(reference timeperiod_functions.R:205-211)",
            stacklevel=3,
        )
    if x.nulls:
        raise IntervalValidationError(
            "interval_vars columns cannot be NULL in x (reference "
            "timeperiod_functions.R:154-160)"
        )
    if x.rev:
        raise IntervalValidationError(
            "x has intervals with end < start; interval_vars must be "
            "(start, end) of increasing intervals"
        )
    if x.n != x.nd:
        raise DuplicateIntervalError(
            "duplicate (group, start, end) intervals in x; average them "
            "together first (reference timeperiod_functions.R:198-202)"
        )
    if skip_overlap_check or not x.n:
        return
    n_ovl = getattr(x, "ovl", None)  # the stats pass does not count it
    if n_ovl is None:
        t0 = time.time()
        gcols = [f"__g{i}" for i in range(n_groups)]
        scan = _overlap_scan(
            xw, gcols, bounds_hint=(x.lo, x.hi), group_count_hint=x.groups
        )
        n_ovl = scan.first()["ovl"]
        _vlog(verbose, f"x integrity (overlap scan): {time.time() - t0:.2f}s")
    if n_ovl:
        raise OverlapError(
            "overlapping intervals within groups of x (closed intervals: "
            "a shared endpoint is an overlap). Decompose with "
            "remove_overlaps() first."
        )


def _pair_sums(
    pairs: DataFrame, yd: DataFrame, n_g: int, n_v: int, extra_stats: bool
) -> DataFrame:
    """The sums the output projection reads, from the pair join: one
    row per row of ``yd`` (``__yg*, __ys, __ye, __xdur, __snm*, __sp*,
    [__sq*], __minstart, __maxend``). One statement: clip (O3), weight
    (O4), per-value weights/products (O5, O6), the grouped hash
    aggregation (O7, partial+final, codegen) and the completion join
    (O10: every deduped y row survives, zero-filled; group keys match
    null-safe)."""
    ygcols = [f"__yg{i}" for i in range(n_g)]
    vcols = [f"__v{i}" for i in range(n_v)]
    keys = ", ".join([*ygcols, "__ys", "__ye"])
    moments = [("nm", "IF({v} IS NULL, 0, __dur)"), ("p", "{v} * __dur")]
    if extra_stats:
        moments.append(("q", "{v} * {v} * __dur"))
    weighted = [
        f"{expr.format(v=v)} AS __{m}{i}" for m, expr in moments
        for i, v in enumerate(vcols)
    ]
    sums = ["sum(__dur) AS __xdur"] + [
        f"sum(__{m}{i}) AS __s{m}{i}" for m, _ in moments for i in range(n_v)
    ]
    # the agg side of the completion join; covered counts default to 0
    agg_cols = ["coalesce(a.__xdur, 0) AS __xdur"] + [
        f"coalesce(a.__snm{i}, 0) AS __snm{i}" if m == "nm" else f"a.__s{m}{i}"
        for m, _ in moments for i in range(n_v)
    ]
    on = " AND ".join(
        ["y.__ys = a.__ys", "y.__ye = a.__ye"] + [f"y.{g} <=> a.{g}" for g in ygcols]
    )
    return sql(
        f"""SELECT y.*, {", ".join(agg_cols)}, a.__minstart, a.__maxend
        FROM {{yd}} y LEFT JOIN (
            SELECT {keys}, {", ".join(sums)},
                   min(__cs) AS __minstart, max(__ce) AS __maxend
            FROM (
                SELECT {keys}, __cs, __ce, __dur, {", ".join(weighted)} FROM (
                    SELECT *, greatest(__xs, __ys) AS __cs,
                           least(__xe, __ye) AS __ce,
                           least(__xe, __ye) - greatest(__xs, __ys) + 1 AS __dur
                    FROM {{pairs}}))
            GROUP BY {keys}) a
        ON {on}""",
        pairs=pairs,
        yd=yd,
    )


def interval_weighted_avg(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str],
    value_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    required_percentage: float = 100.0,
    skip_overlap_check: bool = False,
    verbose: bool = False,
    *,
    validate: bool = True,
    assume_y_distinct: bool = False,
    join_strategy: str = "auto",
    bin_width: Optional[int] = None,
    skew_salt: Optional[int] = None,
    join_stats: Optional[tuple] = None,
    sort_output: bool = False,
    extra_stats: bool = False,
) -> DataFrame:
    """Average interval-measured values onto an arbitrary period schedule.

    Parameters mirror the reference API (timeperiod_functions.R:117-120),
    including ``verbose`` (the reference's step-timing flag,
    timeperiod_functions.R:117 used at :223+): here it prints the eager
    validation timings and the physical choices (join strategy, y
    dedup) — the lazy stages are visible in the Spark UI instead.
    The keyword-only extras are scale controls with no semantic effect:

    - ``validate=False`` skips every eager (action-triggering) integrity
      check — for production pipelines over pre-validated data. The
      reference's equivalent is ``skip_overlap_check`` but at 100 TB the
      duplicate/NULL checks are equally worth skipping once enforced
      upstream.
    - ``assume_y_distinct=True`` skips the y deduplication shuffle, as
      does a stats pass whose exact distinct count finds no duplicates.
    - ``join_strategy``/``bin_width``/``skew_salt`` select the physical
      range-join plan (see plans.strategy.build_overlap_pairs).

    With ``join_strategy="auto"`` on grouped input (keys of integer,
    decimal, string, binary, boolean, date or timestamp type, the same
    in x and y), the result is the grouped Arrow sweep
    (plans.kernel.iwa_sweep): each period's sums run in one fixed
    order, x start descending, so they do not depend on partitioning,
    caching or AQE; y needs no dedup shuffle. A validated call computes
    and holds that result in ONE action with one shuffle
    (plans.kernel.checked_sweep: every check below, the group count,
    the largest group's rows and the sums, kept as a local checkpoint
    that Spark frees once no frame reads it). When that group is over
    ``plans.strategy.AUTO_SWEEP_ROWS``, the pass is dropped and the
    pair join is planned from its stats, with no other pass. With
    ``validate=False`` the action is a group-size aggregate
    (plans.strategy.group_sizes) and the sweep runs with the result (a
    bin join's width then costs one more stats pass).

    Ungrouped input and the other strategies keep the pair join, whose
    eager work is one fused stats pass over x and y
    (plans.strategy.request_stats), which validates and plans the join,
    plus one overlap scan of x. With ``validate=False`` the pass only
    plans (no distinct count, so y keeps its dedup), and
    ``join_stats=(nx, ny, n_groups_distinct)`` skips it too.

    Returns one row per distinct (group, y-interval):
    ``group_vars…, interval_vars…, value_vars… (weighted means, masked
    NULL below required_percentage coverage), yduration, xduration,
    nobs_<v>…, xminstart, xmaxend`` (reference output contract
    timeperiod_functions.R:345-347, README.md:74-110).
    """
    check_strategy(join_strategy)
    group_vars = list(group_vars or [])
    ivl_dtype, xw, yw = _canonical(x, y, interval_vars, value_vars, group_vars)
    n_g, n_v = len(group_vars), len(value_vars)
    ygcols = [f"__yg{i}" for i in range(n_g)]
    # auto may take the grouped Arrow sweep: its keys are checked here,
    # its largest group by the one stats action below
    grouped = join_strategy == "auto" and sweepable(xw, yw, n_g)

    sums = None
    if validate:
        t0 = time.time()
        if grouped:
            # one action: the sweep, materialized, checks the request too
            sums, stats = checked_sweep(xw, yw, n_g, n_v, extra_stats)
        else:
            stats = request_stats(xw, yw, n_g)
        _vlog(verbose, f"request stats (one pass) nx={stats.x.n} ny={stats.y.n} "
                       f"groups~{stats.x.groups}: {time.time() - t0:.2f}s")
        _validate(stats, xw, n_g, skip_overlap_check, verbose)
    else:
        _vlog(verbose, "validation skipped (validate=False)")
        # planning-only stats (y keeps its dedup) on the pre-dedup y: ny
        # is an upper bound, which can only steer the pick toward the
        # bin join, safe at any size
        if grouped and join_stats is None:
            stats = group_sizes(xw, yw, n_g)
        elif (join_strategy == "auto" and join_stats is None) or (
            join_strategy == "bin" and bin_width is None
        ):
            stats = request_stats(xw, yw, n_g, distinct=False)
        else:
            stats = None
    sweep = grouped and stats is not None and sweep_fits(stats)

    y_distinct = assume_y_distinct or (stats is not None and stats.y.n == stats.y.nd)
    _vlog(
        verbose,
        f"plan: join_strategy={'sweep' if sweep else join_strategy!r} n_groups={n_g} "
        f"n_values={n_v} y_dedup={not (sweep or y_distinct)} "
        f"required_percentage={required_percentage}"
    )

    ydur = "CAST(__ye - __ys + 1 AS DOUBLE)"

    def masked(stat: str, name: str, i: int) -> str:
        # masked NULL below required_percentage coverage
        return f"IF(100.0D * __snm{i} / {ydur} < :req, NULL, {stat}) AS {ident(name)}"

    # 0/0 and NULL/0 → NULL (R NaN→NULL)
    means = [f"(__sp{i} / __snm{i})" for i in range(n_v)]
    out_cols = [
        *[f"__yg{i} AS {ident(g)}" for i, g in enumerate(group_vars)],
        f"{_ungrid('__ys', ivl_dtype)} AS {ident(interval_vars[0])}",
        f"{_ungrid('__ye', ivl_dtype)} AS {ident(interval_vars[1])}",
        *[masked(m, v, i) for i, (m, v) in enumerate(zip(means, value_vars))],
        # time-weighted population variance from the second moment,
        # masked identically to the mean (beyond-reference; the tier
        # path's rollup_regular(extra_stats=) is the regular-grid twin)
        *[
            masked(f"__sq{i} / __snm{i} - {m} * {m}", f"{v}_var", i)
            for i, (m, v) in enumerate(zip(means, value_vars))
            if extra_stats
        ],
        f"{ydur} AS yduration",
        # O11 sanity invariant (reference stopifnot,
        # timeperiod_functions.R:337): overlapped duration can never
        # exceed the period length. Threaded through the output column
        # (a dropped assert would be pruned); fires at runtime, e.g. if
        # a caller bypasses the overlap check on overlapping x.
        f"IF(assert_true(__xdur <= {ydur}, 'internal invariant violated: "
        "xduration > yduration (overlapping x intervals slipped past the "
        "check?)') IS NULL, __xdur, NULL) AS xduration",
        *[f"__snm{i} AS {ident('nobs_' + v)}" for i, v in enumerate(value_vars)],
        f"{_ungrid('__minstart', ivl_dtype)} AS xminstart",
        f"{_ungrid('__maxend', ivl_dtype)} AS xmaxend",
    ]
    if sweep:
        # one partitioned pass: every distinct y row, zero-filled
        if sums is None:
            sums = iwa_sweep(xw, yw, n_g, n_v, extra_stats)
    else:
        yd = yw if y_distinct else yw.dropDuplicates(ygcols + ["__ys", "__ye"])
        pairs = build_overlap_pairs(
            xw,
            yd,
            n_g,
            strategy=join_strategy,
            bin_width=bin_width,
            skew_salt=skew_salt,
            auto_stats=stats or join_stats,
        )
        sums = _pair_sums(pairs, yd, n_g, n_v, extra_stats)
    out = sql(
        f"SELECT {', '.join(out_cols)} FROM {{sums}}",
        {"req": float(required_percentage)},
        sums=sums,
    )
    if sort_output:
        # O14: the reference returns keyed by (group, start, end)
        # (timeperiod_functions.R:310, :521). Opt-in here — a global
        # sort is a range exchange worth paying only for fixture
        # determinism or sorted sinks.
        out = out.orderBy(*group_vars, *interval_vars)
    return out
