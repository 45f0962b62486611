"""Physical strategies for the interval overlap (range) join.

The reference gets its range join from data.table's binary-search
``foverlaps`` (/root/reference/timeperiod_functions.R:239-240;
README.md:199-209). OSS Catalyst has no native interval join: a pure
theta join plans as BroadcastNestedLoopJoin or a cartesian product, both
of which die at scale. This module rewrites the join at the API level —
no custom Catalyst rules — into one of four shapes:

``group_equi``
    Equi join on null-safe group keys with the range predicate applied
    as a join condition. Catalyst extracts the null-safe equalities as
    hash/sort-merge join keys, so the fan-out is bounded per group. The
    right default whenever group keys are selective (panel data).

``broadcast_y`` / ``broadcast_x``
    Same condition with the small side broadcast — the fast path when
    the period schedule (or the measurement set) fits on every executor,
    e.g. hourly/daily/weekly retention scaffolds.

``bin``
    Bucketized range join for the ungrouped / huge-group case (the
    10^12-sequence token table where one ``source`` is a single logical
    stream): explode each interval to the fixed-width time bins it
    touches, equi-join on (group, bin), re-check exact overlap, and keep
    each pair only in the FIRST bin the two intervals share
    (``bin == floor(max(x.start, y.start) / W)``) so no post-join
    deduplication is needed — the row-count invariant of SURVEY.md §4.4
    survives the fan-out by construction. Shuffle keys become
    (group, bin[, salt]), which partitions evenly and is skew-saltable.

``auto``
    Data-aware pick. Ungrouped → bin. Grouped → the operators first
    try the grouped Arrow sweep (:mod:`timeperiods_spark.plans.kernel`),
    which needs no pair join at all: ``interval_weighted_avg`` and
    ``remove_overlaps`` take it when their one action finds the
    largest group (x rows + y rows) within ``AUTO_SWEEP_ROWS``
    (:func:`sweep_fits`). Larger groups, and callers of the
    pair join itself, estimate the equi join's candidate volume
    ``|x| x |y| / groups`` and switch to bin above ``AUTO_BIN_PAIRS``.
    Rationale: group_equi's SMJ applies the
    range predicate AFTER the per-group cross, so its cost is the
    candidate volume, not the match volume — few groups x long panels
    degenerates quadratically (measured: the sf1.0 bench's 20-group x
    750k-interval panel ran 97x the sf0.1 wall under unconditional
    group_equi; the bin join is linear in actual overlaps). The
    operators pass the numbers from their one stats pass
    (:func:`request_stats`), so ``auto`` runs no stats action of its
    own unless called without them, or with a tuple hint that lands
    in the recheck band below the cliff.

All null handling is null-safe (``eqNullSafe``): NULL group values are
legal join keys, matching data.table's NA-matching keyed joins
(reference tests.R:564-580) — a required deviation from Spark's default
null-dropping join.

Naming convention: the x side carries ``__g{i}, __xs, __xe, __v{i}``;
the y side carries ``__yg{i}, __ys, __ye``. Disjoint names keep the join
unambiguous even when y was derived from x (self-join lineage).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Union

from pyspark.sql import DataFrame, Row, functions as F

from ..errors import RoleValidationError
from .sql import sql

#: the ``join_strategy`` names the operators accept
JOIN_STRATEGIES = ("auto", "group_equi", "broadcast_y", "broadcast_x", "bin")


def check_strategy(strategy: str) -> None:
    """Reject an unknown ``join_strategy`` before any Spark work."""
    if strategy not in JOIN_STRATEGIES:
        raise RoleValidationError(
            f"unknown join strategy {strategy!r}; expected one of {JOIN_STRATEGIES}"
        )


#: auto switches group_equi -> bin when the estimated per-group cross
#: volume |x| * |y| / groups exceeds this. Calibrated on this host:
#: group_equi sustains ~1e8 candidate pairs/sec, and at ~2.6e8 pairs
#: (sf0.1 orders panel) bin already wins by 20-50%; by 2.6e10 (sf1.0)
#: group_equi is 97x slower. 1e8 puts the switch at the measured
#: crossover with margin against the estimate's approx_count_distinct
#: error.
AUTO_BIN_PAIRS = 100_000_000
#: stale-hint padding: an ``auto_stats`` hint whose estimate lands
#: within this factor BELOW the bin cliff triggers a real recheck — a
#: hint computed before a 10x append would otherwise silently keep
#: group_equi right where it becomes quadratic (the measured 97x sf1.0
#: blowout). Hints far below the cliff stay action-free; hints above
#: it pick bin, the direction that is safe even when stale.
AUTO_STATS_RECHECK_BAND = 4
#: auto runs the grouped Arrow sweep when the largest group holds at
#: most this many rows (x and y together). A Python call holds one open
#: group plus one Arrow batch, so this bounds a worker's memory: one
#: group at the bound (900k x + 100k y rows, 2 value columns) peaked at
#: 0.26 GB above its input batches, measured on a 4-core host. Larger
#: groups keep the pair join, which is also faster there: one group is
#: one sweep task, while the bin join spreads it over every core (a
#: 5M-row group: sweep 8.1–9.7 s and 1.33 GB per worker, bin join
#: 7.9–8.9 s and 0.13 GB, same host). A validated request still counts
#: a larger group in the sweep's one checked pass, which stops buffering
#: it here: the group costs one hash partition there. With a 3M- or
#: 5M-row group (beside 3 groups of 1,000; parquet input; local[4]) the
#: call took 12.0–12.3 s / 11.1–12.3 s, and call plus result 17.8–18.1 s
#: / 18.6–20.9 s, where a separate range-sorted check action took
#: 9.3–9.7 s / 10.7–11.1 s and 15.2–16.5 s / 17.3–19.4 s; the Python
#: worker peaked at 0.15 GB.
AUTO_SWEEP_ROWS = 1_000_000


def _group_cond(n_groups: int) -> list[str]:
    return [f"__g{i} <=> __yg{i}" for i in range(n_groups)]


def _volume(auto_stats: tuple) -> int:
    """group_equi's candidate volume |x| * |y| / groups."""
    nx, ny, g = auto_stats
    return int(nx or 0) * int(ny or 0) // max(1, int(g or 0))


#: the stats of a side with no rows
_NO_ROWS = Row(n=0, nd=0, nulls=0, rev=0, groups=0, lo=None, hi=None, p90=None)


@dataclass(frozen=True)
class RequestStats:
    """Per side (``x``/``y``): ``n`` rows, ``nd`` distinct (group, start,
    end) rows or None, ``nulls``/``rev`` rows with a NULL endpoint / end
    < start, approx ``groups`` (x only), ``lo``/``hi`` over starts AND
    ends, approx ``p90`` length; ``p90`` pools both sides. The grouped
    passes (``plans.kernel.checked_sweep``, which computes the sweep's
    sums in the same action, and :func:`group_sizes`) also give
    ``top``, the rows of the side's largest group, and exact
    ``groups``; the checked sweep also counts ``ovl``."""

    x: Row
    y: Row
    p90: Optional[int]

    @property
    def auto_stats(self) -> tuple:
        return (self.x.n, self.y.n, self.x.groups)

    @property
    def bin_width(self) -> int:
        # any width is correct; it only tunes the bin join's fan-out
        return max(1, int(self.p90 or 1))


def sweep_fits(stats: RequestStats) -> bool:
    """Does the largest group (x rows + y rows) fit ``AUTO_SWEEP_ROWS``?
    ``stats`` must carry ``top`` (from ``plans.kernel.checked_sweep``
    or :func:`group_sizes`). After the checked sweep, False also means
    its sums are incomplete: a group over the budget got none."""
    return (stats.x.top or 0) + (stats.y.top or 0) <= AUTO_SWEEP_ROWS


def group_sizes(
    xw: DataFrame, yw: Optional[DataFrame], n_groups: int
) -> RequestStats:
    """Per side ``n`` rows (``nd`` None), exact ``groups`` and ``top``,
    the rows of its largest group, of the x (``__g*``) and y
    (``__yg*``) frames in one Spark action, for planning without
    validation: the partial aggregate shuffles one row per (group,
    input partition). There is no ``p90``, so a bin join planned from
    these stats measures its width in one more pass."""
    frames = {side: df for side, df in (("x", xw), ("y", yw)) if df is not None}
    union = " UNION ALL ".join(
        f"SELECT '{side}' AS side, count(1) AS c FROM {{{side}}} GROUP BY "
        + ", ".join(f"{'__g' if side == 'x' else '__yg'}{i}" for i in range(n_groups))
        for side in frames
    )
    rows = sql(
        f"""SELECT side, sum(c) AS n, CAST(NULL AS BIGINT) AS nd,
               count(1) AS groups, max(c) AS top
        FROM ({union}) GROUP BY side""",
        **frames,
    ).collect()
    by_side = {r["side"]: r for r in rows}
    none = Row(n=0, nd=None, groups=0, top=0)
    return RequestStats(by_side.get("x", none), by_side.get("y", none), None)


def request_stats(
    xw: DataFrame,
    yw: Optional[DataFrame] = None,
    n_groups: int = 0,
    *,
    distinct: bool = True,
) -> RequestStats:
    """:class:`RequestStats` of the x (``__g*, __xs, __xe``) and y
    (``__yg*, __ys, __ye``) frames in ONE Spark action.

    Each side's group keys travel in their own (never NULL) struct, so
    x and y keys need no common type and NULL group values stay keys.
    ``distinct`` counts ``nd`` as the rows of a (side, keys, start, end)
    pre-aggregate, which shuffles both frames; without it (planning
    only) the partial aggregate shuffles just its buffers. Do not put
    ``count_distinct`` and ``percentile_approx`` in one aggregate
    instead: Spark's distinct rewrite then builds one percentile digest
    per distinct key (750 groups, 40k x rows, 4 local cores: over 200 s
    against 0.8 s for this pass).
    """
    frames = {side: df for side, df in (("x", xw), ("y", yw)) if df is not None}
    parts = []
    for side in frames:
        prefix = "__g" if side == "x" else "__yg"
        key = (
            f"struct({', '.join(f'{prefix}{i}' for i in range(n_groups))})"
            if n_groups else "0"
        )
        kx, ky = (key, "NULL") if side == "x" else ("NULL", key)
        parts.append(
            f"SELECT '{side}' AS side, {kx} AS __kx, {ky} AS __ky, "
            f"__{side}s AS s, __{side}e AS e FROM {{{side}}}"
        )
    union = " UNION ALL ".join(parts)
    if distinct:
        union = (
            f"SELECT side, __kx, count(1) AS __c, s, e FROM ({union}) "
            "GROUP BY side, __kx, __ky, s, e"
        )
        n, nd, w = "sum(__c)", "count(1)", "__c"
    else:
        n, nd, w = "count(1)", "CAST(NULL AS BIGINT)", "1"
    rows = sql(
        # rollup adds the both-sides row (side NULL) the bin width uses;
        # least/greatest skip a NULL endpoint
        f"""SELECT side, {n} AS n, {nd} AS nd,
               sum(IF(s IS NULL OR e IS NULL, {w}, 0)) AS nulls,
               sum(IF(e < s, {w}, 0)) AS rev,
               approx_count_distinct(__kx) AS groups,
               min(least(s, e)) AS lo, max(greatest(s, e)) AS hi,
               percentile_approx(e - s + 1, 0.9) AS p90
        FROM ({union}) GROUP BY ROLLUP(side)""",
        **frames,
    ).collect()
    by_side = {r["side"]: r for r in rows}
    both = by_side.get(None)
    return RequestStats(
        by_side.get("x", _NO_ROWS), by_side.get("y", _NO_ROWS), both and both["p90"]
    )


def build_overlap_pairs(
    xw: DataFrame,
    yw: DataFrame,
    n_groups: int,
    strategy: str = "auto",
    bin_width: Optional[int] = None,
    skew_salt: Optional[int] = None,
    auto_stats: Union[tuple, RequestStats, None] = None,
    how: str = "inner",
) -> DataFrame:
    """Join x intervals to y periods on closed-interval overlap.

    Output carries ``__yg*`` (y group keys), all x columns except its
    group keys, and ``__ys/__ye`` — one row per overlapping (x, y) pair:
    exactly the multiset ``foverlaps`` produces (reference
    timeperiod_functions.R:239-240) minus the unmatched y rows, which
    the caller restores with a completion join.

    ``how="left"`` additionally keeps every UNMATCHED x row exactly once
    with NULL ``__ys/__ye``/y-payload (data.table ``nomatch=NA``); the
    ``__yg*`` columns are then populated from x's own group keys (they
    are null-safe-equal on matched rows, so this is a pure widening).
    The left variant is built INSIDE each physical strategy — a direct
    left-outer join for the equi/broadcast shapes (zero extra
    exchanges) and, for the bin shape, a first-bin null candidate
    resolved by one ``max(matched)`` window over the x identity
    (group keys, start, end) — exactly one extra exchange, no
    dropDuplicates, no anti join, no second scan of x. x rows must be
    unique by (group keys, start, end); ``overlap_join`` documents
    that contract.

    ``auto_stats=(nx, ny, n_groups_distinct)`` feeds the auto picker
    without its stats action (hot paths that know their sizes; the
    numbers only steer the strategy choice, never correctness). A
    :class:`RequestStats` is trusted as fresh (no recheck) and, when it
    has a ``p90``, also gives the bin width; without either, both share
    one action.
    """
    check_strategy(strategy)
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    overlap = ["__xs <= __ye", "__xe >= __ys"]
    # for left output, y group keys come from the preserved x side
    out_g = [
        f"__g{i} AS __yg{i}" if how == "left" else f"__yg{i}" for i in range(n_groups)
    ]
    x_payload = [c for c in xw.columns if not c.startswith("__g")]
    # y-side payload beyond (group keys, __ys, __ye) carries through —
    # empty for the rollup callers, populated by overlap_join
    y_payload = [
        c for c in yw.columns
        if not c.startswith("__yg") and c not in ("__ys", "__ye")
    ]
    out = [*out_g, *x_payload, "__ys", "__ye", *y_payload]

    stats = auto_stats if isinstance(auto_stats, RequestStats) else None
    if strategy == "auto" and n_groups:
        hint = stats.auto_stats if stats else auto_stats
        est = None if hint is None else _volume(hint)
        if est is None or (
            stats is None and AUTO_BIN_PAIRS // AUTO_STATS_RECHECK_BAND < est <= AUTO_BIN_PAIRS
        ):
            # no hint, or a hint that says group_equi but sits inside
            # the cliff's padding band: pay the one stats action to
            # decide against the data as it is NOW
            stats = request_stats(xw, yw, n_groups, distinct=False)
            est = _volume(stats.auto_stats)
        strategy = "bin" if est > AUTO_BIN_PAIRS else "group_equi"
    elif strategy == "auto":
        strategy = "bin"

    if strategy in ("group_equi", "broadcast_y", "broadcast_x"):
        cond = F.expr(" AND ".join(_group_cond(n_groups) + overlap))
        if how == "left":
            # x is the preserved side. broadcast_x keeps its broadcast by
            # flipping to a right-outer join (BroadcastHashJoin supports
            # BuildLeft + RightOuter, not BuildLeft + LeftOuter).
            if strategy == "broadcast_x":
                pairs = yw.join(F.broadcast(xw), cond, "right")
            else:
                right = F.broadcast(yw) if strategy == "broadcast_y" else yw
                pairs = xw.join(right, cond, "left")
        else:
            left, right = yw, xw
            if strategy == "broadcast_y":
                left = F.broadcast(yw)
            elif strategy == "broadcast_x":
                right = F.broadcast(xw)
            pairs = left.join(right, cond, "inner")
        return pairs.selectExpr(*out)

    if not (bin_width or (stats and stats.p90)):
        stats = request_stats(xw, yw, n_groups, distinct=False)
    w = int(bin_width or stats.bin_width)
    xbin = [f"explode(sequence(floor(__xs / {w}), floor(__xe / {w}))) AS __bin"]
    ybin = [f"explode(sequence(floor(__ys / {w}), floor(__ye / {w}))) AS __ybin"]
    # first-shared-bin: count each overlapping pair exactly once, so
    # no post-join dedup — the §4.4 row-count invariant holds by
    # construction.
    cond = _group_cond(n_groups) + [
        "__ybin = __bin", *overlap, f"__ybin = floor(greatest(__xs, __ys) / {w})"
    ]
    xb = xw.selectExpr("*", *xbin)
    yb = yw.selectExpr("*", *ybin)
    if skew_salt and skew_salt > 1:
        # Salt hot (group, bin) keys: x rows pick a deterministic
        # salt; y rows replicate across all salts (y is the smaller
        # side for rollup workloads). Joining on (bin, salt) splits
        # a hot bin across skew_salt reducers.
        s = int(skew_salt)
        xb = xb.selectExpr("*", f"pmod(xxhash64(__xs, __xe), {s}) AS __salt")
        yb = yb.selectExpr("*", f"explode(sequence(0, {s - 1})) AS __ysalt")
        cond.append("__ysalt = __salt")
    cond = F.expr(" AND ".join(cond))
    if how == "left":
        # Preserve x: a left-outer join over the EXPLODED x emits one
        # NULL row per (x, bin) slot with no bin-local match, so
        # (a) keep NULL candidates only at x's FIRST bin (one
        # candidate per x row, mirroring the first-shared-bin dedup),
        # (b) resolve "matched somewhere else?" with a single
        # max(matched) window over the x identity — one extra
        # exchange vs the inner plan, no anti join, x scanned once.
        wx = ", ".join([f"__g{i}" for i in range(n_groups)] + ["__xs", "__xe"])
        return (
            xb.join(yb, cond, "left")
            .where(f"__ys IS NOT NULL OR __bin = floor(__xs / {w})")
            .selectExpr(
                *out,
                f"max(CAST(__ys IS NOT NULL AS INT)) OVER (PARTITION BY {wx}) AS __has",
            )
            .where("__ys IS NOT NULL OR __has = 0")
            .drop("__has")
        )
    return yb.join(xb, cond, "inner").selectExpr(*out)
