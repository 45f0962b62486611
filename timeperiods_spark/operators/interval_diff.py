"""Interval difference: subtract one interval set's coverage from
another's, per group.

Completes the interval algebra next to ``remove_overlaps`` (decompose)
and ``merge_intervals`` (union): ``interval_difference(x, y)`` returns
the maximal disjoint intervals covered by x but NOT by y — "when was a
measurement active with no maintenance window", or, with x = one full
span, the GAP report of y (every uncovered stretch).

Same boundary-sweep shape as merge_intervals: both sets' deltas merge
into one (group, position) frame carrying separate +/- counts for x
and y, one carried prefix-sum yields both running coverages, and
islands of (x covered AND y uncovered) pair starts with ends via a
second carried prefix count. No sort-and-scan, no per-group window
ceiling (plans/carry.py throughout).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..errors import IntervalValidationError, RoleValidationError
from ..plans.carry import Carry, attach_carry, plan_buckets
from .interval_avg import _grid, _is_intervalish, _sweep_checked_end, _ungrid


def _deltas(df, interval_vars, group_vars, gcols, which: str):
    xf = {f.name: f.dataType for f in df.schema.fields}
    base = df.select(
        *[F.col(g).alias(gc) for g, gc in zip(group_vars, gcols)],
        F.expr(_grid(interval_vars[0], xf[interval_vars[0]])).alias("__s"),
        # row-local guard: NULL/reversed intervals raise in the first
        # scan instead of silently corrupting the coverage sweep
        _sweep_checked_end(
            F.expr(_grid(interval_vars[0], xf[interval_vars[0]])),
            F.expr(_grid(interval_vars[1], xf[interval_vars[1]])),
            "interval_difference",
        ).alias("__e"),
    )
    side = base.select(
        *gcols, F.explode(F.sequence(F.lit(0), F.lit(1))).alias("__i"), "__s", "__e"
    )
    pos = F.when(F.col("__i") == 0, F.col("__s")).otherwise(F.col("__e") + 1)
    sign = (F.lit(1) - 2 * F.col("__i")).cast("long")
    other = "__dy" if which == "__dx" else "__dx"
    return side.select(
        *gcols,
        pos.alias("__pos"),
        sign.alias(which),
        F.lit(0).cast("long").alias(other),
    )


def interval_difference(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    group_count_hint: Optional[int] = None,
    cache: bool = True,
) -> DataFrame:
    """Maximal disjoint intervals covered by ``x`` and not by ``y``
    within each group: columns ``group_vars…, <start>, <end>``. Both
    frames share the interval/group column names; closed integer-grid
    semantics (a y interval removes exactly its cells; adjacent
    remainders merge). Invalid rows (NULL endpoint or end < start) in
    either frame raise inside the first job that scans them via the
    sweep guard — no silent coverage corruption."""
    group_vars = list(group_vars or [])
    if len(interval_vars) != 2:
        raise RoleValidationError("interval_vars must name exactly (start, end)")
    for name, df in (("x", x), ("y", y)):
        xf = {f.name: f.dataType for f in df.schema.fields}
        missing = [c for c in list(interval_vars) + group_vars if c not in df.columns]
        if missing:
            raise RoleValidationError(f"columns {missing} not present in {name}")
        if not all(_is_intervalish(xf[c]) for c in interval_vars):
            raise IntervalValidationError(
                f"interval_vars must be integer or date columns in {name}"
            )
    s_t = {f.name: f.dataType for f in x.schema.fields}[interval_vars[0]]
    gcols = [f"__g{i}" for i in range(len(group_vars))]
    deltas = (
        _deltas(x, interval_vars, group_vars, gcols, "__dx")
        .unionByName(_deltas(y, interval_vars, group_vars, gcols, "__dy"))
        .groupBy(*gcols, "__pos")
        .agg(F.sum("__dx").alias("__dx"), F.sum("__dy").alias("__dy"))
    )
    if cache:
        # boundary-sized post-aggregate frame feeding two planner stats
        # actions plus the main plan — scan both sources once;
        # managed, so repeat calls release the previous frame
        from ..plans.cachectl import managed_persist_percall

        deltas = managed_persist_percall(
            deltas, "interval_difference.deltas", keep=2
        )

    plan = plan_buckets(deltas, gcols, "__pos", group_count_hint=group_count_hint)
    stitched = attach_carry(
        plan, [Carry("__cx", "sum", "__dx"), Carry("__cy", "sum", "__dy")]
    )
    w = Window.partitionBy(*gcols, "__bk").orderBy("__pos")
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    rx = F.sum("__dx").over(wsum) + F.coalesce("__cx", F.lit(0))
    ry = F.sum("__dy").over(wsum) + F.coalesce("__cy", F.lit(0))
    active = (rx > 0) & (ry <= 0)
    # previous state (before this position's deltas)
    prev_active = ((rx - F.col("__dx")) > 0) & ((ry - F.col("__dy")) <= 0)
    marked = stitched.select(
        *gcols,
        "__pos",
        active.alias("__a"),
        prev_active.alias("__pa"),
        F.when(active & ~prev_active, 1).otherwise(0).cast("long").alias("__st"),
    )
    plan2 = plan_buckets(
        marked, gcols, "__pos",
        group_count_hint=(
            group_count_hint if group_count_hint is not None else plan.est_groups
        ),
        bounds_hint=(plan.lo, plan.hi) if plan.lo is not None else None,
    )
    stitched2 = attach_carry(plan2, [Carry("__cst", "sum", "__st")])
    island = (
        F.sum("__st").over(
            Window.partitionBy(*gcols, "__bk").orderBy("__pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        + F.coalesce("__cst", F.lit(0))
    ).alias("__island")
    rows = stitched2.select(*gcols, "__pos", "__a", "__pa", island)
    # island start = min pos where the state turned on; its end boundary
    # is the first position where the state turns off (pos - 1)
    out = (
        rows.filter(F.col("__a") | F.col("__pa"))
        .groupBy(*gcols, "__island")
        .agg(
            F.min(F.when(F.col("__a"), F.col("__pos"))).alias("__s"),
            F.max(F.when(~F.col("__a") & F.col("__pa"), F.col("__pos") - 1)).alias("__e"),
        )
        .filter(F.col("__island") > 0)
        .filter(F.col("__e").isNotNull())
    )
    return out.select(
        *[F.col(gc).alias(g) for gc, g in zip(gcols, group_vars)],
        F.expr(_ungrid("__s", s_t)).alias(interval_vars[0]),
        F.expr(_ungrid("__e", s_t)).alias(interval_vars[1]),
    )


def find_gaps(
    x: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    span: tuple,
    group_count_hint: Optional[int] = None,
) -> DataFrame:
    """Uncovered stretches of ``span`` (grid units, inclusive) per
    group: the difference of the full span minus x's coverage. Groups
    come from x's distinct group set."""
    group_vars = list(group_vars or [])
    spark = x.sparkSession
    lo, hi = int(span[0]), int(span[1])
    # the synthetic full-span frame must carry x's interval dtype, or a
    # Date-typed x would come back as raw grid ints (the output type is
    # read off interval_difference's x side)
    s_t = {f.name: f.dataType for f in x.schema.fields}[interval_vars[0]]
    full = spark.range(1).select(
        F.expr(_ungrid(str(lo), s_t)).alias(interval_vars[0]),
        F.expr(_ungrid(str(hi), s_t)).alias(interval_vars[1]),
    )
    if group_vars:
        full = x.select(*group_vars).dropDuplicates().crossJoin(full)
    return interval_difference(
        full, x, interval_vars, group_vars, group_count_hint=group_count_hint
    )
