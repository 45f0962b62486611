"""Interval union: merge overlapping/adjacent intervals per group.

The complement of ``remove_overlaps`` (which DECOMPOSES into atomic
pieces): ``merge_intervals`` returns each group's maximal disjoint
covered intervals — the classic gaps-and-islands coverage operation
(e.g. "when was ANY measurement active"). Closed integer-grid
semantics: intervals that touch or are adjacent (``a.end + 1 ==
b.start``) merge, matching the engine's cell-coverage model.

Spark-first shape: a boundary sweep, not a sort-and-scan. Each
interval emits +1 at ``start`` and -1 at ``end + 1``; deltas aggregate
by (group, position) (ONE shuffle, map-side combined), a carried
prefix-sum (plans/carry.py — no per-group window ceiling) yields the
running coverage count, and rows where the count enters/leaves zero
are the merged interval boundaries, paired by a second carried prefix
count. Same machinery as the width-1 rollup sweep and sessionize.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..errors import IntervalValidationError, RoleValidationError
from ..plans.carry import Carry, attach_carry, plan_buckets
from .interval_avg import _grid, _is_intervalish, _sweep_checked_end, _ungrid


def merge_intervals(
    x: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    group_count_hint: Optional[int] = None,
    cache: bool = True,
) -> DataFrame:
    """Maximal disjoint union intervals per group: columns
    ``group_vars…, <start>, <end>, n_source_intervals`` (how many input
    intervals the merged one absorbed). Integer or Date interval
    columns, NULL-free, ``end >= start`` (same contract as the rest of
    the interval toolkit). Invalid rows (NULL endpoint or end < start)
    RAISE: a row-local guard is threaded into the sweep expressions, so
    the error surfaces inside the first job that scans the input (a
    ``SparkRuntimeException`` naming this operator) at no extra cost —
    no silent negative-coverage corruption."""
    group_vars = list(group_vars or [])
    if len(interval_vars) != 2:
        raise RoleValidationError("interval_vars must name exactly (start, end)")
    xf = {f.name: f.dataType for f in x.schema.fields}
    s_t = xf[interval_vars[0]]
    if not (_is_intervalish(s_t) and _is_intervalish(xf[interval_vars[1]])):
        raise IntervalValidationError("interval_vars must be integer or date columns")
    gcols = [f"__g{i}" for i in range(len(group_vars))]
    base = x.select(
        *[F.col(g).alias(gc) for g, gc in zip(group_vars, gcols)],
        F.expr(_grid(interval_vars[0], xf[interval_vars[0]])).alias("__xs"),
        _sweep_checked_end(
            F.expr(_grid(interval_vars[0], xf[interval_vars[0]])),
            F.expr(_grid(interval_vars[1], xf[interval_vars[1]])),
            "merge_intervals",
        ).alias("__xe"),
    )
    # boundary deltas; __n counts source-interval starts per position
    side = base.select(
        *gcols,
        F.explode(F.sequence(F.lit(0), F.lit(1))).alias("__i"),
        "__xs",
        "__xe",
    )
    pos = F.when(F.col("__i") == 0, F.col("__xs")).otherwise(F.col("__xe") + 1)
    sign = (F.lit(1) - 2 * F.col("__i")).cast("long")
    deltas = (
        side.select(*gcols, pos.alias("__pos"), sign.alias("__d"))
        .groupBy(*gcols, "__pos")
        .agg(
            F.sum("__d").alias("__d"),
            F.sum(F.when(F.col("__d") > 0, 1).otherwise(0)).alias("__n"),
        )
    )
    if cache:
        # the (boundary-sized, post-aggregate) delta frame feeds both
        # bucket-planner stats actions plus the main plan — persist so
        # the raw input is scanned once; managed, so repeat calls
        # release the previous frame (cache=False opts out)
        from ..plans.cachectl import managed_persist_percall

        # per-call tag (r5 item 6): pipelines hold several lazy
        # merge_intervals results at once; a shared tag evict-thrashes
        deltas = managed_persist_percall(
            deltas, "merge_intervals.deltas", keep=2
        )

    plan = plan_buckets(
        deltas, gcols, "__pos", group_count_hint=group_count_hint
    )
    stitched = attach_carry(plan, [Carry("__cd", "sum", "__d")])
    w = Window.partitionBy(*gcols, "__bk").orderBy("__pos")
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    rc = F.sum("__d").over(wsum) + F.coalesce("__cd", F.lit(0))
    # island ordinal: running count of coverage STARTS (0 -> positive
    # transitions); a position starts an island iff the count before it
    # (rc - its own delta) was zero and it is positive after
    is_start = ((rc - F.col("__d")) == 0) & (rc > 0)
    marked = stitched.select(
        *gcols,
        "__pos",
        "__d",
        "__n",
        rc.alias("__rc"),
        is_start.cast("long").alias("__st"),
    )
    plan2 = plan_buckets(
        marked, gcols, "__pos",
        # reuse stage-1 stats: same keys, same positions — no second
        # stats action
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
    rows = stitched2.select(*gcols, "__pos", "__n", "__rc", island)
    # within an island: min pos = merged start; the position where the
    # count returns to zero is its end boundary (end = pos - 1)
    out = rows.groupBy(*gcols, "__island").agg(
        F.min("__pos").alias("__s"),
        F.max(F.when(F.col("__rc") == 0, F.col("__pos") - 1)).alias("__e"),
        F.sum("__n").cast("long").alias("n_source_intervals"),
    )
    return out.select(
        *[F.col(gc).alias(g) for gc, g in zip(gcols, group_vars)],
        F.expr(_ungrid("__s", s_t)).alias(interval_vars[0]),
        F.expr(_ungrid("__e", s_t)).alias(interval_vars[1]),
        "n_source_intervals",
    )
