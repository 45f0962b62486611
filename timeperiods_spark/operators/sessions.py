"""Gap-based sessionization of event streams.

Beyond the reference's surface (SURVEY.md §2.3: no session windows),
but the canonical event-time grouping every analytics engine ships
(Spark's own ``session_window`` covers the AGGREGATED form only — this
operator labels every ROW with its session ordinal, which feeds
session-level joins, funnels, and per-session training-sequence
assembly).

Semantics: within each group, rows ordered by (ts, tiebreak…) start a
new session when the time since the previous row exceeds ``gap``
(strictly); the first row of a group starts session 1. ``session_id``
is the per-group ordinal of the row's session.

Spark-first shape: two carried scans via plans/carry.py — a window
partitioned by the group columns alone would serialize one task per
group (one total, ungrouped):

1. carry the previous timestamp across (group, time-bucket) boundaries
   (the group's max ts over earlier buckets) → session-start flags;
2. prefix-sum the flags with a second carry of the per-bucket flag
   totals → session ordinals.

Rows with NULL timestamps get NULL session_id (order among them is
undefined); equal timestamps always share a bucket, and the gap test
over a tie is 0 <= gap, so tie order never splits a session.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..errors import RoleValidationError
from ..plans.carry import Carry, attach_carry, plan_buckets


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap: int,
    group_vars: Optional[Sequence[str]] = None,
    *,
    tiebreak: Optional[Sequence[str]] = None,
    session_col: str = "session_id",
    group_count_hint: Optional[int] = None,
    bounds_hint: Optional[tuple] = None,
) -> DataFrame:
    """Label every row with its per-group session ordinal.

    ``ts_col`` must cast to long (integer grid units or epoch seconds —
    cast timestamps with ``F.unix_timestamp`` first for sub-second
    grids); ``gap`` is in the same units. ``tiebreak`` columns make the
    within-tie order (and therefore row-to-session assignment at a
    session boundary ON a tie) deterministic — the session COUNT is
    tie-order-independent either way.
    """
    group_vars = list(group_vars or [])
    tiebreak = list(tiebreak or [])
    if session_col in df.columns:
        raise RoleValidationError(
            f"column {session_col!r} already exists; pass session_col="
        )
    base = df.withColumn("__t", F.col(ts_col).cast("long"))
    plan = plan_buckets(
        base,
        group_vars,
        "__t",
        group_count_hint=group_count_hint,
        bounds_hint=bounds_hint,
    )

    # stage 1: previous timestamp, stitched across buckets
    stage1 = attach_carry(plan, [Carry("__carry_t", "max", "__t")])
    w = Window.partitionBy(*group_vars, "__bk").orderBy("__t", *tiebreak)
    prev_t = F.coalesce(F.lag("__t").over(w), F.col("__carry_t"))
    flagged = stage1.withColumn(
        "__flag",
        F.when(F.col("__t").isNull(), None)
        .when(prev_t.isNull() | (F.col("__t") - prev_t > F.lit(int(gap))), 1)
        .otherwise(0),
    )

    # stage 2: prefix-sum the flags (per-bucket totals carried)
    stitched = attach_carry(
        plan, [Carry("__carry_flags", "sum", "__flag")], df=flagged
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    sid = F.when(
        F.col("__t").isNotNull(),
        (F.sum("__flag").over(wsum) + F.coalesce("__carry_flags", F.lit(0))).cast(
            "long"
        ),
    )
    return (
        stitched.withColumn(session_col, sid)
        .drop("__t", "__bk", "__carry_t", "__flag", "__carry_flags")
    )
