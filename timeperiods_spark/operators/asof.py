"""As-of join: match each query time to the latest observation at or
before it (optionally within a tolerance), per group.

Beyond the reference's surface (SURVEY.md §2.3 notes it has no as-of
join), but the canonical timeseries join every retention-tier user
asks for next — e.g. "the tier value in force at time t".

Spark-first shape: NOT a join at all. Observations and query times are
UNIONED into one stream with a marker, and each observation row is
packed into ONE struct ``(time, values…)`` that is carried forward
with a single ``last(…, ignorenulls=True)`` — so every carried field
(matched time AND all value columns, NULLs included) comes from the
SAME observation row, matching DuckDB ASOF / pandas merge_asof
row-atomicity even when observation values are NULL. Linear work, no
pair fan-out (a naive theta join on ``obs.ts <= q.ts`` is quadratic
per group and then needs a max reduction).

The carry window runs within (group…, time-bucket) via the shared
plans/carry.py machinery: the bucket is a deterministic function of
the row, each bucket's carry-in is the group's latest observation
struct from all earlier buckets (``max`` over structs is ordered by
the leading time field), and the guard falls back to plain per-group
windows when groups are many.

Ties: an observation AT the query time matches (closed semantics,
consistent with the engine's closed intervals). Duplicate observation
times within a group resolve deterministically by struct comparison
(NULL value fields sort low) — pass pre-deduplicated observations for
full control, as the driver query does.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..errors import RoleValidationError
from ..plans.carry import Carry, attach_carry, plan_buckets


def asof_join(
    queries: DataFrame,
    observations: DataFrame,
    on: str,
    value_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    tolerance: Optional[int] = None,
    n_buckets: Optional[int] = None,
    cache: bool = True,
    direction: str = "backward",
) -> DataFrame:
    """For each query row, attach the matched observation value(s) in
    the same group. Unmatched queries keep NULL values.

    ``direction`` (pandas merge_asof's vocabulary):

    - ``"backward"`` (default): latest observation with
      ``obs.on <= query.on``; ``tolerance`` masks matches older than
      ``query.on - tolerance``.
    - ``"forward"``: earliest observation with ``obs.on >= query.on``
      (implemented as the backward scan over negated times — one pass,
      same plan shape); ``tolerance`` masks matches beyond
      ``query.on + tolerance``.
    - ``"nearest"``: whichever of the two is closer in time, ties going
      to the backward (earlier) observation; costs both passes. An
      observation AT the query time matches in every direction (closed
      semantics).

    Output: all query columns + ``value_vars…`` + ``asof_<on>`` (the
    matched observation time, NULL when unmatched). ``on`` is returned
    as a long (grid units) in all directions.

    ``cache=True`` persists the unioned stream (it feeds the bucket
    bounds action plus two plan subtrees); long-lived sessions issuing
    many as-of joins should pass ``cache=False`` to avoid accumulating
    cached blocks, at the cost of recomputing the union per subtree.
    """
    group_vars = list(group_vars or [])
    value_vars = list(value_vars)
    if not value_vars:
        raise RoleValidationError("value_vars must name at least one column")
    if direction not in ("backward", "forward", "nearest"):
        raise RoleValidationError(
            "direction must be 'backward', 'forward', or 'nearest'"
        )
    if direction == "forward":
        neg_q = queries.withColumn(on, -F.col(on).cast("long"))
        neg_o = observations.withColumn(on, -F.col(on).cast("long"))
        out = asof_join(
            neg_q, neg_o, on, value_vars, group_vars,
            tolerance=tolerance, n_buckets=n_buckets, cache=cache,
        )
        return out.withColumn(on, -F.col(on)).withColumn(
            f"asof_{on}", -F.col(f"asof_{on}")
        )
    if direction == "nearest":
        # backward pass first; its outputs ride through the forward
        # pass as ordinary query payload, then the closer match wins
        bwd = asof_join(
            queries, observations, on, value_vars, group_vars,
            tolerance=tolerance, n_buckets=n_buckets, cache=cache,
        )
        renames = {v: f"__bwd_{v}" for v in value_vars}
        renames[f"asof_{on}"] = "__bwd_t"
        for old, new in renames.items():
            bwd = bwd.withColumnRenamed(old, new)
        fwd = asof_join(
            bwd, observations, on, value_vars, group_vars,
            tolerance=tolerance, n_buckets=n_buckets, cache=cache,
            direction="forward",
        )
        t = F.col(on).cast("long")
        d_b = t - F.col("__bwd_t")
        d_f = F.col(f"asof_{on}") - t
        use_b = F.col("__bwd_t").isNotNull() & (
            F.col(f"asof_{on}").isNull() | (d_b <= d_f)
        )
        out = fwd
        for v in value_vars:
            out = out.withColumn(
                v, F.when(use_b, F.col(f"__bwd_{v}")).otherwise(F.col(v))
            )
        out = out.withColumn(
            f"asof_{on}",
            F.when(use_b, F.col("__bwd_t")).otherwise(F.col(f"asof_{on}")),
        )
        return out.drop("__bwd_t", *[f"__bwd_{v}" for v in value_vars])
    for name, df, need in (
        ("queries", queries, group_vars + [on]),
        ("observations", observations, group_vars + [on] + value_vars),
    ):
        missing = [c for c in need if c not in df.columns]
        if missing:
            raise RoleValidationError(f"columns {missing} not present in {name}")
    clash = [c for c in value_vars + [f"asof_{on}"] if c in queries.columns]
    if clash:
        raise RoleValidationError(
            f"columns {clash} would collide with query columns; rename them"
        )

    q_payload = [c for c in queries.columns if c not in group_vars and c != on]
    vfields = [f"__v_{v}" for v in value_vars]
    obs = observations.select(
        *group_vars,
        F.col(on).cast("long").alias("__t"),
        F.lit(0).alias("__m"),  # observations sort BEFORE queries at a tie
        # one struct per observation row — carried atomically
        F.struct(
            F.col(on).cast("long").alias("__ot"),
            *[F.col(v).alias(f"__v_{v}") for v in value_vars],
        ).alias("__obs"),
        *[
            F.lit(None).cast(queries.schema[c].dataType).alias(f"__q_{c}")
            for c in q_payload
        ],
    )
    qs = queries.select(
        *group_vars,
        F.col(on).cast("long").alias("__t"),
        F.lit(1).alias("__m"),
        F.lit(None).cast(obs.schema["__obs"].dataType).alias("__obs"),
        *[F.col(c).alias(f"__q_{c}") for c in q_payload],
    )
    stream = obs.unionByName(qs)
    if cache:
        from ..plans.cachectl import managed_persist_percall

        # the stream feeds the bucket-bounds action plus two plan
        # subtrees (per-bucket carry, bucket last-observations);
        # managed: a repeat call releases the previous call's frame.
        # The tag carries the direction so 'nearest' (backward pass
        # consumed lazily by the forward pass) doesn't evict its own
        # still-needed backward stream mid-composition.
        stream = managed_persist_percall(
            stream, f"asof_join.stream.{direction}", keep=2
        )

    plan = plan_buckets(stream, group_vars, "__t", n_buckets=n_buckets)
    if plan.empty:
        return stream.filter(F.lit(False)).select(
            *group_vars,
            F.col("__t").alias(on),
            *[F.col(f"__q_{c}").alias(c) for c in q_payload],
            *[F.col("__obs").getField(f"__v_{v}").alias(v) for v in value_vars],
            F.col("__obs").getField("__ot").alias(f"asof_{on}"),
        )

    # carry-in per (group…, bucket): the group's latest observation
    # struct from all STRICTLY EARLIER buckets. max over structs orders
    # by the leading __ot field, skips the NULL structs on query rows,
    # and every non-empty bucket keeps a frame row (so buckets holding
    # only queries still receive the chain).
    stitched = attach_carry(plan, [Carry("__carry", "max", "__obs")])
    w = (
        Window.partitionBy(*group_vars, "__bk")
        # third sort key: duplicate observation times within a bucket
        # must resolve by the same struct comparison the cross-bucket
        # carry uses (max over __obs), not by arrival order — without
        # it F.last over a (__t, __m)-tied frame is order-dependent
        .orderBy("__t", "__m", F.col("__obs").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = F.coalesce(F.last("__obs", ignorenulls=True).over(w), F.col("__carry"))
    out = stitched.withColumn("__match", matched).filter(F.col("__m") == 1)
    if tolerance is not None:
        stale = (
            F.col("__t") - F.col("__match").getField("__ot") > F.lit(int(tolerance))
        )
        out = out.withColumn(
            "__match", F.when(~stale, F.col("__match"))  # NULL when stale
        )
    return out.select(
        *group_vars,
        F.col("__t").alias(on),
        *[F.col(f"__q_{c}").alias(c) for c in q_payload],
        *[F.col("__match").getField(f"__v_{v}").alias(v) for v in value_vars],
        F.col("__match").getField("__ot").alias(f"asof_{on}"),
    )
