"""Shared bucketed-carry machinery for running/prefix window scans.

Every full-data window partitioned by the group columns caps
parallelism at one task per group — one task TOTAL when ungrouped
(SURVEY.md §2 O2/O22/O26; measured hang on dense low-cardinality
panels). The cure used across the engine is the same three-step shape:

1. add a DETERMINISTIC bucket key ``__bk = floor((t - lo) / W)`` —
   a pure function of the row, unlike ``spark_partition_id`` over a
   range exchange whose sampled boundaries can differ between jobs;
2. run the window within ``(group…, __bk)`` (parallelism =
   groups x buckets);
3. stitch bucket boundaries from a tiny per-(group, bucket) aggregate
   frame — chained with a window over buckets and broadcast-joined
   back null-safely (group keys may be NULL, tests.R:564-580).

Round 2 hand-rolled this three times (interval_avg integrity scan,
remove_overlaps sweep, as-of carry); this module is the single shared
implementation, plus the GROUP-CARDINALITY GUARD the r2 verdict asked
for: the carry frame is one row per (group, bucket), so with many
groups the broadcast would be groups x buckets rows — while a plain
per-group window is ALREADY parallel when groups are many. The plan
therefore buckets only when the estimated group count is below
``4 x defaultParallelism``; above it, ``__bk`` is a constant and the
carry columns are NULL literals (same call-site code path, no carry
frame, no broadcast). The bucket count is additionally capped so the
carry frame never exceeds ``carry_cap_rows``.

The group-count estimate comes from ``approx_count_distinct`` folded
into the SAME action that computes the bucket bounds (no extra job);
callers that know their cardinality pass ``group_count_hint``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from .sql import ident, sql

#: bucket when estimated groups < GUARD_FACTOR * defaultParallelism
GUARD_FACTOR = 4
#: never build a carry frame larger than this many (group, bucket) rows
CARRY_CAP_ROWS = 1_000_000
#: skip bucketing entirely when the caller vouches the per-group window
#: input is bounded by the t-domain and that domain is at most this many
#: rows — a per-group window over so few rows beats the carry subtree's
#: extra stages (bucket agg + broadcast), which cost ~1s of fixed wall
#: per job (measured on the tier sweep)
SMALL_DOMAIN_ROWS = 1 << 18

#: the frame over the group's buckets each carry direction aggregates
_FRAMES = {
    "before": "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING",
    "after": "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING",
}


@dataclass
class CarryPlan:
    """A bucketing decision over one frame: ``df`` carries ``__bk``.

    ``lo``/``hi``/``est_groups`` echo the stats the plan used (hinted
    or computed) so a second scan over the same keys can reuse them as
    hints instead of paying another stats action."""

    df: DataFrame
    gcols: list[str]
    bucketed: bool
    empty: bool
    n_buckets: int
    lo: Optional[int] = None
    hi: Optional[int] = None
    est_groups: Optional[int] = None


@dataclass(frozen=True)
class Carry:
    """One carried column ``name``: ``fn`` (``sum``/``min``/``max``) of
    the SQL expression ``expr`` over each (group…, bucket)'s rows, then
    carried across the group's buckets in bucket order — ``before``: the
    same ``fn`` over every earlier bucket (a prefix carry), ``after``:
    over every later bucket, ``next``: the next non-empty bucket's value
    (a forward handoff).

    ``max``/``min`` over a struct order by its leading field, and skip
    NULL structs — ``max(CASE WHEN cond THEN named_struct(t, …) END)``
    is a conditional latest-row carry that still keeps a frame row for
    every non-empty bucket."""

    name: str
    fn: str
    expr: str
    over: str = "before"


def _bucket_only(df: DataFrame) -> DataFrame:
    return df.withColumn("__bk", F.expr("CAST(0 AS BIGINT)"))


def plan_buckets(
    df: DataFrame,
    gcols: Sequence[str],
    t_col: str,
    *,
    n_buckets: Optional[int] = None,
    group_count_hint: Optional[int] = None,
    bounds_hint: Optional[tuple] = None,
    carry_cap_rows: int = CARRY_CAP_ROWS,
    rows_bounded_by_domain: bool = False,
) -> CarryPlan:
    """Decide bucketing for a running scan ordered by ``t_col``.

    Needs the t-range (for the bucket width) and the group cardinality
    (for the guard). When the caller supplies both as hints, NO eager
    action runs — important on hot paths where this frame is the
    unmaterialized output of a full source scan (a stats job there is
    a second full pass; measured +67% on the tier sweep). Otherwise
    one agg action computes exactly the missing stats. Hints need not
    be precise: any (lo, hi) roughly covering the data yields correct
    (deterministic, merely less balanced) buckets, and the group count
    only steers the bucket-vs-plain-window choice.

    ``rows_bounded_by_domain=True`` is a caller promise that the frame
    holds at most one row per (group, t) — true for frames already
    AGGREGATED by t (the sweep's delta frame, gap-fill scaffolds),
    false for raw event streams. With it, a known t-domain of at most
    SMALL_DOMAIN_ROWS skips bucketing: the per-group window over so few
    rows is faster than the carry subtree's extra stages.

    ``empty=True`` means no rows or every ``t_col`` NULL — only
    detected when bounds are computed here; callers with bounds hints
    flow through the bucketed path, which is also correct on empty
    frames (the carry frame is just empty).
    """
    gcols = list(gcols)
    par = df.sparkSession.sparkContext.defaultParallelism
    guard = GUARD_FACTOR * par
    if gcols and group_count_hint is not None and int(group_count_hint) >= guard:
        # many groups: per-group windows are already parallel, and a
        # groups x buckets carry frame would be broadcast poison —
        # decidable from the hint alone, no action
        return CarryPlan(
            _bucket_only(df), gcols, False, False, 1, est_groups=int(group_count_hint)
        )
    need_bounds = bounds_hint is None
    need_groups = bool(gcols) and group_count_hint is None
    lo = hi = None
    est_groups = 0 if not gcols else group_count_hint
    if need_bounds or need_groups:
        t = ident(t_col)
        aggs = [f"min({t}) AS __lo", f"max({t}) AS __hi"] if need_bounds else [
            "count(1) AS __n"
        ]
        if need_groups:
            # struct(): approx_count_distinct over bare NULL-able
            # columns drops NULL-key rows; a struct row is never NULL
            keys = ", ".join(ident(g) for g in gcols)
            aggs.append(f"approx_count_distinct(struct({keys})) AS __ng")
        row = df.selectExpr(*aggs).first()
        if row is None or (need_bounds and row["__lo"] is None) or (
            not need_bounds and row["__n"] == 0
        ):
            return CarryPlan(_bucket_only(df), gcols, False, True, 1)
        if need_bounds:
            lo, hi = int(row["__lo"]), int(row["__hi"])
        if need_groups:
            est_groups = int(row["__ng"])
    if lo is None:
        lo, hi = int(bounds_hint[0]), int(bounds_hint[1])
    est_groups = int(est_groups or 0)
    if (rows_bounded_by_domain and (hi - lo + 1) <= SMALL_DOMAIN_ROWS) or (
        gcols and est_groups >= guard
    ):
        return CarryPlan(
            _bucket_only(df), gcols, False, False, 1,
            lo=lo, hi=hi, est_groups=est_groups,
        )
    if n_buckets is None:
        n_buckets = max(2, par * 4)
    n_buckets = max(2, min(n_buckets, carry_cap_rows // max(1, est_groups)))
    width = max(1, (hi - lo) // n_buckets + 1)
    out = df.withColumn(
        "__bk", F.expr(f"CAST(({ident(t_col)} - ({lo})) / {width} AS BIGINT)")
    )
    return CarryPlan(
        out, gcols, True, False, n_buckets, lo=lo, hi=hi, est_groups=est_groups
    )


def attach_carry(
    plan: CarryPlan,
    carries: Sequence[Carry],
    df: Optional[DataFrame] = None,
) -> DataFrame:
    """Attach each :class:`Carry` column to ``plan.df``.

    Bucketed plans build the carry frame — one row per (group…, bucket):
    the bucket aggregates and the carry window over them in one
    aggregate — and broadcast-join it back null-safely, all in one SQL
    statement.

    When the plan is unbucketed (many groups / guard tripped), every
    group is a single bucket, so every carry is NULL: the columns are
    attached as NULLs typed like their ``expr`` (one projection, no
    carry frame, no broadcast). The per-bucket window at the call site
    is then exactly the per-group window, and coalescing with a NULL
    carry is the identity. Same call-site code either way.

    ``df`` overrides the frame to aggregate/attach (must carry the
    plan's ``__bk`` column and group keys) — for multi-stage scans
    where a later carry aggregates columns derived after an earlier
    attach (e.g. sessionize: stage 1 carries the previous timestamp,
    stage 2 prefix-sums the session-start flags computed from it).
    """
    src = plan.df if df is None else df
    if not plan.bucketed:
        return src.selectExpr(
            "*", *[f"IF(false, {c.expr}, NULL) AS {ident(c.name)}" for c in carries]
        )
    keys = [ident(g) for g in plan.gcols]
    w = f"PARTITION BY {', '.join(keys) or '1'} ORDER BY __bk"
    over = [
        f"lead({c.fn}({c.expr})) OVER ({w})" if c.over == "next"
        else f"{c.fn}({c.fn}({c.expr})) OVER ({w} {_FRAMES[c.over]})"
        for c in carries
    ]
    names = [ident(c.name) for c in carries]
    on = " AND ".join(
        ["s.__bk = c.__hbk"] + [f"s.{k} <=> c.__h{i}" for i, k in enumerate(keys)]
    )
    return sql(
        f"""SELECT /*+ BROADCAST(c) */ s.*, {", ".join(f"c.{n}" for n in names)}
        FROM {{src}} s LEFT JOIN (
            SELECT {"".join(f"{k} AS __h{i}, " for i, k in enumerate(keys))}
                   __bk AS __hbk,
                   {", ".join(f"{o} AS {n}" for o, n in zip(over, names))}
            FROM {{src}} GROUP BY {"".join(f"{k}, " for k in keys)}__bk
        ) c ON {on}""",
        src=src,
    )
