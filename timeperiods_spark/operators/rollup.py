"""Regular-grid tier rollups, partial aggregates, and cascades.

The retention tiers of the north star (hourly → daily → weekly) are a
special case of interval_weighted_avg where the period schedule y is a
REGULAR grid: period p covers ``[origin + p*width, origin + (p+1)*width - 1]``
(closed, grid units). That regularity removes the join entirely:

- ``rollup_regular`` explodes each measurement interval to the period
  ids it touches (``sequence(floor((s-o)/W), floor((e-o)/W))`` — pure
  map-side, fan-out = interval length / W), clips, and hash-aggregates
  by (group, period). ONE shuffle total, keyed by (group, period) —
  the plan a 1000-executor cluster wants. It is differentially tested
  against interval_weighted_avg over an explicit scaffold y.

- Partial mode keeps the ADDITIVE pre-projection aggregates
  (xduration, nobs_v, sumprod_v, xminstart, xmaxend) instead of the
  finished means. Partials are mergeable, which makes continuous
  aggregates incremental and tier cascades exact: daily partials are
  the exact sum of hourly partials when tier widths nest
  (24h | 168h), so coarser tiers are computed from the finer tier's
  materialization without touching raw data — and ``finalize_rollup``
  derives the reference-contract columns at read time.

Reference parity: finished outputs reproduce interval_weighted_avg_f's
columns (/root/reference/timeperiod_functions.R:300-347) projected onto
a regular y schedule.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..errors import RoleValidationError
from ..plans.sql import ident

PARTIAL_COLS = ("xduration", "xminstart", "xmaxend")

#: the ``algorithm`` names ``rollup_regular`` accepts
ALGORITHMS = ("explode", "sweep")


def _nullsafe_broadcast_join(
    left: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    *,
    require_match_col: Optional[str] = None,
) -> DataFrame:
    """Broadcast-join ``dim`` onto ``left`` matching NULL keys to NULL.

    A name-based equality join silently DROPS rows whose key is NULL,
    but NULL group keys are legal everywhere else in this engine
    (reference tests.R:564-580; strategy.py uses eqNullSafe). Renames
    the dim's key columns to avoid ambiguity, joins with ``<=>``, and
    drops the duplicated key columns.

    With ``require_match_col`` (the name of a column that survives into
    the caller's output), the join turns left-outer with a threaded
    assert that every left row found a dim match — used when the dim is
    USER-SUPPLIED and an incomplete one would otherwise silently drop
    whole groups."""
    from functools import reduce

    keys = list(keys)
    dimr = dim
    for k in keys:
        dimr = dimr.withColumnRenamed(k, f"__dk_{k}")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"__dk_{k}")) for k in keys],
    )
    if require_match_col is None:
        out = left.join(F.broadcast(dimr), cond)
    else:
        dimr = dimr.withColumn("__dim_ok", F.lit(True))
        out = left.join(F.broadcast(dimr), cond, "left")
        guard = F.assert_true(
            F.col("__dim_ok").isNotNull(),
            F.lit(
                "group_dim is missing group values present in the data "
                "(it must cover every distinct group combination)"
            ),
        )
        out = out.withColumn(
            require_match_col,
            F.when(guard.isNull(), F.col(require_match_col)),
        ).drop("__dim_ok")
    return out.drop(*[f"__dk_{k}" for k in keys], *keys)


def period_scaffold(
    spark,
    lo: int,
    hi: int,
    width: int,
    origin: int = 0,
    groups: Optional[DataFrame] = None,
) -> DataFrame:
    """All regular periods of ``width`` covering grid range [lo, hi]:
    columns (period, start, end). With ``groups`` (a distinct frame of
    group columns), cross-join so every group gets the full schedule —
    the broadcast-able y table for the iwa-equivalence path."""
    # integer floor division: exact for all ints (float division loses
    # exactness beyond 2^53 grid units — the module's stated scale), and
    # matches F.floor semantics for negatives
    p_lo = (int(lo) - int(origin)) // int(width)
    p_hi = (int(hi) - int(origin)) // int(width)
    base = spark.range(p_lo, p_hi + 1).select(
        F.col("id").alias("period"),
        (F.lit(origin) + F.col("id") * width).cast("long").alias("start"),
        (F.lit(origin) + (F.col("id") + 1) * width - 1).cast("long").alias("end"),
    )
    if groups is not None:
        base = groups.crossJoin(base)
    return base


def rollup_regular(
    x: DataFrame,
    interval_vars: Sequence[str],
    value_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    width: int,
    origin: int = 0,
    required_percentage: float = 100.0,
    partial: bool = False,
    group_encoders: Optional[dict] = None,
    algorithm: str = "explode",
    validate: bool = True,
    group_dim: Optional[DataFrame] = None,
    carry_hints: Optional[dict] = None,
    extra_stats: bool = False,
) -> DataFrame:
    """Roll interval-measured values onto a regular period grid.

    ``algorithm`` is ``"explode"`` (the default) or ``"sweep"``; any
    other name raises ``RoleValidationError``. ``sweep`` applies to
    ``width=1`` only and is exact for integer-valued series (it sums
    +v/-v boundary deltas, which can leave ~1ulp residue on arbitrary
    doubles); other widths take ``explode`` whatever is asked.

    ``extra_stats=True`` adds the ADDITIVE second-moment partial
    ``sumsq_<v>`` (sum of v^2 x overlap-duration) to every path, so
    exact time-weighted variance/stddev is available at ANY tier of a
    cascade without touching raw data; ``finalize_rollup`` then emits
    ``<v>_var`` next to the mean.

    ``carry_hints`` (sweep algorithm only): ``{"span": (lo_period,
    hi_period), "groups": n_group_combos}`` lets the sweep's prefix-sum
    bucketing skip its stats action — which is otherwise a SECOND full
    pass over the unmaterialized source (measured +67% on the tier hot
    path). Hints need not be precise (plans/carry.py). When a
    user-supplied ``group_dim`` is present, the groups hint defaults to
    its row count (one tiny job over the caller's dim frame).

    Output (finished mode): ``group_vars…, period, start, end,
    value_vars…, yduration, xduration, nobs_<v>…, xminstart, xmaxend``
    — one row per (group, period) with ≥1 overlapping measurement.
    Periods with no coverage are simply absent (join them from
    ``period_scaffold`` or use ``gap_fill_locf`` when a dense series is
    needed — Spark-first: don't materialize empty periods at 10^12
    scale unless asked).

    Output (partial mode): group_vars…, period, xduration,
    nobs_<v>/sumprod_<v> per value, xminstart, xmaxend — additive,
    mergeable with ``merge_partials``/``cascade``.
    """
    if algorithm not in ALGORITHMS:
        raise RoleValidationError(
            f"unknown rollup algorithm {algorithm!r}; expected one of {ALGORITHMS}"
        )
    group_vars = list(group_vars or [])
    value_vars = list(value_vars)
    if width <= 0:
        raise RoleValidationError("width must be a positive number of grid units")
    unknown = sorted(set(group_encoders or ()) - set(group_vars))
    if unknown:
        raise RoleValidationError(
            f"group_encoders keys {unknown} are not in group_vars {group_vars}"
        )
    s, e = interval_vars
    w = F.lit(int(width))
    o = F.lit(int(origin))

    # String group keys keep Spark's hash aggregate off the fixed-width
    # fast map (UnsafeFixedWidthAggregationMap needs fixed-width keys),
    # which measured 4x slower and ANTI-scaling at 16 threads on the
    # 256M-doc hourly rollup. The exact remedy is
    # group_encoders={"col": int_expression}: swap the string for an
    # expression-derived int key (the caller knows its id scheme — e.g.
    # source 'src_7' -> 7); pure map-side. The original values are
    # re-attached by joining the tiny distinct dim onto the AGGREGATED
    # output (96k rows, not 1.2B).
    dim = None
    user_group_vars = list(group_vars)
    if group_vars and group_encoders:
        from pyspark.sql import Window as _W

        enc_cols = [c for c in group_vars if c in group_encoders]
        # The decode dim defaults to a distinct scan of x — which is a
        # SECOND full pass over the source (for a generated/columnar
        # input that doubles the job's compute; measured as a whole
        # extra 64-task stage on the 256M-doc tier job). Callers that
        # know their group domain pass ``group_dim`` (a tiny distinct
        # frame of the group columns) and the scan disappears.
        dim = (
            group_dim.select(*group_vars).dropDuplicates()
            if group_dim is not None
            else x.select(*group_vars).dropDuplicates()
        )
        for c in enc_cols:
            dim = dim.withColumn(f"__e_{c}", group_encoders[c])
            x = x.withColumn(f"__e_{c}", group_encoders[c]).drop(c)
        group_vars = [f"__e_{c}" if c in group_encoders else c for c in group_vars]
        # a non-1:1 encoder would merge groups in the aggregate and then
        # FAN OUT the decode join — silently wrong results. Guard inside
        # the dim plan itself (runtime assert, no extra Spark action):
        # every encoded key must map to exactly one original group row.
        # The assert is threaded THROUGH an output column — a dropped
        # assert column would be pruned as dead code by Catalyst.
        dup = F.count(F.lit(1)).over(_W.partitionBy(*group_vars))
        first_enc = f"__e_{enc_cols[0]}"
        dim = dim.withColumn(
            first_enc,
            F.when(
                F.assert_true(
                    dup == F.lit(1),
                    F.lit("group_encoders must be 1:1 with the group values"),
                ).isNull(),
                F.col(first_enc),
            ),
        )

    # Endpoint validation (parity with interval_weighted_avg, which
    # raises IntervalValidationError for the same inputs): NULL
    # endpoints would silently drop rows (sequence→NULL→explode) and
    # end<start would silently mis-aggregate (descending sequence /
    # negative sweep deltas). Threaded THROUGH the period expression —
    # a free-standing assert column would be pruned by Catalyst.
    lo_period = F.floor((F.col(s).cast("long") - o) / w)
    if validate:
        ok = (
            F.col(s).isNotNull()
            & F.col(e).isNotNull()
            & (F.col(e).cast("long") >= F.col(s).cast("long"))
        )
        lo_period = F.when(
            F.assert_true(
                ok,
                F.lit(
                    "rollup_regular: interval endpoints must be non-NULL "
                    "with end >= start (pass validate=False only for "
                    "pre-validated data)"
                ),
            ).isNull(),
            lo_period,
        )

    exploded = x.select(
        *group_vars,
        F.col(s).cast("long").alias("__xs"),
        F.col(e).cast("long").alias("__xe"),
        *[F.col(v).cast("double").alias(f"__v_{v}") for v in value_vars],
        F.explode(
            F.sequence(
                lo_period,
                F.floor((F.col(e).cast("long") - o) / w),
            )
        ).alias("period"),
    )
    if width == 1 and algorithm == "sweep":
        # Difference-array sweep: instead of exploding every interval to
        # its `duration` cells (sum(dur) rows ≈ 5x n_docs here, unbounded
        # for long intervals), emit TWO boundary deltas per row
        # (+ at start, - at end+1), aggregate deltas by (group, cell)
        # — the only big shuffle, ≤ 2 rows/doc — then prefix-sum over
        # the tiny period domain with a window and re-expand the runs
        # (bounded by the OUTPUT size, not the input). Exact for
        # integer-valued series (long/ints stored as double stay exact
        # in +/- cumsums below 2^53); for arbitrary doubles the +v/-v
        # cancellation can leave ~1ulp residue, hence opt-in.
        return _rollup_sweep_unit(
            x, s, e, value_vars, group_vars, user_group_vars, dim,
            group_encoders, origin, partial, required_percentage,
            validate=validate, dim_user_supplied=group_dim is not None,
            carry_hints=carry_hints, extra_stats=extra_stats,
        )
    if width == 1:
        # Unit-width special case (the hourly base tier hot path): every
        # period is a single grid cell, so duration is 1, the clipped
        # bounds equal the cell itself (CONSTANT within each aggregation
        # group), weights collapse to counts, and products to plain
        # sums. The 10^9-row aggregate runs with count/sum only; the
        # min/max columns are projected back as expressions afterwards.
        agg = exploded.groupBy(*group_vars, "period").agg(
            F.count(F.lit(1)).alias("xduration"),
            *[F.count(f"__v_{v}").alias(f"nobs_{v}") for v in value_vars],
            *[F.sum(f"__v_{v}").alias(f"sumprod_{v}") for v in value_vars],
            *(
                [
                    F.sum(F.col(f"__v_{v}") * F.col(f"__v_{v}")).alias(f"sumsq_{v}")
                    for v in value_vars
                ]
                if extra_stats
                else []
            ),
        )
        cell = (o + F.col("period")).cast("long")
        agg = agg.withColumn("xminstart", cell).withColumn("xmaxend", cell).select(
            *group_vars,
            "period",
            "xduration",
            *[f"nobs_{v}" for v in value_vars],
            *[f"sumprod_{v}" for v in value_vars],
            *([f"sumsq_{v}" for v in value_vars] if extra_stats else []),
            "xminstart",
            "xmaxend",
        )
    else:
        ps = (o + F.col("period") * w).cast("long")
        pe = (o + (F.col("period") + 1) * w - 1).cast("long")
        cs = F.greatest(F.col("__xs"), ps)
        ce = F.least(F.col("__xe"), pe)
        dur = ce - cs + F.lit(1)
        weighted = exploded.select(
            *group_vars,
            "period",
            cs.alias("__cs"),
            ce.alias("__ce"),
            dur.alias("__dur"),
            *[
                F.when(F.col(f"__v_{v}").isNotNull(), dur).otherwise(F.lit(0)).alias(f"__nm_{v}")
                for v in value_vars
            ],
            *[(F.col(f"__v_{v}") * dur).alias(f"__p_{v}") for v in value_vars],
            *(
                [
                    (F.col(f"__v_{v}") * F.col(f"__v_{v}") * dur).alias(f"__q_{v}")
                    for v in value_vars
                ]
                if extra_stats
                else []
            ),
        )
        agg = weighted.groupBy(*group_vars, "period").agg(
            F.sum("__dur").cast("long").alias("xduration"),
            *[F.sum(f"__nm_{v}").cast("long").alias(f"nobs_{v}") for v in value_vars],
            *[F.sum(f"__p_{v}").alias(f"sumprod_{v}") for v in value_vars],
            *(
                [F.sum(f"__q_{v}").alias(f"sumsq_{v}") for v in value_vars]
                if extra_stats
                else []
            ),
            F.min("__cs").alias("xminstart"),
            F.max("__ce").alias("xmaxend"),
        )
    if dim is not None:
        decode_keys = [f"__e_{c}" for c in user_group_vars if c in group_encoders]
        agg = (
            # null-safe: a group_encoders expression may yield NULL for
            # some group value — that encoded key must still decode
            _nullsafe_broadcast_join(
                agg, dim, decode_keys,
                require_match_col="period" if group_dim is not None else None,
            )
            .select(
                *user_group_vars,
                "period",
                "xduration",
                *[f"nobs_{v}" for v in value_vars],
                *[f"sumprod_{v}" for v in value_vars],
                *([f"sumsq_{v}" for v in value_vars] if extra_stats else []),
                "xminstart",
                "xmaxend",
            )
        )
    if partial:
        return agg
    return finalize_rollup(
        agg,
        value_vars,
        user_group_vars,
        width=width,
        origin=origin,
        required_percentage=required_percentage,
    )


def _rollup_sweep_unit(
    x: DataFrame,
    s: str,
    e: str,
    value_vars: Sequence[str],
    group_vars: Sequence[str],
    user_group_vars: Sequence[str],
    dim: Optional[DataFrame],
    group_encoders: Optional[dict],
    origin: int,
    partial: bool,
    required_percentage: float,
    validate: bool = True,
    dim_user_supplied: bool = False,
    carry_hints: Optional[dict] = None,
    extra_stats: bool = False,
) -> DataFrame:
    """Width-1 sweep backend for rollup_regular (see caller comment)."""
    from pyspark.sql import Window as _W

    group_vars = list(group_vars)
    value_vars = list(value_vars)
    o = F.lit(int(origin))

    # One explode(sequence(0,1)) per row, signs/cells derived from the
    # index. Two rejected alternatives, both measured slower: a union of
    # two projections SCANS THE SOURCE TWICE (wrong trade for a 100 TB
    # input), and stack(2, …) — which avoids the tiny per-row array —
    # is a CodegenFallback generator in Spark, so it breaks the whole
    # stage out of whole-stage codegen (~15-20% slower end to end).
    start_cell = (F.col(s).cast("long") - o).cast("long")
    if validate:
        # same endpoint contract as the explode path; NULL/reversed
        # endpoints would otherwise corrupt the delta sweep silently
        ok = (
            F.col(s).isNotNull()
            & F.col(e).isNotNull()
            & (F.col(e).cast("long") >= F.col(s).cast("long"))
        )
        start_cell = F.when(
            F.assert_true(
                ok,
                F.lit(
                    "rollup_regular: interval endpoints must be non-NULL "
                    "with end >= start (pass validate=False only for "
                    "pre-validated data)"
                ),
            ).isNull(),
            start_cell,
        )
    end_cell_excl = (F.col(e).cast("long") - o + 1).cast("long")
    side = x.select(
        *group_vars,
        start_cell.alias("__p0"),
        end_cell_excl.alias("__p1"),
        *[F.col(v).cast("double").alias(f"__v_{v}") for v in value_vars],
        F.explode(F.sequence(F.lit(0), F.lit(1))).alias("__i"),
    )
    sign = (F.lit(1) - 2 * F.col("__i")).cast("long")  # 0 -> +1, 1 -> -1
    bcols = [
        *group_vars,
        F.when(F.col("__i") == 0, F.col("__p0")).otherwise(F.col("__p1")).alias("period"),
        sign.alias("__dc"),
    ]
    for v in value_vars:
        vc = F.col(f"__v_{v}")
        bcols.append(
            (F.when(vc.isNotNull(), F.lit(1)).otherwise(F.lit(0)) * sign)
            .cast("long").alias(f"__dn_{v}")
        )
        bcols.append((F.coalesce(vc, F.lit(0.0)) * sign).alias(f"__ds_{v}"))
        if extra_stats:
            v0 = F.coalesce(vc, F.lit(0.0))
            bcols.append((v0 * v0 * sign).alias(f"__dq_{v}"))
    boundary = side.select(*bcols)

    agg = boundary.groupBy(*group_vars, "period").agg(
        F.sum("__dc").alias("__dc"),
        *[F.sum(f"__dn_{v}").alias(f"__dn_{v}") for v in value_vars],
        *[F.sum(f"__ds_{v}").alias(f"__ds_{v}") for v in value_vars],
        *(
            [F.sum(f"__dq_{v}").alias(f"__dq_{v}") for v in value_vars]
            if extra_stats
            else []
        ),
    )

    # Prefix-sum + lead over the delta frame. A window partitioned by
    # the group columns alone is one task per group — one task TOTAL
    # ungrouped — so the scan runs within (group…, period-bucket) with
    # per-bucket carries from plans/carry.py: running sums carry the
    # exclusive-prefix bucket totals, and each bucket's last row takes
    # its lead(period) from the next non-empty bucket's first period.
    from ..plans.carry import Carry, attach_carry, plan_buckets

    sum_cols = ["__dc"] + [f"__dn_{v}" for v in value_vars] + [
        f"__ds_{v}" for v in value_vars
    ]
    if extra_stats:
        sum_cols += [f"__dq_{v}" for v in value_vars]
    hints = dict(carry_hints or {})
    if "groups" not in hints and dim is not None and dim_user_supplied:
        # the caller's dim is tiny by contract; its count is the exact
        # group cardinality and costs one trivial job (no source scan)
        hints["groups"] = dim.count()
    plan = plan_buckets(
        agg,
        list(group_vars),
        "period",
        group_count_hint=hints.get("groups"),
        bounds_hint=hints.get("span"),
        # one row per (group, period) by construction (post-aggregate)
        rows_bounded_by_domain=True,
    )
    stitched = attach_carry(
        plan,
        [Carry(f"__c_{c}", "sum", ident(c)) for c in sum_cols]
        + [Carry("__h_next", "min", "period", "next")],
    )
    w = _W.partitionBy(*group_vars, "__bk").orderBy("period")
    wsum = w.rowsBetween(_W.unboundedPreceding, 0)

    def _run(c, alias, cast=None):
        col = F.sum(c).over(wsum) + F.coalesce(
            F.col(f"__c_{c}"), F.lit(0.0) if cast is None else F.lit(0)
        )
        return col.alias(alias)

    runs = stitched.select(
        *group_vars,
        "period",
        F.coalesce(F.lead("period").over(w), F.col("__h_next")).alias("__next"),
        _run("__dc", "__rc", cast="long"),
        *[_run(f"__dn_{v}", f"__rn_{v}", cast="long") for v in value_vars],
        *[_run(f"__ds_{v}", f"__rs_{v}") for v in value_vars],
        *(
            [_run(f"__dq_{v}", f"__rq_{v}") for v in value_vars]
            if extra_stats
            else []
        ),
    ).filter(F.col("__rc") > 0)

    cells = runs.select(
        *group_vars,
        F.explode(F.sequence("period", F.col("__next") - 1)).alias("period"),
        F.col("__rc").cast("long").alias("xduration"),
        *[F.col(f"__rn_{v}").cast("long").alias(f"nobs_{v}") for v in value_vars],
        # parity with the explode path: a run with zero non-null values
        # has sumprod NULL (sum over no rows), not the coalesced 0.0
        *[
            F.when(F.col(f"__rn_{v}") > 0, F.col(f"__rs_{v}")).alias(f"sumprod_{v}")
            for v in value_vars
        ],
        *(
            [
                F.when(F.col(f"__rn_{v}") > 0, F.col(f"__rq_{v}")).alias(f"sumsq_{v}")
                for v in value_vars
            ]
            if extra_stats
            else []
        ),
    )
    cell = (o + F.col("period")).cast("long")
    out = cells.withColumn("xminstart", cell).withColumn("xmaxend", cell)

    if dim is not None:
        decode_keys = [f"__e_{c}" for c in user_group_vars if c in group_encoders]
        out = _nullsafe_broadcast_join(
            out, dim, decode_keys,
            require_match_col="period" if dim_user_supplied else None,
        )
    out = out.select(
        *user_group_vars,
        "period",
        "xduration",
        *[f"nobs_{v}" for v in value_vars],
        *[f"sumprod_{v}" for v in value_vars],
        *([f"sumsq_{v}" for v in value_vars] if extra_stats else []),
        "xminstart",
        "xmaxend",
    )
    if partial:
        return out
    return finalize_rollup(
        out, value_vars, user_group_vars, width=1, origin=origin,
        required_percentage=required_percentage,
    )


def finalize_rollup(
    partials: DataFrame,
    value_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    width: int,
    origin: int = 0,
    required_percentage: float = 100.0,
) -> DataFrame:
    """Project additive partials into the reference output contract:
    weighted mean + coverage mask (timeperiod_functions.R:319-343)."""
    group_vars = list(group_vars or [])
    w = F.lit(int(width))
    o = F.lit(int(origin))
    ydur = F.lit(float(width))
    req = F.lit(float(required_percentage))
    cols: list[Column] = [
        *[F.col(g) for g in group_vars],
        F.col("period"),
        (o + F.col("period") * w).cast("long").alias("start"),
        (o + (F.col("period") + 1) * w - 1).cast("long").alias("end"),
    ]
    for v in value_vars:
        mean = F.col(f"sumprod_{v}") / F.col(f"nobs_{v}")
        cols.append(
            F.when(F.lit(100.0) * F.col(f"nobs_{v}") / ydur < req, F.lit(None))
            .otherwise(mean)
            .cast("double")
            .alias(v)
        )
    for v in value_vars:
        if f"sumsq_{v}" in partials.columns:
            mean = F.col(f"sumprod_{v}") / F.col(f"nobs_{v}")
            var = F.col(f"sumsq_{v}") / F.col(f"nobs_{v}") - mean * mean
            cols.append(
                F.when(F.lit(100.0) * F.col(f"nobs_{v}") / ydur < req, F.lit(None))
                .otherwise(var)
                .cast("double")
                .alias(f"{v}_var")
            )
    cols.append(ydur.alias("yduration"))
    cols.append(F.col("xduration"))
    cols.extend(F.col(f"nobs_{v}") for v in value_vars)
    cols.append(F.col("xminstart"))
    cols.append(F.col("xmaxend"))
    return partials.select(*cols)


def merge_partials(
    partials: DataFrame,
    value_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    period_expr: Optional[Column] = None,
) -> DataFrame:
    """Re-aggregate additive partials (optionally onto a coarser period
    via ``period_expr``). Used both for tier cascades and for merging
    an incremental batch into an existing materialization."""
    group_vars = list(group_vars or [])
    df = partials
    if period_expr is not None:
        df = df.withColumn("period", period_expr)
    return df.groupBy(*group_vars, "period").agg(
        F.sum("xduration").cast("long").alias("xduration"),
        *[F.sum(f"nobs_{v}").cast("long").alias(f"nobs_{v}") for v in value_vars],
        *[F.sum(f"sumprod_{v}").alias(f"sumprod_{v}") for v in value_vars],
        *[
            F.sum(f"sumsq_{v}").alias(f"sumsq_{v}")
            for v in value_vars
            if f"sumsq_{v}" in df.columns
        ],
        F.min("xminstart").alias("xminstart"),
        F.max("xmaxend").alias("xmaxend"),
    )


def cascade(
    fine_partials: DataFrame,
    value_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    fine_width: int,
    coarse_width: int,
) -> DataFrame:
    """Derive a coarser tier's partials EXACTLY from a finer tier's.

    Requires nesting (coarse_width % fine_width == 0, shared origin):
    every additive statistic of a coarse period is then the sum of its
    fine periods' statistics — no raw-data rescan, which is what makes
    hourly→daily→weekly continuous aggregates cheap at 10^12 scale."""
    if coarse_width % fine_width != 0:
        raise RoleValidationError(
            f"coarse width {coarse_width} must be a multiple of fine width {fine_width}"
        )
    factor = coarse_width // fine_width
    return merge_partials(
        fine_partials,
        value_vars,
        group_vars,
        period_expr=F.floor(F.col("period") / F.lit(factor)).cast("long"),
    )


def _dense_scaffold_join(
    rollup: DataFrame,
    group_vars: list,
    width: int,
    origin: int,
    span: Optional[tuple[int, int]],
):
    """Left-join a dense (group x period) scaffold onto a rollup —
    shared plumbing for the gap-fill family. Returns (joined, span).
    An empty rollup with no span gets an empty scaffold, so the
    gap-filled output keeps its columns."""
    from functools import reduce

    spark = rollup.sparkSession
    if span is None:
        row = rollup.agg(F.min("start").alias("lo"), F.max("end").alias("hi")).first()
        empty = row is None or row["lo"] is None
        span = (origin, origin - 1) if empty else (int(row["lo"]), int(row["hi"]))
    groups_df = rollup.select(*group_vars).dropDuplicates() if group_vars else None
    scaffold = period_scaffold(spark, span[0], span[1], width, origin, groups_df)

    right = rollup.drop("start", "end").withColumnRenamed("period", "__r_period")
    for g in group_vars:
        right = right.withColumnRenamed(g, f"__r_{g}")
    conds = [scaffold["period"] == right["__r_period"]] + [
        scaffold[g].eqNullSafe(right[f"__r_{g}"]) for g in group_vars
    ]
    joined = scaffold.join(right, reduce(lambda a, b: a & b, conds), "left").drop(
        "__r_period", *[f"__r_{g}" for g in group_vars]
    )
    return joined, span


def _obs_struct_sql(v: str) -> str:
    """(period, value) struct of a non-NULL ``v``, else NULL (SQL)."""
    return (
        f"CASE WHEN {ident(v)} IS NOT NULL "
        f"THEN named_struct('__p', period, '__v', {ident(v)}) END"
    )


def gap_fill_locf(
    rollup: DataFrame,
    value_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    width: int,
    origin: int = 0,
    span: Optional[tuple[int, int]] = None,
    group_count_hint: Optional[int] = None,
) -> DataFrame:
    """Dense gap-filled series with last-observation-carried-forward.

    The reference leaves uncovered periods NULL
    (timeperiod_functions.R:336); LOCF is an additive, opt-in layer
    (SURVEY.md §7 M5). Missing periods are materialized from a scaffold
    over ``span`` (grid units; default = observed min/max start), then
    each value column gains ``<v>_filled`` (LOCF) and a boolean
    ``gap_filled`` flag. The scaffold is broadcast against the distinct
    group set; the LOCF window is one shuffle by group.
    """
    from pyspark.sql import Window

    group_vars = list(group_vars or [])
    joined, span = _dense_scaffold_join(rollup, group_vars, width, origin, span)

    # LOCF windows within (group…, period-bucket) with a per-bucket
    # carry of the latest non-null value from earlier buckets
    # (plans/carry.py) — a plain per-group window is one task per group
    # and one task TOTAL when ungrouped. Scaffold periods are unique
    # per group, so the struct max (ordered by period) is deterministic.
    from ..plans.carry import Carry, attach_carry, plan_buckets

    # the scaffold fixes the period range, so the bucket bounds are
    # known without a stats pass; only the group cardinality may still
    # need estimating (pass group_count_hint to skip that too)
    p_lo = (span[0] - origin) // width
    p_hi = (span[1] - origin) // width
    plan = plan_buckets(
        joined,
        group_vars,
        "period",
        bounds_hint=(p_lo, p_hi),
        group_count_hint=group_count_hint,
        # scaffold: one row per (group, period)
        rows_bounded_by_domain=True,
    )
    stitched = attach_carry(
        plan, [Carry(f"__c_{v}", "max", _obs_struct_sql(v)) for v in value_vars]
    )
    w = (
        Window.partitionBy(*group_vars, "__bk")
        .orderBy("period")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = stitched.withColumn(
        "gap_filled", F.col("xduration").isNull() | (F.col("xduration") == 0)
    ).withColumn("xduration", F.coalesce("xduration", F.lit(0)))
    for v in value_vars:
        if f"nobs_{v}" in out.columns:
            out = out.withColumn(f"nobs_{v}", F.coalesce(f"nobs_{v}", F.lit(0)))
        out = out.withColumn(
            f"{v}_filled",
            F.coalesce(
                F.last(v, ignorenulls=True).over(w),
                F.col(f"__c_{v}").getField("__v"),
            ),
        )
    return out.drop("__bk", *[f"__c_{v}" for v in value_vars])


def gap_fill_interpolate(
    rollup: DataFrame,
    value_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    *,
    width: int,
    origin: int = 0,
    span: Optional[tuple[int, int]] = None,
    group_count_hint: Optional[int] = None,
) -> DataFrame:
    """Dense gap-filled series with LINEAR interpolation between the
    neighboring observations (the TimescaleDB ``interpolate`` analog;
    LOCF's sibling — see :func:`gap_fill_locf` for the scaffold
    semantics). Each value column gains ``<v>_interp``:

    - observed periods keep their own value;
    - gaps strictly between two observations get
      ``prev + (next - prev) * (period - prev_p) / (next_p - prev_p)``;
    - periods before the first / after the last observation stay NULL
      (pure interpolation, no extrapolation).

    Runs as TWO carried scans over the dense frame — previous
    observation (backward) and next observation (forward) as
    (period, value) structs — each within (group…, period-bucket) via
    plans/carry.py, so parallelism is independent of group cardinality.
    """
    from pyspark.sql import Window

    from ..plans.carry import Carry, attach_carry, plan_buckets

    group_vars = list(group_vars or [])
    joined, span = _dense_scaffold_join(rollup, group_vars, width, origin, span)
    p_lo = (span[0] - origin) // width
    p_hi = (span[1] - origin) // width
    plan = plan_buckets(
        joined,
        group_vars,
        "period",
        bounds_hint=(p_lo, p_hi),
        group_count_hint=group_count_hint,
        # scaffold: one row per (group, period)
        rows_bounded_by_domain=True,
    )

    stitched = attach_carry(
        plan,
        [Carry(f"__cp_{v}", "max", _obs_struct_sql(v)) for v in value_vars]
        + [Carry(f"__cn_{v}", "min", _obs_struct_sql(v), "after") for v in value_vars],
    )
    wprev = (
        Window.partitionBy(*group_vars, "__bk")
        .orderBy("period")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wnext = (
        Window.partitionBy(*group_vars, "__bk")
        .orderBy("period")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    out = stitched.withColumn(
        "gap_filled", F.col("xduration").isNull() | (F.col("xduration") == 0)
    ).withColumn("xduration", F.coalesce("xduration", F.lit(0)))
    drop = ["__bk"]
    for v in value_vars:
        if f"nobs_{v}" in out.columns:
            out = out.withColumn(f"nobs_{v}", F.coalesce(f"nobs_{v}", F.lit(0)))
        obs = F.expr(_obs_struct_sql(v))
        prev = F.coalesce(F.max(obs).over(wprev), F.col(f"__cp_{v}"))
        nxt = F.coalesce(F.min(obs).over(wnext), F.col(f"__cn_{v}"))
        pp, pv = prev.getField("__p"), prev.getField("__v")
        np_, nv = nxt.getField("__p"), nxt.getField("__v")
        interp = F.when(F.col(v).isNotNull(), F.col(v).cast("double")).otherwise(
            pv
            + (nv - pv)
            * (F.col("period") - pp).cast("double")
            / (np_ - pp).cast("double")
        )
        out = out.withColumn(f"{v}_interp", interp)
        drop += [f"__cp_{v}", f"__cn_{v}"]
    return out.drop(*drop)
