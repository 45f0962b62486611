"""Expansion-based oracle for interval_weighted_avg.

Reimplements ``interval_weighted_avg_slow_f`` from the reference
(/root/reference/timeperiod_functions.R:360-523): expand every interval
to one row per grid unit (O16), equi-join the expansions on
(t, group) (O17), and aggregate per y period (O18-O19). Same output
contract as the fast path; exists purely for differential testing
(reference README.md:275-291) — explode() over wide intervals is
deliberately memory-hungry and must never be used at scale.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..plans.strategy import request_stats
from .interval_avg import _canonical, _ungrid, _validate


def interval_weighted_avg_slow(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str],
    value_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    required_percentage: float = 100.0,
    skip_overlap_check: bool = False,
    *,
    validate: bool = True,
) -> DataFrame:
    """Unit-grid expansion oracle; output contract identical to
    :func:`timeperiods_spark.operators.interval_avg.interval_weighted_avg`."""
    group_vars = list(group_vars or [])
    ivl_dtype, xw, yw = _canonical(x, y, interval_vars, value_vars, group_vars)
    n_g, n_v = len(group_vars), len(value_vars)
    gcols = [f"__g{i}" for i in range(n_g)]
    ygcols = [f"__yg{i}" for i in range(n_g)]
    vcols = [f"__v{i}" for i in range(n_v)]
    if validate:
        # the engine's own checks: both reject exactly the same inputs
        _validate(request_stats(xw, yw, n_g), xw, n_g, skip_overlap_check)
    yd = yw.dropDuplicates(ygcols + ["__ys", "__ye"])

    # O16: one row per grid unit; values repeated; measurement marker
    x_exp = xw.select(
        *gcols,
        F.explode(F.sequence("__xs", "__xe")).alias("__t"),
        F.lit(1).alias("__meas"),
        *vcols,
    )
    y_exp = yd.select(
        *ygcols, "__ys", "__ye", F.explode(F.sequence("__ys", "__ye")).alias("__yt")
    )

    # O17: equi join on (t, groups), keeping every y increment
    cond: Column = y_exp["__yt"] == x_exp["__t"]
    for i in range(n_g):
        cond = cond & y_exp[f"__yg{i}"].eqNullSafe(x_exp[f"__g{i}"])
    z = y_exp.join(x_exp, cond, "left")

    # O18/O19: per (y interval, groups) aggregate
    agg = z.groupBy(*ygcols, "__ys", "__ye").agg(
        *[F.avg(vc).alias(f"__m{i}") for i, vc in enumerate(vcols)],
        F.count_distinct("__yt").alias("__ydur"),
        F.coalesce(F.sum("__meas"), F.lit(0)).alias("__xdur"),
        *[F.count(vc).alias(f"__nobs{i}") for i, vc in enumerate(vcols)],
        F.min(F.when(F.col("__meas") == 1, F.col("__yt"))).alias("__minstart"),
        F.max(F.when(F.col("__meas") == 1, F.col("__yt"))).alias("__maxend"),
    )

    req = F.lit(float(required_percentage))
    out_cols: list[Column] = []
    for g, orig in zip(ygcols, group_vars):
        out_cols.append(F.col(g).alias(orig))
    out_cols.append(F.expr(_ungrid("__ys", ivl_dtype)).alias(interval_vars[0]))
    out_cols.append(F.expr(_ungrid("__ye", ivl_dtype)).alias(interval_vars[1]))
    ydur = F.col("__ydur").cast("double")
    for i, v in enumerate(value_vars):
        masked = F.when(
            F.lit(100.0) * F.col(f"__nobs{i}") / ydur < req, F.lit(None)
        ).otherwise(F.col(f"__m{i}"))
        out_cols.append(masked.cast("double").alias(v))
    out_cols.append(ydur.alias("yduration"))
    out_cols.append(F.col("__xdur").cast("long").alias("xduration"))
    for i, v in enumerate(value_vars):
        out_cols.append(F.col(f"__nobs{i}").cast("long").alias(f"nobs_{v}"))
    out_cols.append(F.expr(_ungrid("__minstart", ivl_dtype)).alias("xminstart"))
    out_cols.append(F.expr(_ungrid("__maxend", ivl_dtype)).alias("xmaxend"))
    return agg.select(*out_cols)
