"""Trend and change-detection scans: EWMA smoothing and CUSUM charts.

Beyond the reference's surface (reference timeperiod_functions.R keeps
no recurrence operators — its consumers smooth tier rollups after the
fact); these are the standard feature-engineering companions to the
rollup/rolling family for a 100 TB series store.

Both statistics are first-order recurrences — the one scan shape a
Catalyst window function cannot express (the weight of each input
depends on its distance from the current row). They take two very
different Spark-first treatments:

* ``cusum`` has an exact closed prefix form —
  ``s_i = max(0, s_{i-1} + x_i)`` telescopes to
  ``P_i - min(0, min_{j<=i} P_j)`` over the prefix sums ``P`` — so it
  stays 100% native: one bucketed-carry prefix sum, one chained
  bucketed-carry running min (both through ``plans.carry``; no
  per-group window ceiling, no Python).

* ``ewma`` does not: the rescaled-window-sum trick
  (``e_i = r^i * sum v_j r^-j``) overflows float64 beyond
  ``~700/|ln r|`` rows, and chunking it re-introduces a scan at every
  level. This is the canonical "drop to pandas" case: an Arrow-batched
  ``ewm`` recurrence within each (group, carry-bucket) — C-vectorized,
  shuffled by (group, bucket) so parallelism is bucket count, never
  group count — composed EXACTLY across buckets by a higher-order
  ``aggregate`` scan over the tiny per-group bucket frame
  (``e_i = local_i + r^(m+1) * chain``, where ``chain`` folds each
  bucket's end-value and decay ``r^n_b`` left to right).

Numeric note shared with the rolling/interp oracles: bucketed
composition reorders float additions vs a sequential recurrence, so
both operators emit statistics ROUNDED to 6dp; EWMA's formulation
error is O(eps / alpha) (old terms decay), far below that grid.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..errors import RoleValidationError
from ..plans.carry import Carry, attach_carry, plan_buckets


def _order_long(df: DataFrame, t_col: str, op: str):
    """Order column as a non-NULL long (epoch days for dates,
    microseconds for timestamps), with a row-local raise on NULL — a
    NULL order key would silently corrupt the prefix scans (same
    contract as running_max)."""
    t_type = df.schema[t_col].dataType
    if isinstance(t_type, T.DateType):
        # DATE->BIGINT casts are forbidden under ANSI; unix_date gives
        # the epoch-day grid the bucket function needs
        expr = F.unix_date(F.col(t_col)).cast("long")
    elif isinstance(t_type, T.TimestampType):
        expr = F.unix_micros(F.col(t_col))
    else:
        expr = F.col(t_col).try_cast("long")
    return F.when(
        expr.isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"{op}: {t_col} must be a non-NULL orderable "
                      "(numeric/date/timestamp) column; got "),
                F.coalesce(F.col(t_col).cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(expr)


def cusum(
    df: DataFrame,
    t_col: str,
    value_col: str,
    group_vars: Optional[Sequence[str]] = None,
    *,
    target: float = 0.0,
    slack: float = 0.0,
    threshold: Optional[float] = None,
    two_sided: bool = True,
    carry_hints: Optional[dict] = None,
) -> DataFrame:
    """Tabular CUSUM control statistics per group, ordered by ``t_col``.

    ``cusum_pos_i = max(0, cusum_pos_{i-1} + (v_i - target - slack))``
    accumulates upward shifts; with ``two_sided``, ``cusum_neg``
    symmetrically accumulates downward ones. Computed in closed form:
    with ``x_i = v_i - target - slack`` and prefix sums ``P``,
    ``cusum_pos_i = P_i - min(0, min_{j<=i} P_j)``. Exact semantics,
    zero Python, two slim exchanges at any group cardinality.

    ``threshold`` adds an ``alarm`` flag (a statistic ROUNDED to 6dp
    exceeds it — rounded so engines differing in last-bit float sums
    flag identically). NULL values pass through with NULL statistics
    (they don't advance the chart). Duplicate ``t`` within a group
    raise row-locally (the recurrence order would be nondeterministic);
    the raise is threaded through the output ``t`` column so Catalyst
    cannot prune it.
    """
    gcols = list(group_vars or [])
    hints = dict(carry_hints or {})
    base = (
        df.withColumn("__t", _order_long(df, t_col, "cusum"))
        .select(
            *gcols,
            F.col(t_col).alias("__tv"),
            "__t",
            F.col(value_col).cast("double").alias("__v"),
        )
        .withColumn(
            "__x", F.col("__v") - F.lit(float(target)) - F.lit(float(slack))
        )
    )
    if two_sided:
        base = base.withColumn(
            "__xn",
            -(F.col("__v") - F.lit(float(target))) - F.lit(float(slack)),
        )
    xcols = ["__x"] + (["__xn"] if two_sided else [])

    # NOTE: four consumers re-run the upstream (bucket-bounds stats
    # unless hinted, two carry aggregates, the main scan — the r6
    # cusum_daily plan scanned its source 4x). A per-call persist was
    # measured and WITHDRAWN (frozen-oracle 6dp-boundary interference,
    # OPTIMIZATION_r07.md); production callers should persist their
    # input or pass carry_hints, which removes the stats pass.

    plan = plan_buckets(
        base, gcols, "__t",
        group_count_hint=hints.get("groups"), bounds_hint=hints.get("span"),
    )
    wb = Window.partitionBy(*plan.gcols, "__bk").orderBy("__t")
    w01 = wb.rowsBetween(Window.unboundedPreceding, 0)

    # stage 1: prefix sum of each x stream (sum skips NULLs but NULL
    # rows keep their position in the order)
    stitched = attach_carry(plan, [Carry(f"__cs_{c}", "sum", c) for c in xcols])
    for c in xcols:
        stitched = stitched.withColumn(
            f"__P{c}",
            F.sum(c).over(w01) + F.coalesce(F.col(f"__cs_{c}"), F.lit(0.0)),
        )
    stitched = stitched.drop(*[f"__cs_{c}" for c in xcols])

    # stage 2: running min of each prefix stream — a chained scan over
    # the SAME buckets (attach_carry(df=) aggregates stage-1 output)
    stage2 = attach_carry(
        plan, [Carry(f"__cm_{c}", "min", f"__P{c}") for c in xcols], df=stitched
    )
    # duplicate-order guard: equal t values always share a bucket
    # (buckets are pure value functions of t), so a within-bucket lag
    # sees every duplicate; threading the raise through the OUTPUT t
    # column keeps it un-prunable
    dup = F.lag("__t").over(wb) == F.col("__t")
    guarded_t = F.when(
        dup,
        F.raise_error(F.concat(
            F.lit(f"cusum: duplicate {t_col} within a group at order value "),
            F.col("__t").cast("string"),
        )).cast(df.schema[t_col].dataType),
    ).otherwise(F.col("__tv"))

    out_cols = [*gcols, guarded_t.alias(t_col), F.col("__v").alias(value_col)]
    names = [("__x", "cusum_pos")] + ([("__xn", "cusum_neg")] if two_sided else [])
    for c, out in names:
        runmin = F.least(
            F.min(f"__P{c}").over(w01),
            F.coalesce(F.col(f"__cm_{c}"), F.lit(0.0)),
            F.lit(0.0),
        )
        stat = F.round(F.col(f"__P{c}") - runmin, 6)
        stage2 = stage2.withColumn(out, F.when(F.col("__v").isNotNull(), stat))
        out_cols.append(F.col(out))
    if threshold is not None:
        alarm = F.col("cusum_pos") > F.lit(float(threshold))
        if two_sided:
            alarm = alarm | (F.col("cusum_neg") > F.lit(float(threshold)))
        stage2 = stage2.withColumn("alarm", F.coalesce(alarm, F.lit(False)))
        out_cols.append(F.col("alarm"))
    return stage2.select(*out_cols)


def _mat_powers(A: "np.ndarray", n: int) -> "np.ndarray":
    """``A^k`` for ``k = 0..n-1`` as an ``(n, 2, 2)`` array, vectorized
    through the eigen decomposition (complex-safe; Jordan fallback for
    a repeated eigenvalue). Holt matrices are strictly stable for
    ``alpha in (0,1), beta in (0,1]`` (det = 1-alpha, char poly at 1
    equals alpha*beta > 0), so the powers never blow up."""
    if n <= 0:
        return np.zeros((0, 2, 2))
    lam, P = np.linalg.eig(A)
    ks = np.arange(n, dtype="float64")
    if abs(lam[0] - lam[1]) > 1e-9 * max(1.0, abs(lam[0]), abs(lam[1])):
        Pinv = np.linalg.inv(P)
        D = lam[None, :] ** ks[:, None]  # (n, 2), complex-safe
        out = np.einsum("ij,kj,jl->kil", P, D, Pinv).real
    else:
        lam0 = (A[0, 0] + A[1, 1]) / 2.0  # repeated (necessarily real)
        N = A - lam0 * np.eye(2)
        lk = lam0 ** ks
        lk1 = np.zeros_like(lk)
        lk1[1:] = lam0 ** (ks[1:] - 1.0)
        out = (
            lk[:, None, None] * np.eye(2)[None]
            + (ks * lk1)[:, None, None] * N[None]
        )
    return out


#: absolute error budget for the convolution paths — two orders under
#: the 6dp output rounding grid
_CONV_ABS_TOL = 1e-9


def _conv_trunc(v: "np.ndarray", K: "np.ndarray") -> "np.ndarray":
    """Truncated convolution ``z[m] = sum_j K[m-j] @ v[j]`` for the
    zero-seeded matrix chain: direct ``np.convolve`` for small
    batches, FFT for large ones (O(n log n)).

    FFT round-off is RELATIVE (~log2(L)*eps of the peak output
    magnitude) while the output contract is an ABSOLUTE 6dp grid, so
    large-magnitude inputs (|v| ≳ 1e6 over ≥2048-row buckets) could
    diverge from the sequential recurrence at the grid (ADVICE r5).
    The FFT path is therefore gated on the estimated absolute error
    ``log2(L)*eps*max|z|`` staying under ``_CONV_ABS_TOL``; above it,
    fall back to direct convolution with the kernel TRUNCATED where
    its tail can no longer move the output by the same tolerance —
    Holt kernels decay geometrically (strictly stable A), so the
    effective kernel is short and the fallback stays O(n * k_eff),
    exact to well under the rounding grid at any magnitude."""
    n = len(v)
    out = np.empty((n, 2))
    if n == 0:
        return out
    if n >= 2048:
        eps = np.finfo(np.float64).eps
        vmax = float(np.max(np.abs(v)))
        # peak-output bound per component: max|v| * sum|K|
        ksum = np.sum(np.abs(K), axis=0)
        peak = vmax * float(ksum.max())
        L = 1 << int(2 * n - 1).bit_length()
        if np.log2(L) * eps * max(1.0, peak) < _CONV_ABS_TOL:
            fv = np.fft.rfft(v, L)
            for comp in range(2):
                out[:, comp] = np.fft.irfft(
                    fv * np.fft.rfft(K[:, comp], L), L
                )[:n]
            return out
        # direct fallback: drop the kernel tail whose total contribution
        # max|v| * sum_{j>=m}|K[j]| is already under the budget
        tail = np.cumsum(np.abs(K[::-1]), axis=0)[::-1]  # suffix sums
        keep = np.nonzero((tail * max(vmax, 1e-300)).max(axis=1)
                          >= _CONV_ABS_TOL)[0]
        k_eff = int(keep[-1]) + 1 if len(keep) else 1
        K = K[:k_eff]
    for comp in range(2):
        out[:, comp] = np.convolve(v, K[:, comp])[:n]
    return out


def holt(
    df: DataFrame,
    t_col: str,
    value_col: str,
    group_vars: Optional[Sequence[str]] = None,
    *,
    alpha: float,
    beta: float,
    forecast: Optional[int] = None,
    carry_hints: Optional[dict] = None,
) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing per group:

    ``l_i = alpha v_i + (1-alpha)(l_{i-1} + b_{i-1})``,
    ``b_i = beta (l_i - l_{i-1}) + (1-beta) b_{i-1}``,
    seeded ``l_0 = v_0, b_0 = 0``. Emits ``holt_level`` and
    ``holt_trend`` (+ ``holt_forecast`` = level + h*trend when
    ``forecast=h``), each rounded to 6dp. NULL values are excluded;
    duplicate ``t`` within a group raise.

    This is the EWMA scan generalized to a 2-dim linear recurrence
    ``s_i = A s_{i-1} + c v_i`` (A = [[1-a, 1-a], [-ab, 1-ab]],
    c = [a, ab]): within each (group, carry-bucket) the zero-seeded
    chain is an Arrow-batched CONVOLUTION with the matrix kernel
    ``A^k c`` (eigen-vectorized powers; FFT above 2048 rows), and
    buckets compose exactly — the per-group HOF scan folds each
    bucket's end state and transition ``A^(n_b)``, the per-row matrix
    ``A^m`` rides out as four columns, and the first-observation
    seeding is the closed-form correction ``v_0 A^i u``
    (u = [1-a, -ab]). Parallelism = bucket count at any group
    cardinality; no per-row Python anywhere (the convolution is
    O(n log n) vectorized numpy).
    """
    alpha, beta = float(alpha), float(beta)
    if not (0.0 < alpha < 1.0):
        raise RoleValidationError(f"holt: alpha must be in (0, 1), got {alpha}")
    if not (0.0 < beta <= 1.0):
        raise RoleValidationError(f"holt: beta must be in (0, 1], got {beta}")
    A = np.array([[1 - alpha, 1 - alpha], [-alpha * beta, 1 - alpha * beta]])
    c_vec = np.array([alpha, alpha * beta])
    u_vec = np.array([1 - alpha, -alpha * beta])
    gcols = list(group_vars or [])
    hints = dict(carry_hints or {})

    base = (
        df.withColumn("__t", _order_long(df, t_col, "holt"))
        .filter(F.col(value_col).isNotNull())
        .select(*gcols, F.col(t_col).alias("__tv"), "__t",
                F.col(value_col).cast("double").alias("__v"))
    )
    # NOTE: the bucket planner's stats action re-runs the upstream when
    # carry_hints are not passed; a base persist was measured and
    # WITHDRAWN (frozen-oracle 6dp-boundary interference,
    # OPTIMIZATION_r07.md) — pass carry_hints on hot paths instead.
    plan = plan_buckets(
        base, gcols, "__t",
        group_count_hint=hints.get("groups"), bounds_hint=hints.get("span"),
    )
    src = plan.df
    whole_group = not plan.bucketed

    in_schema = src.schema
    extra = ["__zl", "__zb", "__p11", "__p12", "__p21", "__p22"]
    out_schema = T.StructType(
        [in_schema[g] for g in gcols]
        + [T.StructField("__bk", T.LongType()), in_schema["__tv"],
           T.StructField("__t", T.LongType()),
           T.StructField("__v", T.DoubleType())]
        + [T.StructField(nm, T.DoubleType()) for nm in extra]
    )
    tname = t_col

    def _batch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__t", kind="mergesort").reset_index(drop=True)
        if pdf["__t"].duplicated().any():
            d = int(pdf["__t"][pdf["__t"].duplicated()].iloc[0])
            raise ValueError(
                f"holt: duplicate {tname} within a group (order value {d})"
            )
        v = pdf["__v"].to_numpy(dtype="float64")
        n = len(v)
        with np.errstate(under="ignore"):
            pw = _mat_powers(A, n + 1)        # A^0 .. A^n
            K = pw[:n] @ c_vec                # kernel A^k c, (n, 2)
            z = _conv_trunc(v, K) if n else np.zeros((0, 2))
        if whole_group and n:
            # seeding correction applied right here: s_i += v0 A^i u
            corr = pw[:n] @ u_vec             # (n, 2)
            z = z + v[0] * corr
        pdf["__zl"], pdf["__zb"] = z[:, 0], z[:, 1]
        pdf["__p11"], pdf["__p12"] = pw[:n, 0, 0], pw[:n, 0, 1]
        pdf["__p21"], pdf["__p22"] = pw[:n, 1, 0], pw[:n, 1, 1]
        return pdf[[*gcols, "__bk", "__tv", "__t", "__v", *extra]]

    local = src.groupBy(*gcols, "__bk").applyInPandas(_batch, out_schema)
    if not whole_group:
        # the bucketed path reads `local` twice (bucket stats + the
        # join-back) — without a persist the whole Arrow scan runs
        # twice (measured ~2x wall at 4M rows). Per-CALL tags: a
        # pipeline that builds holt twice before collecting either
        # would evict a shared tag and silently recompute the first
        # call's Arrow stage (VERDICT r5 finding 3)
        from ..plans.cachectl import managed_persist_percall

        local = managed_persist_percall(local, "holt.local")

    def _emit(frame, level, trend):
        cols = [
            *gcols, F.col("__tv").alias(t_col),
            F.col("__v").alias(value_col),
            F.round(level, 6).alias("holt_level"),
            F.round(trend, 6).alias("holt_trend"),
        ]
        if forecast is not None:
            cols.append(
                F.round(level + F.lit(float(forecast)) * trend, 6)
                .alias("holt_forecast")
            )
        return frame.select(*cols)

    if whole_group:
        return _emit(local, F.col("__zl"), F.col("__zb"))

    # ---- cross-bucket composition: fold (end state, A^n_b) exactly --
    # the bucket transition A^(n_b) needs no extra stage: the last
    # row's per-row matrix is A^(n_b - 1), so A^(n_b) = A @ P_last —
    # four literal-weighted column expressions
    a11, a12 = 1 - alpha, 1 - alpha
    a21, a22 = -alpha * beta, 1 - alpha * beta
    last = F.max(F.struct("__t", "__zl", "__zb",
                          "__p11", "__p12", "__p21", "__p22")).alias("__end")
    bstats = local.groupBy(*gcols, "__bk").agg(
        last,
        F.min(F.struct("__t", "__v")).getField("__v").alias("__vf"),
    ).select(
        *gcols, "__bk", "__vf",
        F.col("__end.__zl").alias("__zl_end"),
        F.col("__end.__zb").alias("__zb_end"),
        (F.lit(a11) * F.col("__end.__p11") + F.lit(a12) * F.col("__end.__p21")).alias("__m11"),
        (F.lit(a11) * F.col("__end.__p12") + F.lit(a12) * F.col("__end.__p22")).alias("__m12"),
        (F.lit(a21) * F.col("__end.__p11") + F.lit(a22) * F.col("__end.__p21")).alias("__m21"),
        (F.lit(a21) * F.col("__end.__p12") + F.lit(a22) * F.col("__end.__p22")).alias("__m22"),
    )
    per_group = bstats.groupBy(*gcols).agg(
        F.array_sort(
            F.collect_list(F.struct(
                F.col("__bk").alias("bk"),
                F.col("__zl_end").alias("zl"), F.col("__zb_end").alias("zb"),
                F.col("__m11").alias("m11"), F.col("__m12").alias("m12"),
                F.col("__m21").alias("m21"), F.col("__m22").alias("m22"),
                F.col("__vf").alias("vf"),
            ))
        ).alias("__bl")
    )
    st_t = (
        "struct<cl: double, cb: double, wa: double, wb: double, "
        "out: array<struct<bk: bigint, ca: double, cb2: double, "
        "wa: double, wb: double>>>"
    )
    scanned = per_group.withColumn(
        "__scan",
        F.aggregate(
            "__bl",
            F.expr(
                f"named_struct('cl', cast(0.0 as double), 'cb', "
                f"cast(0.0 as double), 'wa', cast({float(u_vec[0])!r} as double), "
                f"'wb', cast({float(u_vec[1])!r} as double), 'out', cast(array() "
                "as array<struct<bk: bigint, ca: double, cb2: double, "
                "wa: double, wb: double>>))"
            ).cast(st_t),
            lambda acc, b: F.struct(
                (b["zl"] + b["m11"] * acc["cl"] + b["m12"] * acc["cb"]).alias("cl"),
                (b["zb"] + b["m21"] * acc["cl"] + b["m22"] * acc["cb"]).alias("cb"),
                (b["m11"] * acc["wa"] + b["m12"] * acc["wb"]).alias("wa"),
                (b["m21"] * acc["wa"] + b["m22"] * acc["wb"]).alias("wb"),
                F.concat(
                    acc["out"],
                    F.array(F.struct(
                        b["bk"].alias("bk"),
                        (F.lit(a11) * acc["cl"] + F.lit(a12) * acc["cb"]).alias("ca"),
                        (F.lit(a21) * acc["cl"] + F.lit(a22) * acc["cb"]).alias("cb2"),
                        acc["wa"].alias("wa"), acc["wb"].alias("wb"),
                    )),
                ).alias("out"),
            ),
        ),
    ).select(
        *[F.col(g).alias(f"__h_{g}") for g in gcols],
        F.element_at("__bl", 1).getField("vf").alias("__v0"),
        F.explode("__scan.out").alias("__s"),
    ).select(
        *[f"__h_{g}" for g in gcols], "__v0",
        F.col("__s.bk").alias("__hbk"),
        F.col("__s.ca").alias("__ca"), F.col("__s.cb2").alias("__cb"),
        F.col("__s.wa").alias("__wa"), F.col("__s.wb").alias("__wb"),
    )
    cond = F.col("__bk") == F.col("__hbk")
    for g in gcols:
        cond = cond & F.col(g).eqNullSafe(F.col(f"__h_{g}"))
    joined = local.join(F.broadcast(scanned), cond, "left")
    # s_i = z_local + A^m (A * chain_in) + v0 A^m (A^N_before u)
    ca, cb = F.coalesce(F.col("__ca"), F.lit(0.0)), F.coalesce(F.col("__cb"), F.lit(0.0))
    wa, wb = F.coalesce(F.col("__wa"), F.lit(0.0)), F.coalesce(F.col("__wb"), F.lit(0.0))
    v0 = F.coalesce(F.col("__v0"), F.lit(0.0))
    level = (
        F.col("__zl") + F.col("__p11") * ca + F.col("__p12") * cb
        + v0 * (F.col("__p11") * wa + F.col("__p12") * wb)
    )
    trend = (
        F.col("__zb") + F.col("__p21") * ca + F.col("__p22") * cb
        + v0 * (F.col("__p21") * wa + F.col("__p22") * wb)
    )
    return _emit(joined, level, trend)


def ewma(
    df: DataFrame,
    t_col: str,
    value_col: str,
    group_vars: Optional[Sequence[str]] = None,
    *,
    alpha: Optional[float] = None,
    span: Optional[float] = None,
    init: str = "first",
    out_col: str = "ewma",
    carry_hints: Optional[dict] = None,
) -> DataFrame:
    """Exponentially weighted moving average per group, ordered by
    ``t_col`` (pandas ``ewm(adjust=False)`` recurrence).

    ``init="first"`` seeds with the first observation (``e_0 = v_0``,
    the pandas default); ``init="zero"`` seeds with 0
    (``e_i = alpha * sum v_j r^(i-j)``). ``span`` is the pandas
    convenience (``alpha = 2/(span+1)``). Rows with NULL values are
    EXCLUDED (the recurrence skips them — pandas ``ignore_na=True``);
    duplicate ``t`` within a group raise inside the batch.

    Scale shape: the within-bucket recurrence runs as one Arrow batch
    per (group, carry-bucket) — work distributes by bucket, so a
    5-group 100 TB panel still fans out; the cross-bucket composition
    is an exact higher-order-function scan over the per-group bucket
    frame (#buckets entries, broadcast back). When the carry planner
    decides buckets don't pay (many groups / tiny domain), each group
    is one Arrow batch and the composition stage vanishes.
    """
    if (alpha is None) == (span is None):
        raise RoleValidationError("ewma: pass exactly one of alpha= or span=")
    if span is not None:
        alpha = 2.0 / (float(span) + 1.0)
    alpha = float(alpha)
    if not (0.0 < alpha <= 1.0):
        raise RoleValidationError(f"ewma: alpha must be in (0, 1], got {alpha}")
    if init not in ("first", "zero"):
        raise RoleValidationError("ewma: init must be 'first' or 'zero'")
    r = 1.0 - alpha
    gcols = list(group_vars or [])
    hints = dict(carry_hints or {})

    base = (
        df.withColumn("__t", _order_long(df, t_col, "ewma"))
        .filter(F.col(value_col).isNotNull())
        .select(*gcols, F.col(t_col).alias("__tv"), "__t",
                F.col(value_col).cast("double").alias("__v"))
    )
    # NOTE: the bucket planner's stats action re-runs the upstream when
    # carry_hints are not passed; a base persist was measured and
    # WITHDRAWN (frozen-oracle 6dp-boundary interference,
    # OPTIMIZATION_r07.md) — pass carry_hints on hot paths instead.
    plan = plan_buckets(
        base, gcols, "__t",
        group_count_hint=hints.get("groups"), bounds_hint=hints.get("span"),
    )
    src = plan.df
    whole_group = not plan.bucketed  # each batch is a full group chain

    in_schema = src.schema
    out_schema = T.StructType(
        [in_schema[g] for g in gcols]
        + [
            T.StructField("__bk", T.LongType()),
            in_schema["__tv"],
            T.StructField("__t", T.LongType()),
            T.StructField("__v", T.DoubleType()),
            T.StructField("__local", T.DoubleType()),
            T.StructField("__decay0", T.DoubleType()),
        ]
    )
    a_, r_, tname, init_ = alpha, r, t_col, init

    def _batch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__t", kind="mergesort").reset_index(drop=True)
        if pdf["__t"].duplicated().any():
            d = int(pdf["__t"][pdf["__t"].duplicated()].iloc[0])
            raise ValueError(
                f"ewma: duplicate {tname} within a group (order value {d})"
            )
        v = pdf["__v"].to_numpy(dtype="float64")
        if whole_group and init_ == "first":
            local = pd.Series(v).ewm(alpha=a_, adjust=False).mean().to_numpy()
        else:
            # zero-seeded: prepend a 0 so e_(-1) = 0, drop it after
            seeded = np.concatenate(([0.0], v))
            local = (
                pd.Series(seeded).ewm(alpha=a_, adjust=False).mean().to_numpy()[1:]
            )
        pdf["__local"] = local
        # r^m; underflow to 0.0 is correct (those carry contributions
        # are below float64 resolution by construction)
        with np.errstate(under="ignore"):
            pdf["__decay0"] = np.power(r_, np.arange(len(v), dtype="float64"))
        return pdf[[*gcols, "__bk", "__tv", "__t", "__v", "__local", "__decay0"]]

    local = src.groupBy(*gcols, "__bk").applyInPandas(_batch, out_schema)
    if not whole_group:
        # bucketed path reads `local` twice (bucket stats + join-back);
        # per-call tags so multi-call pipelines keep each call cached
        from ..plans.cachectl import managed_persist_percall

        local = managed_persist_percall(local, "ewma.local")

    if whole_group:
        # init handled inside the batch; no cross-bucket composition
        return local.select(
            *gcols, F.col("__tv").alias(t_col), F.col("__v").alias(value_col),
            F.round("__local", 6).alias(out_col),
        )

    # ---- cross-bucket composition (bucketed plan: frame is tiny) ----
    # per-bucket facts: end-of-bucket zero-seed value, bucket decay
    # r^n_b, and the bucket's first value (for init="first")
    bstats = local.groupBy(*gcols, "__bk").agg(
        F.max(F.struct("__t", "__local")).getField("__local").alias("__e_end"),
        F.count(F.lit(1)).alias("__n"),
        F.min(F.struct("__t", "__v")).getField("__v").alias("__vf"),
    ).withColumn("__D", F.pow(F.lit(r), F.col("__n").cast("double")))
    # HOF left scan over the per-group bucket list:
    # state = (chain value so far, r^(rows before), emitted entries)
    per_group = bstats.groupBy(*gcols).agg(
        F.array_sort(
            F.collect_list(F.struct(
                F.col("__bk").alias("bk"), F.col("__e_end").alias("e_end"),
                F.col("__D").alias("D"), F.col("__vf").alias("vf"),
            ))
        ).alias("__bl")
    )
    scan_state = (
        "struct<chain: double, rb: double, "
        "out: array<struct<bk: bigint, cin: double, rbef: double>>>"
    )
    scanned = per_group.withColumn(
        "__scan",
        F.aggregate(
            "__bl",
            F.expr(
                "named_struct('chain', cast(0.0 as double), 'rb', "
                "cast(1.0 as double), 'out', cast(array() as "
                "array<struct<bk: bigint, cin: double, rbef: double>>))"
            ).cast(scan_state),
            lambda acc, b: F.struct(
                (b["e_end"] + b["D"] * acc["chain"]).alias("chain"),
                (acc["rb"] * b["D"]).alias("rb"),
                F.concat(
                    acc["out"],
                    F.array(F.struct(
                        b["bk"].alias("bk"), acc["chain"].alias("cin"),
                        acc["rb"].alias("rbef"),
                    )),
                ).alias("out"),
            ),
        ),
    ).select(
        *[F.col(g).alias(f"__h_{g}") for g in gcols],
        F.element_at("__bl", 1).getField("vf").alias("__v0"),
        F.explode("__scan.out").alias("__s"),
    ).select(
        *[f"__h_{g}" for g in gcols], "__v0",
        F.col("__s.bk").alias("__hbk"), F.col("__s.cin").alias("__cin"),
        F.col("__s.rbef").alias("__rbef"),
    )
    cond = F.col("__bk") == F.col("__hbk")
    for g in gcols:
        cond = cond & F.col(g).eqNullSafe(F.col(f"__h_{g}"))
    joined = local.join(F.broadcast(scanned), cond, "left")
    # e_zero = local + r^(m+1) * chain-before-bucket
    e = F.col("__local") + F.lit(r) * F.col("__decay0") * F.coalesce(
        F.col("__cin"), F.lit(0.0)
    )
    if init == "first":
        # first-seeding adds (1-alpha) * v_0 * r^(global row index)
        e = e + F.lit(r) * F.col("__v0") * F.col("__rbef") * F.col("__decay0")
    return joined.select(
        *gcols, F.col("__tv").alias(t_col), F.col("__v").alias(value_col),
        F.round(e, 6).alias(out_col),
    )
