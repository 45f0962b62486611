"""Deterministic sampling and data mixing for training pipelines.

A training mix is a reproducibility contract: re-running the pipeline
must select the SAME rows. Spark's ``df.sample`` is seed-stable only
for a fixed partitioning, which a 100 TB pipeline cannot promise
across re-partitions and engine versions. These operators instead key
every decision on a row-owned value through the engine's portable
MINSTD-style hash (the same integer arithmetic the token generator and
the DuckDB oracles share, ``sources/tokens.py``), so membership is a
pure row predicate — partitioning-independent, engine-independent,
and filter-pushdown-friendly (no shuffle, no RNG state).

- :func:`hash_sample` — keep a deterministic ``fraction`` of rows by
  hashing a key column; different ``seed`` values give independent
  samples (train/holdout splits that never drift).
- :func:`source_mix` — per-source sampling rates to hit a target
  token budget with caller-given mix weights: one aggregate for the
  per-source totals (driver-side, sources are few), then a broadcast
  rate map feeding :func:`hash_sample` per row.
"""

from __future__ import annotations

from typing import Dict, Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

#: MINSTD modulus shared with sources/tokens.py — keeps every product
#: under 2^47 so the identical expression runs in ANSI SQL engines
MODULUS = 2147483647


def _seed_mult(seed: int) -> int:
    """Seed-specific second-round multiplier. The seed must enter
    MULTIPLICATIVELY: an additive seed only translates an affine hash
    (u_seed2 = u_seed1 + eps), leaving the selected sets nearly
    identical across seeds. Multiplication mod the prime is a
    different bijection per multiplier, so the sub-threshold stripes
    of two seeds overlap ~ fraction^2 (independent-like)."""
    m = (16807 + 2654435761 * seed) % MODULUS
    return m if m > 1 else 16807


def _hash_unit(key: Column, seed: int) -> Column:
    """Deterministic pseudo-uniform value in [0, 1) from a long-castable
    key: reduce the key into the MINSTD field first (pmod — a plain
    ``%`` follows the dividend's sign in both Spark and DuckDB, so any
    negative key would hash negative and be selected at EVERY
    fraction), then two positive-mod affine rounds. The field
    reduction also bounds every product below 2^47 for arbitrary
    64-bit keys (xxhash64-derived ids are negative ~half the time and
    would overflow ``k * 48271`` under ANSI otherwise). Bit-identical
    to the pre-pmod version for keys in [0, 2^31-2] — the common
    small-id case — and portable to ANSI SQL verbatim
    (:func:`hash_unit_sql`)."""
    h0 = F.pmod(key.cast("long"), F.lit(MODULUS))
    h1 = F.pmod(h0 * 48271 + F.lit(11), F.lit(MODULUS))
    h2 = F.pmod(h1 * F.lit(_seed_mult(seed)) + 3, F.lit(MODULUS))
    return h2.cast("double") / F.lit(float(MODULUS))


def hash_unit_sql(key_expr: str, seed: int) -> str:
    """The DuckDB-verbatim twin of :func:`_hash_unit` (DuckDB has no
    pmod; ``((x % M) + M) % M`` is the portable positive mod)."""
    m = MODULUS

    def _pmod(x: str) -> str:
        return f"((({x}) % {m} + {m}) % {m})"

    h0 = _pmod(f"CAST({key_expr} AS BIGINT)")
    h1 = _pmod(f"{h0} * 48271 + 11")
    h2 = _pmod(f"{h1} * {_seed_mult(seed)} + 3")
    return f"(CAST({h2} AS DOUBLE) / {float(m)})"


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: Optional[float] = None,
    *,
    rate_col: Optional[str] = None,
    seed: int = 0,
) -> DataFrame:
    """Keep rows whose hashed key falls below ``fraction`` — an exact,
    rerun-stable Bernoulli sample keyed on row identity. The predicate
    is a pure column expression: it pushes into the scan, never
    shuffles, and selects the same rows at any partitioning. Disjoint
    seeds give independent samples, so ``hash_sample(df, k, 0.9,
    seed=1)`` and its complement form a stable train/holdout split.

    ``rate_col`` (mutually exclusive with ``fraction``) samples each
    row at its OWN rate — the quality-weighted / curriculum selection
    step: map a quality score to a keep-probability column, and each
    row keeps with that probability, deterministically in the row key.
    Values are effectively clamped to [0, 1] by the comparison
    (``rate >= 1`` always keeps, ``<= 0`` never); a NULL rate drops
    the row. Still a pure row predicate — no shuffle, no RNG state."""
    if (fraction is None) == (rate_col is None):
        raise ValueError("provide exactly one of fraction / rate_col")
    u = _hash_unit(F.col(key_col), seed)
    if fraction is not None:
        if not (0.0 <= fraction <= 1.0):
            raise ValueError("fraction must be in [0, 1]")
        return df.filter(u < F.lit(float(fraction)))
    return df.filter(
        u < F.coalesce(F.col(rate_col).cast("double"), F.lit(0.0))
    )


def hash_sample_n(
    df: DataFrame,
    key_col: str,
    n: int,
    group_vars: Optional[Sequence[str]] = None,
    *,
    seed: int = 0,
) -> DataFrame:
    """Exactly ``n`` rows per group (or globally) — the rows whose
    hashed keys are the group's ``n`` smallest. Deterministic,
    partition-independent, rerun-stable: the same contract as
    :func:`hash_sample` but with an EXACT count instead of an expected
    rate (the "give me 10k eval docs per language" call). Groups
    smaller than ``n`` keep every row. Hash ties (the unit has ~2^31
    resolution) break by the key ascending, so the selection is a pure
    function of the data.

    Scale shape: two-phase rank — a per-partition pre-top-n bounds the
    final rank window's input to ``n x partitions`` candidate rows, so
    an ungrouped call never funnels the corpus through one window task.
    No full sort, no reservoir state.
    """
    if n < 0:
        raise ValueError("n must be >= 0")
    gcols = list(group_vars or [])
    src = df.withColumn("__u", _hash_unit(F.col(key_col), seed))
    order = [F.col("__u"), F.col(key_col)]
    wlocal = Window.partitionBy(*gcols, "__part").orderBy(*order)
    pruned = (
        src.withColumn("__part", F.spark_partition_id())
        .withColumn("__lr", F.row_number().over(wlocal))
        .filter(F.col("__lr") <= n)
        .drop("__part", "__lr")
    )
    w = (
        Window.partitionBy(*gcols) if gcols else Window.partitionBy(F.lit(1))
    ).orderBy(*order)
    return (
        pruned.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n)
        .drop("__u", "__r")
    )


def source_mix(
    df: DataFrame,
    key_col: str,
    weight_by: str,
    source_col: str = "source",
    *,
    target_total: int,
    mix_weights: Optional[Mapping[str, float]] = None,
    temperature: Optional[float] = None,
    seed: int = 0,
) -> tuple[DataFrame, Dict[str, float]]:
    """Sample each source at the rate that hits ``target_total`` units
    of ``weight_by`` (e.g. tokens) in the caller's mix proportions —
    the data-mixing step of a training run.

    ``mix_weights`` maps source → desired share of the target budget
    (normalized internally; missing sources get 0). Without it, every
    source contributes proportionally to its corpus size (a plain
    global downsample to the budget). A source whose requested share
    exceeds its corpus is clamped to rate 1.0 (take everything) — the
    returned rate map makes the shortfall visible.

    ``temperature`` (alpha in (0, 1], mutually exclusive with
    ``mix_weights``) smooths the natural shares toward uniform:
    ``share_s ∝ (corpus_s / corpus_total) ** alpha`` — the standard
    multilingual-mixing upsampling of low-resource sources (Conneau &
    Lample 2019; alpha=1 is proportional, alpha→0 is uniform).

    Returns ``(sampled_df, rates)``. Scale shape: ONE aggregate for
    per-source totals (sources are few — the map is driver-side by
    design), then a broadcast-joined rate column feeding the same
    row-pure hash predicate as :func:`hash_sample`. Expected sampled
    weight per source = rate x total; exactness improves with row
    count (Bernoulli, not reservoir — no global sort, no state).
    """
    totals = {
        r[source_col]: r["__tot"]
        for r in df.groupBy(source_col)
        .agg(F.sum(weight_by).alias("__tot"))
        .collect()
    }
    grand = sum(totals.values())
    if grand == 0:
        return df.filter(F.lit(False)), {s: 0.0 for s in totals}
    if temperature is not None and mix_weights is not None:
        raise ValueError("temperature and mix_weights are mutually exclusive")
    if temperature is not None and not (0.0 < temperature <= 1.0):
        raise ValueError("temperature must be in (0, 1]")
    if mix_weights is None:
        shares = {s: t / grand for s, t in totals.items()}
        if temperature is not None:
            smoothed = {s: p ** temperature for s, p in shares.items()}
            zsum = sum(smoothed.values())
            shares = {s: p / zsum for s, p in smoothed.items()}
    else:
        wsum = sum(mix_weights.values())
        if wsum <= 0:
            raise ValueError("mix_weights must sum to a positive value")
        shares = {s: mix_weights.get(s, 0.0) / wsum for s in totals}
    rates = {
        s: min(1.0, (shares[s] * target_total) / totals[s]) if totals[s] else 0.0
        for s in totals
    }
    spark = df.sparkSession
    rate_map = spark.createDataFrame(
        [(s, r) for s, r in rates.items()],
        "__mix_src string, __rate double",
    )
    # eqNullSafe: groupBy keeps a NULL source group, so its budget must
    # flow back through the join — a plain equi-join would coalesce the
    # NULL group's rate to 0 and silently drop every row of it.
    out = (
        df.join(
            F.broadcast(rate_map),
            df[source_col].eqNullSafe(rate_map["__mix_src"]),
            "left",
        )
        .filter(_hash_unit(F.col(key_col), seed) < F.coalesce("__rate", F.lit(0.0)))
        .drop("__mix_src", "__rate")
    )
    return out, rates
