"""Grid-unit helpers and skew utilities.

The reference supports integer and Date interval columns only
(/root/reference/timeperiod_functions.R:162-174). Real event data
arrives as timestamps; these helpers convert to/from the closed
integer grids the engine computes on, and provide the explicit
salted repartitioning the north rule requires for source/doc_id skew.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

#: seconds per supported grid unit
GRID_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 7 * 86400,
}


def timestamp_to_grid(col: Column | str, unit: str = "hour") -> Column:
    """Floor a timestamp to integer grid units since the epoch.

    ``[ts, ts]`` point events become one-unit closed intervals, making
    any event table a legal measurement table for the engine."""
    if unit not in GRID_SECONDS:
        raise ValueError(f"unit must be one of {sorted(GRID_SECONDS)}")
    c = F.col(col) if isinstance(col, str) else col
    # TIMESTAMP_NTZ (what parquet timestamps read back as) cannot cast
    # straight to BIGINT; route through TIMESTAMP (session TZ is pinned
    # to UTC in get_spark, so wall-clock == epoch semantics).
    secs = c.cast("timestamp").cast("long")
    return F.floor(secs / F.lit(GRID_SECONDS[unit])).cast("long")


def grid_to_timestamp(col: Column | str, unit: str = "hour") -> Column:
    """Inverse of :func:`timestamp_to_grid` (period start boundary)."""
    if unit not in GRID_SECONDS:
        raise ValueError(f"unit must be one of {sorted(GRID_SECONDS)}")
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("long") * F.lit(GRID_SECONDS[unit])).cast("timestamp")


def salted_repartition(
    df: DataFrame,
    cols: Sequence[str],
    salt: int,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Repartition by (cols…, deterministic salt) to split hot keys.

    A skewed key (the dominant ``source`` owns ~50% of the token table)
    hashed alone lands on one reducer; adding ``pmod(xxhash64(all
    columns), salt)`` spreads it over ``salt`` partitions while keeping
    co-located everything that doesn't need splitting. Use before
    heavy per-key work (compression, window functions); aggregations
    re-combine with a second, tiny, per-(key, salt) → key pass."""
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(*df.columns), F.lit(salt)))
    parts = [F.col(c) for c in cols] + [F.col("__salt")]
    out = (
        salted.repartition(num_partitions, *parts)
        if num_partitions
        else salted.repartition(*parts)
    )
    return out.drop("__salt")
