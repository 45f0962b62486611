"""Incremental continuous aggregates over retention tiers.

The reference is batch-only (SURVEY.md §2.3: no streaming); the north
star's "continuous aggregates" are therefore repeated incremental
batch: each arriving batch of interval measurements is rolled to
ADDITIVE hourly partials, upserted into the hourly tier, and cascaded
into every coarser tier by re-binning the *batch's own* partials —
never rescanning history. Additivity makes the result exactly equal to
a from-scratch rebuild (asserted in tests), which is the TimescaleDB-
style continuous-aggregate contract, expressed as plain DataFrame ops.

Skew note: the hourly groupBy keys are (source, period); the dominant
source is spread across periods, and AQE skew handling plus
``salted_repartition`` (functions.grid) cover pathological cases.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame

from ..operators.rollup import cascade, rollup_regular
from ..runner import ResumableJob
from ..sources.catalog import TierCatalog


def ingest_batch(
    catalog: TierCatalog,
    batch: DataFrame,
    interval_vars: Sequence[str],
    *,
    base_tier: str = "hourly",
    job: Optional[ResumableJob] = None,
    batch_id: Optional[str] = None,
    group_encoders: Optional[dict] = None,
    algorithm: str = "explode",
    validate: bool = True,
    group_dim=None,
    carry_hints: Optional[dict] = None,
) -> None:
    """Roll one batch into every tier of the catalog.

    With ``job``/``batch_id``, each (batch, tier) pair is a resumable
    lineage unit. Re-running any unit is idempotent: the catalog stores
    each batch's contribution as its own delta partition, so a crash
    after commit but before the lineage record simply rewrites the same
    delta. Each unit's lineage record names its tier.

    ``validate=False`` skips the endpoint asserts inside rollup_regular
    for pre-validated sources. Unless resuming past the base tier, the
    coarser tiers' cascade+write run concurrently with the base write
    (they are independent given the materialized base partials; Spark's
    scheduler interleaves the jobs, overlapping each write's I/O tail
    with the other's compute) — lineage stays per-(batch, tier).
    """
    value_vars = list(catalog.value_vars)
    group_vars = list(catalog.group_vars)
    base_width = catalog.tiers[base_tier]
    spark = batch.sparkSession
    bid = batch_id or "adhoc"

    ordered = sorted(catalog.tiers, key=catalog.tiers.get)
    if ordered and ordered[0] != base_tier:
        raise ValueError(f"base tier {base_tier} must be the finest tier")
    for tier in ordered:
        if catalog.tiers[tier] % base_width != 0:
            raise ValueError(
                f"tier {tier} width {catalog.tiers[tier]} does not nest in "
                f"base tier width {base_width}"
            )
    coarser = ordered[1:]
    base_done = (
        job is not None
        and batch_id is not None
        and job.is_done(f"{batch_id}:{base_tier}")
    )

    base_partials = rollup_regular(
        batch,
        interval_vars,
        value_vars,
        group_vars,
        width=base_width,
        partial=True,
        group_encoders=group_encoders,
        algorithm=algorithm,
        validate=validate,
        # a caller-known group domain kills the decode dim's second
        # full scan of the source (see rollup_regular)
        group_dim=group_dim,
        # ditto for the sweep's bucket stats (span/groups hints)
        carry_hints=carry_hints,
    )
    # Write-tail overlap: materialize the base partials ONCE (the only
    # pass over raw data), then the base tier's parquet write and every
    # coarser tier's cascade+write run as concurrent Spark jobs — the
    # writes' I/O tails overlap each other instead of serializing.
    # Skipped when resuming past the base tier (the cache would redo
    # the raw scan the resume exists to avoid) — cascades then re-bin
    # the already-committed base delta.
    cached = None
    if coarser and not base_done:
        cached = base_partials.persist()
        # eager materialization; submitting the three tier jobs over an
        # unmaterialized cache (per-partition block locking) measured
        # no faster — the barrier tail is ordinary compute, not waste
        cached.count()

    def upsert_tier(tier: str) -> dict[str, str]:
        width = catalog.tiers[tier]
        if tier == base_tier:
            tier_partials = cached if cached is not None else base_partials
        elif cached is not None:
            tier_partials = cascade(
                cached, value_vars, group_vars,
                fine_width=base_width, coarse_width=width,
            )
        else:
            # resumed path: re-bin the committed base delta
            # (tiny, partition-pruned parquet read) — raw data is never
            # rescanned for coarser tiers.
            tier_partials = cascade(
                catalog.read_batch_delta(spark, base_tier, bid),
                value_vars,
                group_vars,
                fine_width=base_width,
                coarse_width=width,
            )
        catalog.upsert(tier_partials, tier, bid)
        return {"tier": tier}

    def run_tier(tier: str) -> None:
        if job is not None and batch_id is not None:
            job.run_unit(f"{batch_id}:{tier}", lambda t=tier: upsert_tier(t))
        else:
            upsert_tier(tier)

    try:
        if cached is not None:
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            # the pool's jobs keep the caller's job group, local
            # properties and session tags (thread-local in the JVM)
            task = inheritable_thread_target(spark)(run_tier)
            with ThreadPoolExecutor(max_workers=len(ordered)) as pool:
                for fut in [pool.submit(task, t) for t in ordered]:
                    fut.result()
        else:
            for tier in ordered:  # base first: cascades read its delta
                run_tier(tier)
    finally:
        if cached is not None:
            cached.unpersist()
