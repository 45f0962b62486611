"""Structured Streaming front-ends for the tier catalog.

The reference is batch-only (SURVEY.md §2.3); the retention tiers are
continuous aggregates = repeated incremental batch. Three idiomatic
Spark bridges are provided:

``stream_ingest``
    readStream over a growing file/table source → ``foreachBatch`` →
    the SAME ``ingest_batch`` used for batch loads, with the micro-batch
    epoch as the lineage/delta batch id. Spark's streaming checkpoint
    tracks which source files were consumed; the catalog's batch-delta
    layout makes epoch replays (after a crash between checkpoint and
    commit) idempotent. Exactly-once end to end without any new
    machinery — this is the recommended production path.

``windowed_rollup_stream``
    A pure Structured Streaming event-time aggregation with a watermark,
    for point-event sources (one timestamp per row, not intervals):
    window(ts, width) + additive partials, append mode after the
    watermark closes each window. Demonstrates the native streaming
    operator surface; interval-valued measurements still go through
    ``stream_ingest`` (windows can't split a row across periods —
    that overlap-weighting is exactly what the batch core does).

``stateful_locf_stream``
    Streaming gap-fill/LOCF as a custom stateful operator: the last
    observation per group is carried across micro-batch boundaries.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..runner import ResumableJob
from ..sources.catalog import TierCatalog
from .continuous import ingest_batch


def stream_ingest(
    spark: SparkSession,
    source_path: str,
    schema,
    catalog: TierCatalog,
    interval_vars: Sequence[str],
    *,
    checkpoint_dir: str,
    manifest_dir: Optional[str] = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously ingest parquet files appearing under ``source_path``
    into every tier of ``catalog``. With ``available_now`` the query
    drains the currently-available input and stops (the batch-refresh
    cadence pattern); otherwise it runs until stopped."""
    job = ResumableJob(manifest_dir) if manifest_dir else None

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_batch(
            catalog,
            batch_df,
            interval_vars,
            job=job,
            batch_id=f"epoch{epoch_id}",
        )

    stream = spark.readStream.schema(schema).parquet(source_path)
    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_rollup_stream(
    events: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: Sequence[str],
    *,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked event-time rollup of a point-event stream: additive
    partials per (group, window), append-mode-ready. Late rows beyond
    the watermark are dropped by Spark's state store — the streaming
    analog of required_percentage accounting is carried by n_events
    vs the expected density, decided downstream."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*group_cols, F.window(ts_col, window_duration).alias("win"))
        .agg(
            F.count(value_col).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            *group_cols,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "sum_value",
            "first_ts",
            "last_ts",
        )
    )


def stateful_locf_stream(
    events: DataFrame,
    group_cols: Sequence[str],
    period_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming gap-fill/LOCF as a CUSTOM STATEFUL operator
    (``applyInPandasWithState``) — the one tier operation native
    windowed aggregation cannot express, because filling a gap needs
    the last observation carried across micro-batch boundaries.

    Per group, the state is (last_period, last_value). Each micro-batch
    emits one row per grid period from the previous watermark point to
    the batch's max period: observed periods carry their (mean) value
    with ``gap_filled=false``; missing periods repeat the carried value
    with ``gap_filled=true`` (the batch ``gap_fill_locf`` contract,
    SURVEY.md §7 M5). A gap is emitted when the NEXT observation
    arrives — no timeout-based speculation, so replays are
    deterministic and the stream stays append-only. State size is O(1)
    per group (two scalars) regardless of history length.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    group_cols = list(group_cols)
    gfields = [f for f in events.schema.fields if f.name in group_cols]
    out_schema = T.StructType(
        gfields
        + [
            T.StructField(period_col, T.LongType()),
            T.StructField(value_col, T.DoubleType()),
            T.StructField("gap_filled", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_period", T.LongType()),
            T.StructField("last_value", T.DoubleType()),
        ]
    )

    def fill(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs]
        if not chunks:
            # a group can surface with no data rows (e.g. state-only
            # invocations); nothing to emit
            return
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        # one value per period inside the batch (mean of duplicates),
        # ordered — the stateful walk needs monotone periods
        obs = (
            pdf.groupby(period_col)[value_col].mean().sort_index()
        )
        last_p, last_v = state.get if state.exists else (None, None)
        out_p, out_v, out_g = [], [], []
        for p, v in obs.items():
            p = int(p)
            if last_p is not None and p <= last_p:
                # late/out-of-order observation at or before the carried
                # frontier: already emitted (possibly as a gap fill) —
                # re-emitting would duplicate periods in append mode.
                # Dropped, matching watermark semantics; sources that
                # must not lose data should be watermarked/monotone per
                # group upstream.
                continue
            if last_p is not None:
                for gap in range(last_p + 1, p):
                    out_p.append(gap)
                    out_v.append(last_v)
                    out_g.append(True)
            out_p.append(p)
            out_v.append(float(v))
            out_g.append(False)
            last_p, last_v = p, float(v)
        state.update((last_p, last_v))
        frame = pd.DataFrame({period_col: out_p, value_col: out_v, "gap_filled": out_g})
        for g, val in zip(group_cols, key):
            frame[g] = val
        yield frame[group_cols + [period_col, value_col, "gap_filled"]]

    return events.groupBy(*group_cols).applyInPandasWithState(
        fill, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )

