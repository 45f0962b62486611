"""Structured Streaming bridges: checkpointed incremental ingest and
watermarked event-time rollup."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from timeperiods_spark import TierCatalog, token_table
from timeperiods_spark.operators.rollup import rollup_regular
from timeperiods_spark.streaming.stream_ingest import (
    stream_ingest,
    windowed_rollup_stream,
)

from .conftest import assert_df_equal

IVARS = ("start_hour", "end_hour")
COLS = ["doc_id", "tokens", "n_tok", "source", "start_hour", "end_hour"]


def _write_batch(spark, path, lo, hi, n_total=3000):
    token_table(spark, n_total, doc_range=(lo, hi)).write.mode("append").parquet(path)


def test_stream_ingest_incremental(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    cat = TierCatalog(str(tmp_path / "cat"), ("n_tok",), ("source",))
    schema = token_table(spark, 1).schema

    # epoch 0: first two thirds of the corpus
    _write_batch(spark, src, 0, 2000)
    q = stream_ingest(
        spark, src, schema, cat, IVARS,
        checkpoint_dir=ckpt, manifest_dir=str(tmp_path / "m"),
    )
    q.awaitTermination()

    # more data arrives; a NEW availableNow query resumes from the
    # checkpoint and must process ONLY the new files
    _write_batch(spark, src, 2000, 3000)
    q2 = stream_ingest(
        spark, src, schema, cat, IVARS,
        checkpoint_dir=ckpt, manifest_dir=str(tmp_path / "m"),
    )
    q2.awaitTermination()

    # catalog state == one-shot batch build over the full corpus
    full = token_table(spark, 3000)
    for tier, width in cat.tiers.items():
        streamed = cat.read_finished(spark, tier, 0.0)
        direct = rollup_regular(
            full, IVARS, ("n_tok",), ("source",), width=width,
            required_percentage=0.0,
        )
        assert_df_equal(
            streamed.orderBy("source", "period"),
            direct.orderBy("source", "period"),
            ["source", "period"],
        )
    # each epoch left its own lineage units
    import os

    units = os.listdir(str(tmp_path / "m" / "units"))
    assert any("epoch0" in u for u in units) and any("epoch1" in u for u in units)


def test_windowed_rollup_stream_matches_batch_agg(spark, tmp_path):
    """availableNow file stream through the watermarked window agg ==
    the same aggregation done in batch."""
    src = str(tmp_path / "ev")
    rows = spark.range(500).select(
        (F.col("id") % 7).cast("string").alias("g"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 97).alias("ts"),
        (F.col("id") % 13).cast("double").alias("v"),
    )
    rows.write.parquet(src)

    stream = spark.readStream.schema(rows.schema).parquet(src)
    agg = windowed_rollup_stream(stream, "ts", "v", ["g"], window_duration="1 hour")
    out_path = str(tmp_path / "out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_path)

    batch = (
        rows.groupBy("g", F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count("v").alias("n_events"),
            F.sum("v").alias("sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "g",
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "sum_value",
            "first_ts",
            "last_ts",
        )
    )
    # append mode emits only watermark-closed windows; the final window
    # may be withheld, so compare on the intersection of windows
    got_keys = {(r["g"], r["window_start"]) for r in got.collect()}
    batch_rows = {
        (r["g"], r["window_start"]): r for r in batch.collect()
    }
    assert len(got_keys) > 0
    for r in got.collect():
        b = batch_rows[(r["g"], r["window_start"])]
        assert r["n_events"] == b["n_events"]
        assert r["sum_value"] == pytest.approx(b["sum_value"])
        assert r["first_ts"] == b["first_ts"] and r["last_ts"] == b["last_ts"]


def test_stateful_locf_stream_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState gap-fill: the carried value must cross
    MICRO-BATCH boundaries (checkpointed state), not just row groups.
    Batch 1 observes periods 0 and 3 of group 'a'; batch 2 observes
    period 6 — the 4,5 gap rows must fill with batch-1's last value."""
    import pyspark.sql.types as T

    from timeperiods_spark.streaming.stream_ingest import stateful_locf_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    schema = T.StructType(
        [
            T.StructField("g", T.StringType()),
            T.StructField("period", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def run_once(rows, part):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src) if part else spark.createDataFrame(rows, schema).coalesce(
            1
        ).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        filled = stateful_locf_stream(stream, ["g"], "period", "v")
        q = (
            filled.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once([("a", 0, 10.0), ("a", 3, 13.0), ("b", 5, 50.0)], part=False)
    run_once([("a", 6, 16.0)], part=True)

    got = {
        (r["g"], r["period"]): (r["v"], r["gap_filled"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got[("a", 0)] == (10.0, False)
    assert got[("a", 1)] == (10.0, True) and got[("a", 2)] == (10.0, True)
    assert got[("a", 3)] == (13.0, False)
    # the cross-batch carry: gaps 4,5 filled from batch-1 state
    assert got[("a", 4)] == (13.0, True) and got[("a", 5)] == (13.0, True)
    assert got[("a", 6)] == (16.0, False)
    assert got[("b", 5)] == (50.0, False) and len(got) == 8


def test_sessionized_rollup_stream_matches_batch(spark, tmp_path):
    """Native session_window stream == the same session aggregation in
    batch, compared on watermark-closed sessions."""
    from timeperiods_spark.streaming.stream_ingest import (
        sessionized_rollup_stream,
    )

    src = str(tmp_path / "sev")
    # three bursts per group separated by > gap
    rows = spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.timestamp_seconds(
            F.lit(1700000000)
            + (F.col("id") / 3).cast("long") * 7          # 7s cadence
            + ((F.col("id") / 100).cast("long") * 7200)   # 2h burst gaps
        ).alias("ts"),
        (F.col("id") % 5).cast("double").alias("v"),
    )
    rows.write.parquet(src)

    stream = spark.readStream.schema(rows.schema).parquet(src)
    agg = sessionized_rollup_stream(stream, "ts", "v", ["g"], gap="10 minutes")
    out_path = str(tmp_path / "sout")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "sck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["g"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out_path).collect()
    }
    assert got  # at least the watermark-closed sessions emitted

    batch = (
        rows.groupBy("g", F.session_window("ts", "10 minutes").alias("win"))
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"))
        .select("g", F.col("win.start").alias("ss"), "n", "s")
    )
    want = {(r["g"], r["ss"]): (r["n"], r["s"]) for r in batch.collect()}
    for k, v in got.items():
        assert want[k] == v, (k, v, want.get(k))


def test_distinct_rollup_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming HLL window partials == the batch sketch of the same
    windows, and they cascade with the batch distinct machinery."""
    from timeperiods_spark import finalize_distinct
    from timeperiods_spark.operators.rollup import merge_partials as _mp  # noqa: F401
    from timeperiods_spark.streaming.stream_ingest import distinct_rollup_stream

    src = str(tmp_path / "ev_d")
    rows = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 23).alias("ts"),
        (F.col("id") % 311).alias("uid"),
    )
    rows.write.parquet(src)

    stream = spark.readStream.schema(rows.schema).parquet(src)
    agg = distinct_rollup_stream(stream, "ts", "uid", ["g"],
                                 window_duration="1 hour")
    out_path = str(tmp_path / "out_d")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ck_d"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_path)
    assert got.count() > 0

    batch = (
        rows.groupBy("g", F.window("ts", "1 hour").alias("win"))
        .agg(F.hll_sketch_agg("uid", F.lit(12)).alias("hll_uid"),
             F.count(F.lit(1)).alias("n_events"))
        .select("g", F.col("win.start").alias("window_start"),
                F.hll_sketch_estimate("hll_uid").alias("est"), "n_events")
    )
    bm = {(r["g"], r["window_start"]): r for r in batch.collect()}
    for r in got.select(
        "g", "window_start", "n_events",
        F.hll_sketch_estimate("hll_uid").alias("est"),
    ).collect():
        b = bm[(r["g"], r["window_start"])]
        assert r["n_events"] == b["n_events"]
        assert r["est"] == b["est"]  # same rows -> same sketch estimate

    # the emitted sketches merge through the batch distinct machinery:
    # union all streamed windows per group == direct whole-data sketch
    per_group = got.withColumn("period", F.lit(0).cast("long")).groupBy(
        "g", "period"
    ).agg(F.hll_union_agg("hll_uid").alias("hll_uid"))
    est = {r["g"]: r["n_distinct_est"] for r in finalize_distinct(
        per_group, "uid", ["g"], width=1).collect()}
    exact = {r["g"]: r["n"] for r in rows.groupBy("g").agg(
        F.count_distinct("uid").alias("n")).collect()}
    for g, e in est.items():
        assert abs(e - exact[g]) <= 0.05 * exact[g]
