"""M6/M7 — tier catalog, incremental continuous aggregates, retention,
compaction, resumable lineage."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from timeperiods_spark.operators.rollup import rollup_regular
from timeperiods_spark.runner import ResumableJob
from timeperiods_spark.sources.catalog import TierCatalog
from timeperiods_spark.sources.tokens import token_table
from timeperiods_spark.streaming.continuous import ingest_batch

from .conftest import assert_df_equal


@pytest.fixture()
def catalog(tmp_path):
    return TierCatalog(
        root=str(tmp_path / "tiers"),
        value_vars=("n_tok",),
        group_vars=("source",),
        bucket_periods=512,
    )


def _batches(spark, n_docs=2400, n_batches=3):
    per = n_docs // n_batches
    tok = token_table(spark, n_docs)
    return [
        tok.filter(
            (F.col("doc_id").cast("long") >= i * per)
            & (F.col("doc_id").cast("long") < (i + 1) * per)
        )
        for i in range(n_batches)
    ], tok


IVARS = ("start_hour", "end_hour")


def test_incremental_equals_rebuild(spark, catalog):
    """Batches ingested incrementally == one-shot rebuild, every tier."""
    batches, full = _batches(spark)
    for i, b in enumerate(batches):
        ingest_batch(catalog, b, IVARS, batch_id=f"b{i}")
    for tier, width in catalog.tiers.items():
        incr = catalog.read_finished(spark, tier, required_percentage=0.0)
        direct = rollup_regular(
            full, IVARS, ("n_tok",), ("source",), width=width, required_percentage=0.0
        ).drop("period")
        assert_df_equal(
            incr.drop("period").orderBy("source", "start"),
            direct.orderBy("source", "start"),
            ["source", "start"],
        )


def test_upsert_idempotent(spark, catalog):
    """Re-ingesting the same batch_id must not change any tier (the
    crash-replay safety property)."""
    batches, _ = _batches(spark)
    ingest_batch(catalog, batches[0], IVARS, batch_id="b0")
    before = catalog.read_partials(spark, "daily").orderBy("source", "period").collect()
    ingest_batch(catalog, batches[0], IVARS, batch_id="b0")  # replay
    after = catalog.read_partials(spark, "daily").orderBy("source", "period").collect()
    assert before == after


def test_compact_preserves_and_reduces_deltas(spark, catalog):
    batches, _ = _batches(spark)
    for i, b in enumerate(batches):
        ingest_batch(catalog, b, IVARS, batch_id=f"b{i}")
    assert catalog.delta_count("hourly") >= 3
    before = catalog.read_finished(spark, "hourly", 0.0).orderBy("source", "period").collect()
    catalog.compact(spark, "hourly")
    assert catalog.delta_count("hourly") == 1
    after = catalog.read_finished(spark, "hourly", 0.0).orderBy("source", "period").collect()
    assert before == after


def test_expire_drops_old_buckets(spark, catalog):
    batches, _ = _batches(spark)
    ingest_batch(catalog, batches[0], IVARS, batch_id="b0")
    horizon = 4000
    dropped = catalog.expire("hourly", keep_periods_from=horizon)
    assert dropped, "expected at least one dropped bucket"
    remaining = catalog.read_partials(spark, "hourly").agg(F.min("period")).first()[0]
    # only whole buckets below the horizon bucket are dropped
    assert remaining >= (horizon // catalog.bucket_periods) * catalog.bucket_periods


def test_resumable_job_skips_completed(tmp_path):
    job = ResumableJob(str(tmp_path / "manifest"))
    calls = []
    rec1 = job.run_unit("u1", lambda: calls.append(1) or {"rows": 5})
    assert not rec1["skipped"] and rec1["metrics"]["rows"] == 5
    rec2 = job.run_unit("u1", lambda: calls.append(1) or {"rows": 5})
    assert rec2["skipped"]
    assert len(calls) == 1
    assert job.completed_units() == {"u1"}
    s = job.summary()
    assert s["units"] == 1 and s["records"][0]["unit_id"] == "u1"


def test_resumable_ingest_resumes_per_tier(spark, catalog, tmp_path):
    """Simulate a crash between tiers: pre-complete hourly in the
    manifest, ingest, confirm hourly unit skipped but daily/weekly ran."""
    batches, _ = _batches(spark)
    job = ResumableJob(str(tmp_path / "m"))
    # first full ingest with lineage
    ingest_batch(catalog, batches[0], IVARS, job=job, batch_id="b0")
    assert job.completed_units() == {"b0:hourly", "b0:daily", "b0:weekly"}
    # replay the whole batch: every unit should be skipped (no rewrite)
    marker = catalog.tier_path("hourly")
    mtime = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fns in os.walk(marker)
        for f in fns
    )
    ingest_batch(catalog, batches[0], IVARS, job=job, batch_id="b0")
    mtime2 = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fns in os.walk(marker)
        for f in fns
    )
    assert mtime2 == mtime  # skipped units did not touch storage


def test_torn_manifest_record_reruns(tmp_path):
    job = ResumableJob(str(tmp_path / "m"))
    job.run_unit("u1", lambda: {"rows": 1})
    # corrupt the record (torn write)
    p = os.path.join(str(tmp_path / "m"), "units", "u1.json")
    with open(p, "w") as fh:
        fh.write('{"unit_id": ')
    assert job.completed_units() == set()
    rec = job.run_unit("u1", lambda: {"rows": 2})
    assert not rec["skipped"] and rec["metrics"]["rows"] == 2


def test_compact_is_reader_safe(spark, catalog):
    """Concurrent readers during compaction never error and never see a
    double-counted or partial total (VERDICT r2 item 7): the new base
    is invisible until the atomic manifest swap, and with
    remove_old=False the old dirs survive until an explicit vacuum."""
    import threading

    batches, _ = _batches(spark)
    for i, b in enumerate(batches):
        ingest_batch(catalog, b, IVARS, batch_id=f"b{i}")
    expected = catalog.read_partials(spark, "daily").agg(
        F.sum("xduration").alias("s")
    ).first()["s"]

    stop = threading.Event()
    seen, errors = [], []

    def reader():
        while not stop.is_set():
            try:
                s = catalog.read_partials(spark, "daily").agg(
                    F.sum("xduration").alias("s")
                ).first()["s"]
                seen.append(s)
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        base = catalog.compact(spark, "daily", remove_old=False)
    finally:
        stop.set()
        t.join()
    assert not errors, errors[:1]
    assert seen and all(s == expected for s in seen), (expected, set(seen))
    # dead dirs still present until vacuum; live view is the base only
    assert catalog.delta_count("daily") == 1
    assert catalog.live_batches("daily") == [base]
    dropped = catalog.vacuum("daily")
    assert dropped  # the old deltas went away
    after = catalog.read_partials(spark, "daily").agg(
        F.sum("xduration").alias("s")
    ).first()["s"]
    assert after == expected


def test_compact_twice_monotone_base_names(spark, catalog):
    batches, _ = _batches(spark)
    ingest_batch(catalog, batches[0], IVARS, batch_id="b0")
    b1 = catalog.compact(spark, "daily")
    ingest_batch(catalog, batches[1], IVARS, batch_id="b1")
    b2 = catalog.compact(spark, "daily")
    assert b1 != b2 and catalog.live_batches("daily") == [b2]


def test_upsert_rejects_reserved_base_prefix(spark, catalog):
    """User batch_ids may not squat on compact()'s __base namespace."""
    batches, _ = _batches(spark, n_docs=300, n_batches=3)
    with pytest.raises(ValueError, match="__base"):
        ingest_batch(catalog, batches[0], IVARS, batch_id="__basefoo")


def test_compact_tolerates_foreign_base_dirs(spark, catalog, tmp_path):
    """A stray non-numeric __base* directory (pre-guard data, foreign
    writer) must not brick compaction (round-4 ADVICE: int() on the
    suffix raised ValueError)."""
    import os

    batches, _ = _batches(spark, n_docs=300, n_batches=3)
    ingest_batch(catalog, batches[0], IVARS, batch_id="b0")
    # plant a foreign dir directly in the tier's first pbucket
    tier_path = catalog.tier_path("daily")
    pb = next(d for d in os.listdir(tier_path) if d.startswith("pbucket="))
    os.makedirs(os.path.join(tier_path, pb, "batch=__basejunk"), exist_ok=True)
    name = catalog.compact(spark, "daily")
    assert name == "__base0"
    ingest_batch(catalog, batches[1], IVARS, batch_id="b1")
    assert catalog.compact(spark, "daily") == "__base1"


def test_ingest_jobs_keep_the_callers_job_group(spark, catalog):
    """The tier writes run on a thread pool; their jobs must still carry
    the caller's job group, so an ingest adds no job without one."""
    batches, _ = _batches(spark)
    sc, group = spark.sparkContext, "ingest-under-a-group"
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup(group, "ingest")
    try:
        ingest_batch(catalog, batches[0], IVARS, batch_id="b0")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(sc.statusTracker().getJobIdsForGroup(None)) - before == set()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3  # one per tier write
