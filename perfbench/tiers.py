"""tier_ingest: the retention-tier continuous aggregate.

Feeds ``token_table`` doc-id slices (offset by the seed) through
``ingest_batch`` with the hot-path settings of ``jobs/run_tiers.py`` and
times the writes and the retention cycles.

Token counts and hour durations are integers, so every additive partial
is an exact float64 and the checks below compare exactly.
"""

from __future__ import annotations

import os
import random

import numpy as np

from . import common
from .trace import TracedCatalog, TracedJob

TIERS = {"hourly": 1, "daily": 24, "weekly": 168}
N_SOURCES = 11
HOURS = 365 * 24


def hot_path_kwargs(spark) -> dict:
    """``ingest_batch`` settings of the production job (jobs/run_tiers.py)."""
    from pyspark.sql import functions as F

    return {
        "group_encoders": {"source": F.substring("source", 5, 3).cast("int")},
        "algorithm": "sweep",
        "validate": False,
        "group_dim": spark.range(N_SOURCES).selectExpr("concat('src_', id) AS source"),
        "carry_hints": {"span": (0, HOURS + 64), "groups": N_SOURCES},
    }


def doc_offset(seed: int) -> int:
    # doc ids stay far below the 2^47 / 48271 bound of the generator
    return (seed * 1_000_003) % 10_000_000_000


def _catalog(ctx, root: str):
    from timeperiods_spark import TierCatalog

    cls = TracedCatalog if ctx.tracer.enabled else TierCatalog
    cat = cls(root=root, value_vars=("n_tok",), group_vars=("source",), tiers=dict(TIERS))
    if ctx.tracer.enabled:
        cat.tracer = ctx.tracer
    return cat


def oracle_source_totals(lo: int, hi: int):
    """Σ n_tok x duration and Σ duration per source over doc ids
    [lo, hi), from the generator's own SQL fragments."""
    from timeperiods_spark.sources import tokens as T

    sql = f"""
        SELECT concat('src_', {T.SRC_ID}) AS source,
               SUM(CAST({T.N_TOK} AS BIGINT) * {T.DUR_HOURS}) AS sumprod,
               SUM({T.DUR_HOURS}) AS xduration
        FROM (SELECT CAST(range AS BIGINT) AS doc_id FROM range({lo}, {hi}))
        GROUP BY 1
    """
    con = common.duck()
    try:
        df = con.execute(sql).df()
    finally:
        con.close()
    return {r.source: (int(r.sumprod), int(r.xduration)) for r in df.itertuples()}


def _ingest(ctx, spark, catalog, lo: int, hi: int, batch_id: str, job=None, op=None):
    from timeperiods_spark import ingest_batch, token_table

    n_parts = spark.sparkContext.defaultParallelism * 4
    batch = token_table(spark, hi, partitions=n_parts, doc_range=(lo, hi))
    with ctx.tracer.span("streaming.continuous.ingest", op=op, adopt=True):
        ingest_batch(
            catalog, batch, ("start_hour", "end_hour"),
            job=job, batch_id=batch_id, **hot_path_kwargs(spark),
        )


# ------------------------------------------------------------ tier_ingest


class TierIngest:
    """Closed loop, one writer. Ops run in cycles of five batch ingests
    and one retention cycle: compact the hourly tier, Gorilla-compress
    the hourly periods about to expire into the archive, expire them.
    A cycle outlasts the run length, so a run is one cycle."""

    name = "tier_ingest"
    rows_unit = "token docs"
    CYCLE = 6

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.batch_docs = max(1000, int(200_000 * ctx.scale))
        self.offset = doc_offset(ctx.seed)
        self.next_doc = self.offset
        self.cycles = 0
        self.snapshots = []  # per retention cycle: the rows it archived

    def setup(self, spark) -> float:
        """Warm up with three quarter-size batch ingests (the median
        counts) and one retention cycle into a throwaway catalog, then
        open the measured catalog."""
        self._open(spark, "warmup")
        times = []
        for _ in range(3):
            t0 = common.now()
            lo = self.next_doc
            self.next_doc += self.batch_docs // 4
            _ingest(self.ctx, spark, self.catalog, lo, self.next_doc, f"w{lo}", job=self.job)
            times.append(common.now() - t0)
        t0 = common.now()
        self._retention(spark, None)
        retention_s = common.now() - t0
        self._open(spark, "tiers")
        return common.median(times) + retention_s

    def _open(self, spark, name: str) -> None:
        from timeperiods_spark import ResumableJob

        d = common.fresh_dir(self.ctx.run_name, name)
        self.catalog = _catalog(self.ctx, os.path.join(d, "catalog"))
        job_cls = TracedJob if self.ctx.tracer.enabled else ResumableJob
        self.job = job_cls(os.path.join(d, "manifest"))
        if self.ctx.tracer.enabled:
            self.job.tracer = self.ctx.tracer
        self.archive = os.path.join(d, "archive")
        self.next_doc = self.offset
        self.cycles = 0
        self.snapshots = []

    def rebind(self) -> None:
        """Re-wrap catalog and job after the tracer was switched."""
        if self.ctx.tracer.enabled and not isinstance(self.catalog, TracedCatalog):
            root = self.catalog.root
            self.catalog = _catalog(self.ctx, root)
            job = TracedJob(self.job.manifest_dir)
            job.tracer = self.ctx.tracer
            self.job = job

    def op(self, spark, i: int) -> tuple[str, int]:
        if i % self.CYCLE == self.CYCLE - 1:
            self._retention(spark, i)
            return "retention", 0
        lo, hi = self.next_doc, self.next_doc + self.batch_docs
        _ingest(self.ctx, spark, self.catalog, lo, hi, f"b{lo}", job=self.job, op=i)
        self.next_doc = hi
        return "ingest", self.batch_docs

    def _retention(self, spark, i) -> None:
        from pyspark.sql import functions as F

        from timeperiods_spark import compress_series

        tr = self.ctx.tracer
        cycle = self.cycles
        self.cycles += 1
        horizon = 1024 * (1 + cycle % 8)
        base = self.catalog.compact(spark, "hourly")
        # bench-side copy of what is about to be archived (for the
        # round-trip check); read straight from the compacted files
        self.snapshots.append((i, cycle, self._hourly_rows(base, horizon)))
        with tr.span("functions.compression.compress", op=i):
            doomed = self.catalog.read_partials(spark, "hourly").filter(
                F.col("period") < horizon
            )
            compress_series(
                doomed.select(
                    F.lit(cycle).alias("cycle"), "source", "period",
                    F.col("sumprod_n_tok").alias("value"),
                ),
                ["cycle", "source"],
            ).write.mode("append").parquet(self.archive)
        self.catalog.expire("hourly", horizon)

    def _hourly_rows(self, base: str, horizon: int):
        con = common.duck()
        try:
            return con.execute(f"""
                SELECT source, CAST(period AS BIGINT) AS period, sumprod_n_tok AS value
                FROM read_parquet('{self.catalog.tier_path("hourly")}/*/batch={base}/*.parquet')
                WHERE period < {horizon}
            """).df()
        finally:
            con.close()

    def check(self, spark, ops: list[dict]) -> list[bool]:
        """Tier totals (live plus archived) against the DuckDB oracle over
        the ingested doc range, and an exact archive round trip."""
        import pandas as pd
        from pyspark.sql import functions as F

        from timeperiods_spark import decompress_series

        want = oracle_source_totals(self.offset, self.next_doc)
        if self.ctx.perturb_oracle:
            src = sorted(want)[0]
            want[src] = (want[src][0] + 1, want[src][1])
        archived: dict[str, int] = {}
        roundtrip_ok = True
        if self.snapshots:
            decoded = decompress_series(
                spark.read.parquet(self.archive), ["cycle", "source"]
            ).toPandas()
            expect = pd.concat(
                [s.assign(cycle=c) for _, c, s in self.snapshots], ignore_index=True
            )
            key = ["cycle", "source", "period"]
            a = decoded.astype({"cycle": "int64"}).sort_values(key).reset_index(drop=True)
            b = expect.sort_values(key).reset_index(drop=True)
            roundtrip_ok = len(a) == len(b) and all(
                np.array_equal(a[c].to_numpy(), b[c].to_numpy()) for c in key + ["value"]
            )
            for src, v in b.groupby("source")["value"].sum().items():
                archived[src] = int(v)
        totals_ok = True
        for tier in TIERS:
            got = (
                self.catalog.read_partials(spark, tier)
                .groupBy("source")
                .agg(F.sum("sumprod_n_tok").alias("s"), F.sum("xduration").alias("d"))
                .toPandas()
            )
            got_map = {r.source: (int(r.s), int(r.d)) for r in got.itertuples()}
            for src, (sp, dur) in want.items():
                g_sp, g_dur = got_map.get(src, (0, 0))
                if tier == "hourly":
                    # expired hours live on only in the archive
                    totals_ok &= g_sp + archived.get(src, 0) == sp
                else:
                    totals_ok &= (g_sp, g_dur) == (sp, dur)
        retention_ops = {i for i, _, _ in self.snapshots}
        return [
            totals_ok and (roundtrip_ok or o["i"] not in retention_ops) for o in ops
        ]

    def layer_counts(self, spark, ops: list[dict]) -> dict:
        traced = {o["i"] for o in ops}
        counts = {
            "compressed_points": sum(len(s) for i, _, s in self.snapshots if i in traced),
            "archive_bytes": 0,
            "archive_points": 0,
        }
        if self.snapshots:
            con = common.duck()
            try:
                nbytes, points = con.execute(
                    f"SELECT SUM(octet_length(blob)), SUM(n_points) "
                    f"FROM read_parquet('{self.archive}/*.parquet')"
                ).fetchone()
            finally:
                con.close()
            counts.update(archive_bytes=int(nbytes), archive_points=int(points))
        return counts
