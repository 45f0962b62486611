"""panel_rollup: user rollup requests over seeded interval panels.

Inputs are generated by ``xxhash64(..., seed)`` column expressions and
written to parquet; the engine and the DuckDB oracle both read those
files. Every run holds all four panel shapes (many small groups / few
huge groups x periods shorter / longer than the x intervals), so the
``auto`` join picker takes both its group_equi and its bin plan in every
run, and the seed only moves sizes and values within each shape.

Values are multiples of 1/8 and durations are integers, so every
weighted sum is exact in float64 and both engines produce bit-identical
means: results are checked by exact checksums, not tolerances.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass

from . import common

SHAPES = (("many", "short"), ("many", "long"), ("few", "short"), ("few", "long"))


@dataclass(frozen=True)
class Panel:
    name: str
    groups: int
    per_group: int  # x intervals per group
    slot: int  # x slot length: interval i of a group lives in slot i
    period: int  # y period length
    stride: int  # y start spacing (< period: y periods overlap)
    overlapping: bool = False

    @property
    def n_x(self) -> int:
        return self.groups * self.per_group

    @property
    def y_per_group(self) -> int:
        return math.ceil((self.per_group * self.slot + 2 * self.period) / self.stride)


def make_panels(seed: int, scale: float = 1.0) -> tuple[list[Panel], Panel]:
    """The run's rollup panels (one per shape) and the overlapping panel
    remove_overlaps requests use."""
    rng = random.Random(seed)
    n_x = max(64, int(40_000 * scale))
    panels = []
    for groups_kind, period_kind in SHAPES:
        slot = rng.randint(14, 17)
        groups = rng.randint(700, 800) if groups_kind == "many" else rng.randint(2, 3)
        if period_kind == "short":
            period = rng.randint(slot // 2, slot - 2)
        else:
            period = rng.randint(5 * slot, 6 * slot)
        stride = max(1, (2 * period) // 3)
        panels.append(Panel(
            f"{groups_kind}_{period_kind}", groups, max(1, n_x // groups),
            slot, period, stride,
        ))
    groups, slot = rng.randint(10, 12), rng.randint(14, 17)
    overlap = Panel(
        "overlap", groups, max(1, n_x // groups), slot, slot, slot, overlapping=True
    )
    return panels, overlap


def _x_frame(spark, p: Panel, seed: int):
    from pyspark.sql import functions as F

    def h(k: int):
        return F.xxhash64(F.lit(seed), F.lit(k), F.col("g"), F.col("i"))

    ids = spark.range(p.n_x).select(
        (F.col("id") / p.per_group).cast("int").alias("g"),
        (F.col("id") % p.per_group).alias("i"),
    )
    quarter = max(1, p.slot // 4)
    # uneven intervals: 1 in 8 starts late, 1 in 4 leaves a gap before
    # the next slot; overlapping panels instead run 1 in 3 intervals on
    # into the following slots
    off = F.when(F.pmod(h(1), 8) == 0, F.pmod(h(2), quarter)).otherwise(0)
    start = F.col("i") * p.slot + off
    if p.overlapping:
        ext = F.when(F.pmod(h(3), 3) == 0, F.pmod(h(4), 2 * p.slot) + 1).otherwise(0)
        end = F.col("i") * p.slot + p.slot - 1 + ext
    else:
        gap = F.when(F.pmod(h(3), 4) == 0, F.pmod(h(4), quarter) + 1).otherwise(0)
        end = F.col("i") * p.slot + p.slot - 1 - gap

    def value(k: int):
        return F.when(F.pmod(h(k), 20) == 0, F.lit(None)).otherwise(
            F.pmod(h(k + 1), 80_000) / F.lit(8.0)
        )

    return ids.select(
        "g", start.alias("start"), end.alias("end"),
        value(5).alias("v1"), value(7).alias("v2"),
    )


def _y_frame(spark, p: Panel, seed: int):
    from pyspark.sql import functions as F

    m = p.y_per_group
    ids = spark.range(p.groups * m).select(
        (F.col("id") / m).cast("int").alias("g"), (F.col("id") % m).alias("j")
    )
    # per-group phase: schedules are aligned neither with the x slots
    # nor with each other, and start before / end after the x range
    phase = F.pmod(F.xxhash64(F.lit(seed), F.lit(11), F.col("g")), p.stride) - p.period
    start = phase + F.col("j") * p.stride
    return ids.select("g", start.alias("start"), (start + p.period - 1).alias("end"))


def input_path(root: str, side: str, p: Panel) -> str:
    return os.path.join(root, side, f"panel={p.name}")


def write_inputs(spark, root: str, seed: int, panels, overlap) -> None:
    """One partitioned parquet write per side; each panel is a partition
    directory the requests and the oracle read on their own."""
    from functools import reduce

    from pyspark.sql import functions as F

    def write(side: str, frames) -> None:
        union = reduce(lambda a, b: a.unionByName(b), frames)
        union.write.partitionBy("panel").parquet(os.path.join(root, side))

    write("x", [
        _x_frame(spark, p, seed).withColumn("panel", F.lit(p.name))
        for p in panels + [overlap]
    ])
    write("y", [
        _y_frame(spark, p, seed).withColumn("panel", F.lit(p.name)) for p in panels
    ])


# ---------------------------------------------------------------- oracle

_ORACLE_IWA = """
WITH x AS (SELECT * FROM read_parquet('{x}/*.parquet')),
y AS (SELECT DISTINCT g, start AS ys, "end" AS ye FROM read_parquet('{y}/*.parquet')),
xc AS (SELECT g, unnest(range(start, "end" + 1)) AS t, v1, v2 FROM x),
yc AS (SELECT g, ys, ye, unnest(range(ys, ye + 1)) AS t FROM y),
agg AS (
  SELECT yc.g, ys, ye, COUNT(*) AS xdur, COUNT(v1) AS n1, COUNT(v2) AS n2,
         SUM(v1) AS s1, SUM(v2) AS s2, MIN(yc.t) AS mn, MAX(yc.t) AS mx
  FROM yc JOIN xc ON yc.g = xc.g AND yc.t = xc.t
  GROUP BY yc.g, ys, ye
)
SELECT y.g, y.ys AS start, y.ye AS "end",
  CASE WHEN 100.0 * COALESCE(n1, 0) / (y.ye - y.ys + 1) < 100.0 THEN NULL
       ELSE s1 / n1 END AS v1,
  CASE WHEN 100.0 * COALESCE(n2, 0) / (y.ye - y.ys + 1) < 100.0 THEN NULL
       ELSE s2 / n2 END AS v2,
  CAST(y.ye - y.ys + 1 AS DOUBLE) AS yduration,
  COALESCE(xdur, 0) AS xduration,
  COALESCE(n1, 0) AS nobs_v1, COALESCE(n2, 0) AS nobs_v2,
  mn AS xminstart, mx AS xmaxend
FROM y LEFT JOIN agg ON y.g = agg.g AND y.ys = agg.ys AND y.ye = agg.ye
"""

# atomic pieces run between consecutive cut points (every start and
# every end + 1 of a group); the originals covering a piece are exactly
# those covering its first cell
_ORACLE_OVERLAPS = """
WITH x AS (SELECT * FROM read_parquet('{x}/*.parquet')),
cuts AS (SELECT g, start AS c FROM x UNION SELECT g, "end" + 1 FROM x),
pieces AS (
  SELECT g, c AS ps, LEAD(c) OVER (PARTITION BY g ORDER BY c) - 1 AS pe FROM cuts
),
xc AS (
  SELECT g, unnest(range(start, "end" + 1)) AS t, start AS o_start,
         "end" AS o_end, v1, v2
  FROM x
)
SELECT p.g, p.ps AS start, p.pe AS "end", xc.o_start, xc.o_end, xc.v1, xc.v2
FROM pieces p JOIN xc ON p.g = xc.g AND p.ps = xc.t
WHERE p.pe IS NOT NULL
"""


def oracle_checksum(root: str, p: Panel, kinds) -> tuple:
    x = input_path(root, "x", p)
    if p.overlapping:
        sql = _ORACLE_OVERLAPS.format(x=x)
    else:
        sql = _ORACLE_IWA.format(x=x, y=input_path(root, "y", p))
    con = common.duck()
    try:
        pdf = con.execute(sql).df()
    finally:
        con.close()
    return common.pandas_checksum(pdf, kinds)


# ------------------------------------------------------------- workload


class PanelRollup:
    """Closed loop, one client. Op i follows a fixed cycle: one
    interval_weighted_avg request per rollup panel, then one
    remove_overlaps request."""

    name = "panel_rollup"
    rows_unit = "x intervals"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.panels, self.overlap = make_panels(ctx.seed, ctx.scale)
        self.cycle = self.panels + [self.overlap]
        self.root = None
        self.kinds: dict[str, list] = {}
        self.results: dict[int, tuple[str, tuple]] = {}

    CYCLE = 5

    def schedule(self, i: int) -> Panel:
        return self.cycle[i % self.CYCLE]

    def setup(self, spark) -> float:
        """Generate the inputs, then warm up with one request. Returns
        set-up seconds."""
        t0 = common.now()
        self.root = common.fresh_dir(self.ctx.run_name, "panel")
        write_inputs(spark, self.root, self.ctx.seed, self.panels, self.overlap)
        self.run_op(spark, self.panels[1])
        return common.now() - t0

    def run_op(self, spark, p: Panel, op=None) -> int:
        from timeperiods_spark import interval_weighted_avg, remove_overlaps

        tr = self.ctx.tracer
        x = spark.read.parquet(input_path(self.root, "x", p))
        if p.overlapping:
            with tr.span("operators.overlaps.exec", op=op):
                out = remove_overlaps(x, ("start", "end"), ("g",))
                checksum = common.spark_checksum(out)
        else:
            y = spark.read.parquet(input_path(self.root, "y", p))
            with tr.span("operators.interval_avg.call", op=op):
                out = interval_weighted_avg(x, y, ("start", "end"), ("v1", "v2"), ("g",))
            with tr.span("operators.interval_avg.exec", op=op):
                checksum = common.spark_checksum(out)
        if op is not None:
            self.kinds.setdefault(p.name, common.column_kinds(out))
            self.results[op] = (p.name, checksum)
        return p.n_x

    def op(self, spark, i: int) -> tuple[str, int]:
        p = self.schedule(i)
        kind = "remove_overlaps" if p.overlapping else "interval_weighted_avg"
        return kind, self.run_op(spark, p, op=i)

    def check(self, spark, ops: list[dict]) -> list[bool]:
        """Per op: does its checksum match the DuckDB oracle's?"""
        by_name = {p.name: p for p in self.cycle}
        names = sorted({name for name, _ in self.results.values()})
        expected = {
            name: oracle_checksum(self.root, by_name[name], self.kinds[name])
            for name in names
        }
        if self.ctx.perturb_oracle and names:
            cs = expected[names[0]]
            expected[names[0]] = (cs[0] + 1,) + cs[1:]
        out = []
        for o in ops:
            rec = self.results.get(o["i"])
            out.append(rec is not None and expected[rec[0]] == rec[1])
        return out

    def layer_counts(self, spark, ops: list[dict]) -> dict:
        """Overlap pairs per interval_weighted_avg request, from the
        inputs: y schedules are regular, so the y periods overlapping
        each x interval are counted arithmetically."""
        pairs = {}
        con = common.duck()
        try:
            for p in self.panels:
                pairs[p.name] = con.execute(f"""
                    WITH y AS (
                      SELECT g, MIN(start) AS phase, COUNT(*) AS m
                      FROM read_parquet('{input_path(self.root, "y", p)}/*.parquet')
                      GROUP BY g
                    )
                    SELECT SUM(GREATEST(0,
                      LEAST(m - 1, FLOOR((x."end" - phase) / {p.stride}))
                      - GREATEST(0, CEIL((x.start - phase - {p.period} + 1) / {p.stride}))
                      + 1))
                    FROM read_parquet('{input_path(self.root, "x", p)}/*.parquet') x
                    JOIN y USING (g)
                """).fetchone()[0]
        finally:
            con.close()
        iwa = [self.schedule(o["i"]) for o in ops if not self.schedule(o["i"]).overlapping]
        return {"pairs": sum(int(pairs[p.name]) for p in iwa) / max(1, len(iwa))}
