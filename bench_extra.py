"""Per-query isolation bench + plan capture for the optimization round.

bench.py is FROZEN for measurement; this file exists so individual
headline queries can be timed and their physical plans dumped without
touching it (guide §1.1/§1.4). Query construction mirrors
bench.py:_build_queries byte-for-byte in semantics.

Usage:
  python bench_extra.py [--reps N] [--queries a,b,c] [--plans DIR]
                        [--suffix before|after] [--noop]

Prints one JSON line with per-query wall seconds (min over reps) and,
with --plans, writes <query>_<suffix>.txt explain("formatted") files.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import Window, functions as F  # noqa: E402

from timeperiods_spark import (  # noqa: E402
    compress_series,
    decompress_series,
    interval_weighted_avg,
    remove_overlaps,
    rollup_regular,
    cascade,
    token_table,
)
from timeperiods_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "1000000"))


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def build(spark, extras: dict, state: dict):
    """(name, make_df, run) triples; make_df returns the final frame for
    plan capture (None for multi-action queries, which dump their own
    plans), run executes the same actions bench.py times."""
    queries = []

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    w = Window.partitionBy("g").orderBy("o_orderkey")
    x = (
        orders.select((F.col("o_custkey") % 20).cast("int").alias("g"), "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .select("g", (7 * F.col("rn") - 6).cast("long").alias("s"),
                (7 * F.col("rn")).cast("long").alias("e"),
                F.col("o_totalprice").alias("v"))
    )
    n_orders = orders.count()
    n_per = max(2, n_orders // 20 * 7 // 30 + 2)
    y = x.select("g").distinct().crossJoin(
        spark.range(n_per).select((F.col("id") * 30).cast("long").alias("s"),
                                  (F.col("id") * 30 + 29).cast("long").alias("e"))
    )

    def mk_iwa_orders():
        return interval_weighted_avg(
            x, y, ("s", "e"), ("v",), ("g",), 50.0,
            validate=False, assume_y_distinct=True,
            join_stats=(n_orders, 20 * n_per, 20))

    queries.append(("iwa_orders", mk_iwa_orders, lambda: mk_iwa_orders().count()))

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    wu = Window.partitionBy(F.lit(1)).orderBy("event_id")
    xu = ev.select("event_id", "value").withColumn("rn", F.row_number().over(wu)).select(
        (5 * F.col("rn") - 4).cast("long").alias("s"),
        (5 * F.col("rn")).cast("long").alias("e"),
        F.col("value").alias("v"))
    n_ev = ev.count()
    yu = spark.range(n_ev * 5 // 500 + 2).select(
        (F.col("id") * 500).cast("long").alias("s"),
        (F.col("id") * 500 + 499).cast("long").alias("e"))

    def mk_iwa_bin():
        return interval_weighted_avg(
            xu, yu, ("s", "e"), ("v",), None, 50.0,
            validate=False, assume_y_distinct=True,
            join_strategy="bin", bin_width=256, skew_salt=8)

    queries.append(("iwa_bin_ungrouped", mk_iwa_bin, lambda: mk_iwa_bin().count()))

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    wl = Window.partitionBy("g").orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    xl = (
        li.select((F.col("l_suppkey") % 5).cast("int").alias("g"),
                  "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .withColumn("rn", F.row_number().over(wl))
        .select("g", F.col("rn").cast("long").alias("s"),
                (F.col("rn") + (F.col("l_quantity").cast("long") % 5) + 1).alias("e"))
    )

    def mk_ro():
        return remove_overlaps(xl, ("s", "e"), ("g",))

    queries.append(("remove_overlaps", mk_ro, lambda: mk_ro().count()))

    def run_tier():
        tok = token_table(spark, N_DOCS, partitions=CPUS * 4)
        hourly = rollup_regular(
            tok, ("start_hour", "end_hour"), ("n_tok",), ("source",),
            width=1, partial=True, algorithm="sweep", validate=False,
            group_encoders={"source": F.substring("source", 5, 3).cast("int")},
            group_dim=spark.range(11).selectExpr("concat('src_', id) AS source"),
            carry_hints={"span": (0, 365 * 24 + 64), "groups": 11},
        ).cache()
        pts = hourly.count()
        daily = cascade(hourly, ("n_tok",), ("source",), fine_width=1, coarse_width=24)
        weekly = cascade(hourly, ("n_tok",), ("source",), fine_width=1, coarse_width=168)
        pts += daily.count() + weekly.count()
        state["hourly"] = hourly
        return pts

    queries.append(("tier_rollup", None, run_tier))

    def run_gorilla():
        hourly = state["hourly"]
        series = hourly.select(
            "source", "period",
            (F.col("sumprod_n_tok") / F.col("nobs_n_tok")).alias("value"))
        comp = compress_series(series, ["source"]).cache()
        n_pts = int(comp.agg(F.sum("n_points")).first()[0] or 0)
        n_back = decompress_series(comp, ["source"]).count()
        comp.count()
        comp.unpersist()
        return n_back

    queries.append(("gorilla", None, run_gorilla))

    def mk_tier_plans():
        """plan-capture twins for the multi-action queries"""
        tok = token_table(spark, N_DOCS, partitions=CPUS * 4)
        hourly = rollup_regular(
            tok, ("start_hour", "end_hour"), ("n_tok",), ("source",),
            width=1, partial=True, algorithm="sweep", validate=False,
            group_encoders={"source": F.substring("source", 5, 3).cast("int")},
            group_dim=spark.range(11).selectExpr("concat('src_', id) AS source"),
            carry_hints={"span": (0, 365 * 24 + 64), "groups": 11},
        )
        daily = cascade(hourly, ("n_tok",), ("source",), fine_width=1, coarse_width=24)
        series = hourly.select(
            "source", "period",
            (F.col("sumprod_n_tok") / F.col("nobs_n_tok")).alias("value"))
        comp = compress_series(series, ["source"])
        dec = decompress_series(comp, ["source"])
        return {"tier_rollup": hourly, "tier_cascade_daily": daily,
                "gorilla_compress": comp, "gorilla_decode": dec}

    return queries, mk_tier_plans


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--queries", type=str, default="")
    ap.add_argument("--plans", type=str, default="")
    ap.add_argument("--suffix", type=str, default="before")
    args = ap.parse_args()

    only = set(args.queries.split(",")) if args.queries else None
    spark = get_spark("timeperiods-bench-extra", master=f"local[{CPUS}]")
    extras: dict = {}
    state: dict = {}
    queries, mk_tier_plans = build(spark, extras, state)

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name, mk, _run in queries:
            if only and name not in only:
                continue
            if mk is None:
                continue
            with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(explain_str(mk()))
        if only is None or {"tier_rollup", "gorilla"} & only:
            for name, df in mk_tier_plans().items():
                with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                    f.write(explain_str(df))

    walls: dict[str, list[float]] = {}
    for rep in range(args.reps):
        for name, _mk, run in queries:
            if only and name not in only:
                # tier feeds gorilla; keep the dependency satisfied
                if name == "tier_rollup" and only and "gorilla" in only:
                    pass
                else:
                    continue
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            run()
            walls.setdefault(name, []).append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        if "hourly" in state:
            state.pop("hourly").unpersist()
    out = {
        "queries_min": {n: min(v) for n, v in walls.items()},
        "queries_all": walls,
        "total_min": round(sum(min(v) for v in walls.values()), 3),
        "sf_dir": SF_DIR,
        "reps": args.reps,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
