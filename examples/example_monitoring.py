"""Metric-monitoring walkthrough over one synthetic event stream: the
downsampling views an operations dashboard reads, here at demo scale.

    1. OHLC bars per (metric, hour) — the glance view (one aggregate);
    2. M4 downsample next to it — the pixel-exact line for plots.

Run: python examples/example_monitoring.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from timeperiods_spark import downsample_m4, get_spark, rollup_ohlc  # noqa: E402


def main() -> None:
    spark = get_spark("example-monitoring", master="local[4]",
                      shuffle_partitions=8)

    # two metrics at 1-minute cadence over 14 days: latency follows
    # errors with a ~30-minute lag, both carry a daily season and a
    # level shift mid-series
    n = 14 * 24 * 60
    base = spark.range(n).select(
        F.col("id").alias("minute"),
        (F.sin(F.col("id") * (6.283185 / 1440.0)) * 10).alias("season"),
        ((F.col("id") * 2654435761) % 97 / 97.0).alias("noise"),
    )
    errors = base.select(
        F.lit("errors").alias("metric"),
        "minute",
        (20 + F.col("season") + F.col("noise") * 4
         + F.when(F.col("minute") > n // 2, 6).otherwise(0)).alias("value"),
    )
    latency = base.select(
        F.lit("latency_ms").alias("metric"),
        (F.col("minute") + 30).alias("minute"),
        (200 + F.col("season") * 8 + F.col("noise") * 25
         + F.when(F.col("minute") > n // 2, 40).otherwise(0)).alias("value"),
    )
    events = errors.union(latency)

    print("== 1. hourly OHLC bars (first day of 'errors') ==")
    bars = rollup_ohlc(events, "minute", "value", ["metric"],
                       bucket_width=60)
    bars.filter((F.col("metric") == "errors") & (F.col("bucket") < 24)) \
        .orderBy("bucket").show(24)

    print("== 2. M4 skeleton of the same day (<=4 points/hour) ==")
    m4 = downsample_m4(events.filter(F.col("metric") == "errors"),
                       "minute", "value", ["metric"], bucket_width=60)
    print(f"   {m4.filter(F.col('bucket') < 24).count()} points "
          "reproduce the 1440-point line at hour resolution")

    spark.stop()


if __name__ == "__main__":
    main()
