"""PySpark equivalent of the reference's example_averaging.R: weekly
predictions per monitor averaged to calendar years, then to per-monitor
random 15-day periods.

Run: python examples/example_averaging.py
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from timeperiods_spark import get_spark, grouped_cartesian, interval_weighted_avg


def main() -> None:
    spark = get_spark("example-averaging", master="local[8]")
    rng = np.random.default_rng(42)

    # weekly predictions for 20 monitors, 1998-12-30 .. 2017-06-28
    starts = []
    d = dt.date(1998, 12, 30)
    while d <= dt.date(2017, 6, 28):
        starts.append(d)
        d += dt.timedelta(days=7)
    rows = [
        (f"id_{i:04d}", s, s + dt.timedelta(days=6), float(rng.normal()), float(rng.normal()))
        for i in range(1, 21)
        for s in starts
    ]
    x = spark.createDataFrame(
        rows, "id string, start_date date, end_date date, value1 double, value2 double"
    )

    # calendar-year averaging periods for every monitor (CJ.dt analog)
    years = spark.createDataFrame(
        [(dt.date(yr, 1, 1), dt.date(yr, 12, 31)) for yr in range(1999, 2018)],
        "start_date date, end_date date",
    )
    y = grouped_cartesian([x.select("id").distinct(), years])

    out = interval_weighted_avg(
        x, y, ("start_date", "end_date"), ("value1", "value2"), ("id",),
        sort_output=True,
    )
    print("calendar-year averages (first monitor):")
    out.filter("id = 'id_0001'").show(20)
    # 2017 is incomplete -> NULL under required_percentage=100, visible
    # in xduration (days observed) vs yduration (365)

    # different averaging periods per monitor: random 15-day windows
    s2 = []
    d = dt.date(1999, 1, 1)
    while d <= dt.date(2017, 6, 28):
        s2.append(d)
        d += dt.timedelta(days=14)
    y2_rows = []
    for i in range(1, 21):
        for s in rng.choice(len(s2), size=3, replace=False):
            y2_rows.append((f"id_{i:04d}", s2[s], s2[s] + dt.timedelta(days=14)))
    y2 = spark.createDataFrame(y2_rows, "id string, start_date date, end_date date")

    out2 = interval_weighted_avg(
        x, y2, ("start_date", "end_date"), ("value1", "value2"), ("id",),
        sort_output=True,
    )
    print("per-monitor 15-day windows:")
    out2.show(6)
    spark.stop()


if __name__ == "__main__":
    main()
