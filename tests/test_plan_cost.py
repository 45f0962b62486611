"""Driver cost of building a request's plan, counted in py4j round trips.

Classic PySpark crosses into the JVM for every ``Column`` it builds and
analyses a new Dataset per ``select``/``withColumn``; with DataFrame
call-site capture on, every ``pyspark.sql.functions`` call also
inspects the Python stack and adds round trips. The operators build
each stage as one projection from SQL expression strings, so a plan
costs a few dozen round trips whichever way capture is set. A count is
steady where a time is not: these tests gate counts and only print the
plan-construction time.
"""

from __future__ import annotations

import gc
import time
import warnings

import py4j.java_gateway
import pytest

from timeperiods_spark import interval_weighted_avg, remove_overlaps

#: round trips of one remove_overlaps call (its stats action included)
#: on this input before plans were built from expression strings, with
#: the session's capture default of that time (on)
REMOVE_OVERLAPS_BEFORE = 2011


@pytest.fixture()
def round_trips(monkeypatch):
    """``count(fn)``: the fewest py4j round trips of three calls of
    ``fn`` (a stray garbage-collection round trip can land in one)."""
    real = py4j.java_gateway.GatewayClient.send_command
    calls = [0]

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return real(self, *args, **kwargs)

    monkeypatch.setattr(py4j.java_gateway.GatewayClient, "send_command", counting)

    def count(fn, label):
        fn()  # warm: first-call imports and lazily built JVM helpers
        best = None
        for _ in range(3):
            gc.collect()
            before, t0 = calls[0], time.perf_counter()
            fn()
            n, secs = calls[0] - before, time.perf_counter() - t0
            if best is None or n < best[0]:
                best = (n, secs)
        print(f"{label}: {best[0]} round trips, {best[1]:.3f} s")
        return best[0]

    return count


@pytest.fixture(scope="module")
def panel(spark):
    """40k x intervals and 4k y periods over 20 groups."""
    x = spark.range(40_000).selectExpr(
        "CAST(id % 20 AS INT) AS g", "CAST(id DIV 20 * 10 AS INT) AS s",
        "CAST(id DIV 20 * 10 + 6 AS INT) AS e", "CAST(id AS DOUBLE) AS v1",
        "CAST(id * 2 AS DOUBLE) AS v2",
    )
    y = spark.range(4_000).selectExpr(
        "CAST(id % 20 AS INT) AS g", "CAST(id DIV 20 * 100 AS INT) AS s",
        "CAST(id DIV 20 * 100 + 49 AS INT) AS e",
    )
    return x, y


def _plan_only(x, y):
    # no Spark action: no validation, caller-given join sizes, y distinct
    return interval_weighted_avg(
        x, y, ("s", "e"), ("v1", "v2"), ("g",),
        validate=False, join_stats=(40_000, 4_000, 20), assume_y_distinct=True,
    )


def test_session_default_plan_cost(spark, panel, round_trips):
    x, y = panel
    assert round_trips(lambda: _plan_only(x, y), "plan, capture off") <= 300


def test_plan_cost_with_call_site_capture(spark, panel, round_trips, monkeypatch):
    """A session built by hand keeps PySpark's capture default (on);
    the plan must stay cheap there too."""
    import pyspark.errors.utils as perr

    monkeypatch.setattr(perr, "_enable_debugging_cache", True)
    x, y = panel
    assert round_trips(lambda: _plan_only(x, y), "plan, capture on") <= 600


def test_remove_overlaps_cost(spark, round_trips):
    x = spark.range(40_000).selectExpr(
        "CAST(id % 20 AS INT) AS g", "CAST(id DIV 20 * 10 AS INT) AS s",
        "CAST(id DIV 20 * 10 + 14 AS INT) AS e", "CAST(id AS DOUBLE) AS v1",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        n = round_trips(lambda: remove_overlaps(x, ("s", "e"), ("g",)), "remove_overlaps")
    assert n <= REMOVE_OVERLAPS_BEFORE // 2
