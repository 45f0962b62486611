"""Session defaults derived from the host."""

from __future__ import annotations

import os

from timeperiods_spark.session import _host_cpus, _half_host_memory


def test_host_defaults_fit_the_host():
    if hasattr(os, "sched_getaffinity"):
        assert _host_cpus() == len(os.sched_getaffinity(0))
    mem_mib = int(_half_host_memory().removesuffix("m"))
    if os.path.exists("/proc/meminfo"):  # half of MemTotal
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        assert mem_mib == max(1024, kib // 2048)


def test_get_spark_turns_call_site_capture_off(spark):
    """The shared session skips PySpark's per-call Python call-site
    capture (a stack walk and extra py4j round trips per Column call)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
