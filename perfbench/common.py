"""Shared plumbing: the fixed Spark session, /proc memory sampling,
latency statistics and exact result checksums.

Everything the benchmark writes lives under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from typing import Iterable, Optional

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

NPROC = len(os.sched_getaffinity(0))

#: Session settings, identical on every commit measured. Driver memory
#: stays far below physical RAM (the host is shared); shuffle partitions
#: are fixed at 2 x cores so a commit cannot win by re-tuning them.
SESSION = {
    "master": f"local[{NPROC}]",
    "shuffle_partitions": 2 * NPROC,
    "driver_memory": "3g",
}

#: floor(v * 2^20) turns a double into an integer exactly (a power-of-two
#: scale loses no bits), so checksums over means agree bit-for-bit
#: between Spark and DuckDB whenever the means themselves agree.
FIXED_SCALE = float(1 << 20)


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_session(run_dir: str, event_log_dir: Optional[str] = None):
    """Start (or restart) the fixed local session. Scratch files of the
    JVM, the Python workers and Spark's shuffle all land in ``run_dir``."""
    from timeperiods_spark import get_spark

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts keeps its scratch (and no perf-data
    # file under /tmp) inside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        # one plain JSON-lines file per application
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        "perfbench",
        master=SESSION["master"],
        shuffle_partitions=SESSION["shuffle_partitions"],
        driver_memory=SESSION["driver_memory"],
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes, and takes its Python workers along."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ------------------------------------------------------------ memory


class RssSampler:
    """Peak resident memory of this process plus all its descendants
    (the JVM and the Python workers it forks), sampled from /proc.

    Each process counts its proportional share (Pss): Python workers are
    forked from one daemon and share most of their pages, which plain
    RSS would count once per worker."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss_kb() -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------- statistics


def tail(latencies: Iterable[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it (the
    11th-largest latency) and the percentile it stands for. Below 40
    samples that percentile would sit near or under the median, so the
    maximum (percentile 100) stands in."""
    s = sorted(latencies)
    k = len(s) - 11 if len(s) >= 40 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


# ---------------------------------------------------------- checksums


def column_kinds(df) -> list[tuple[str, str]]:
    """(name, "f" | "i") per column of a Spark frame: which checksum rule
    applies to it."""
    from pyspark.sql import types as T

    return [
        (f.name, "f" if isinstance(f.dataType, (T.DoubleType, T.FloatType)) else "i")
        for f in df.schema.fields
    ]


def spark_checksum(df) -> tuple:
    """One aggregate row that reads every output column: per column the
    non-NULL count and an exact integer sum (floor(v * 2^20) for
    doubles). Column pruning cannot skip a column this touches."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1))]
    for name, kind in column_kinds(df):
        c = F.col(name)
        c = F.floor(c * F.lit(FIXED_SCALE)) if kind == "f" else c.cast("long")
        aggs += [F.count(c), F.sum(c)]
    row = df.agg(*aggs).first()
    return tuple(0 if v is None else int(v) for v in row)


def pandas_checksum(pdf, kinds: list[tuple[str, str]]) -> tuple:
    """The same checksum as ``spark_checksum`` over a pandas frame: the
    oracle side."""
    out = [len(pdf)]
    for name, kind in kinds:
        vals = pdf[name].dropna()
        if kind == "f":
            ints = np.floor(vals.to_numpy(dtype=np.float64) * FIXED_SCALE)
            total = int(ints.astype(np.int64).sum())
        else:
            total = int(vals.astype(np.int64).sum())
        out += [len(vals), total]
    return tuple(out)


def duck():
    """A DuckDB connection for the oracles, sized like the Spark session
    and spilling (if ever) inside the benchmark's directory."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {NPROC}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'duckdb_tmp')}'")
    return con


def fmt_metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def now() -> float:
    return time.perf_counter()
