"""Spans and counters for the traced run, plus the Spark event-log parser.

Spans are recorded only by the benchmark's own wrappers around its calls
into each layer (the package itself is not instrumented). They stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
from collections import defaultdict
from typing import Optional

from timeperiods_spark import ResumableJob, TierCatalog

from .common import now


class Tracer:
    """Collects spans (name, start, end, parent, op) and counters.

    A disabled tracer's ``span`` is a bare ``yield``: untraced runs pay
    one generator per call and record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        # spans opened on threads the benchmark did not start (the
        # engine's own pools) hang under this span when one is set
        self._adopter: Optional[dict] = None

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: Optional[int] = None, adopt: bool = False):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._adopter
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": now(),
        }
        stack.append(rec)
        if adopt:
            self._adopter = rec
        try:
            yield rec
        finally:
            rec["end"] = now()
            stack.pop()
            if adopt:
                self._adopter = None
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += value

    # ---------------------------------------------------------- report

    def layer_times(self) -> dict[str, dict]:
        """Per span name: calls, total seconds and self seconds (the
        span minus the part of it its children cover)."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "layers": self.layer_times(),
                    "counters": dict(self.counters),
                    "spans": self.spans,
                },
                fh,
                indent=1,
            )


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _tree_bytes(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return n_bytes, n_files


class TracedCatalog(TierCatalog):
    """TierCatalog whose writes and maintenance open spans and count
    the parquet they write."""

    tracer: Tracer = Tracer(False)

    def upsert(self, new_partials, tier, batch_id):
        with self.tracer.span("sources.catalog.upsert"):
            super().upsert(new_partials, tier, batch_id)
        written = [
            os.path.join(self.tier_path(tier), pb, f"batch={batch_id}")
            for pb in os.listdir(self.tier_path(tier))
            if pb.startswith("pbucket=")
        ]
        for d in written:
            b, f = _tree_bytes(d)
            self.tracer.count("sources.catalog.bytes_written", b)
            self.tracer.count("sources.catalog.files_written", f)

    def compact(self, spark, tier, *, remove_old=True):
        with self.tracer.span("sources.catalog.compact"):
            return super().compact(spark, tier, remove_old=remove_old)

    def expire(self, tier, keep_periods_from):
        with self.tracer.span("sources.catalog.expire"):
            return super().expire(tier, keep_periods_from)


class TracedJob(ResumableJob):
    """ResumableJob whose lineage units open ``runner.unit`` spans."""

    tracer: Tracer = Tracer(False)

    def run_unit(self, unit_id, fn, *, force=False):
        with self.tracer.span("runner.unit"):
            rec = super().run_unit(unit_id, fn, force=force)
        self.tracer.count("runner.units")
        return rec


# ------------------------------------------------------ Spark event log


def parse_event_logs(log_dir: str) -> dict:
    """Sum task metrics over every event log in ``log_dir``; jobs are
    attributed to the job group (one per benchmark op) that ran them."""
    jobs_by_group: dict[str, int] = defaultdict(int)
    stage_group: dict[int, str] = {}
    shuffle_by_group: dict[str, int] = defaultdict(int)
    tot = defaultdict(float)
    app_wall = 0.0
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        app_start = app_end = None
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerApplicationStart":
                    app_start = ev["Timestamp"]
                elif kind == "SparkListenerApplicationEnd":
                    app_end = ev["Timestamp"]
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "(none)"
                    jobs_by_group[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    tot["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        tot["tasks_failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    tot["cpu_ns"] += m.get("Executor CPU Time", 0)
                    tot["run_ms"] += m.get("Executor Run Time", 0)
                    tot["gc_ms"] += m.get("JVM GC Time", 0)
                    tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    shuffle_by_group[stage_group.get(ev.get("Stage ID"), "(none)")] += sw
        if app_start is not None and app_end is not None:
            app_wall += (app_end - app_start) / 1000.0
    return {
        "jobs_by_group": dict(jobs_by_group),
        "shuffle_by_group": dict(shuffle_by_group),
        "totals": dict(tot),
        "app_wall_s": app_wall,
    }
