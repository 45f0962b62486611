"""Benchmark entry point.

    python3 perfbench/run.py --workload panel_rollup --seed 1 --seconds 10 --trace 0

Runs one workload against the package in the checkout this file sits in
(``import timeperiods_spark``) on a fixed local session, checks every
result against a DuckDB oracle, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs an untraced, then a traced
segment and reports the per-layer metrics, writing the full span report
to ``.perfbench/reports/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Context:
    def __init__(self, args, tracer) -> None:
        self.seed = args.seed
        self.scale = args.scale
        self.tracer = tracer
        self.perturb_oracle = args.perturb_oracle
        self.run_name = f"run-{args.workload}-{args.seed}-{os.getpid()}"


def closed_loop(wl, spark, seconds: float, first: int) -> list[dict]:
    """One client: the next op starts when the previous one returns.
    The loop stops at the first end of the workload's op cycle after
    ``seconds``, so every run holds whole cycles."""
    ops, i = [], first
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or i % wl.CYCLE:
        ops.append(_timed(wl, spark, i))
        i += 1
    return ops


def _timed(wl, spark, i: int) -> dict:
    spark.sparkContext.setJobGroup(f"op{i}", wl.name)
    start = time.perf_counter()
    try:
        kind, rows = wl.op(spark, i)
        ok = True
    except Exception:  # an op that raises counts as failed; keep going
        traceback.print_exc()
        kind, rows, ok = "error", 0, False
    end = time.perf_counter()
    return {"i": i, "kind": kind, "rows": rows, "ok": ok, "start": start, "end": end}


def end_to_end(ops: list[dict], setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    from perfbench import common

    lat = [o["end"] - o["start"] for o in ops]
    busy = sum(lat)
    tail_s, tail_pct = common.tail(lat)
    metrics = {
        "setup_s": common.fmt_metric(setup_s, "s"),
        "op_p50_s": common.fmt_metric(common.median(lat), "s"),
        "op_tail_s": common.fmt_metric(tail_s, "s"),
        "ops_per_s": common.fmt_metric(len(ops) / busy, "1/s"),
        "rows_per_s": common.fmt_metric(sum(o["rows"] for o in ops) / busy, "rows/s"),
        "peak_rss_mb": common.fmt_metric(peak_mb, "MB"),
    }
    info = {
        "ops": len(ops),
        "op_tail_percentile": tail_pct,
        "op_latencies": [(o["kind"], round(x, 3)) for o, x in zip(ops, lat)],
    }
    return metrics, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test shrinks inputs)")
    ap.add_argument("--max-ops", type=int, default=None,
                    help="stop after this many measured ops")
    ap.add_argument("--perturb-oracle", action="store_true",
                    help="corrupt one expected value (the smoke test's "
                         "check that failures are counted)")
    args = ap.parse_args(argv)

    # the package must come from this checkout and nowhere else
    if not os.path.isfile(os.path.join(ROOT, "timeperiods_spark", "__init__.py")):
        print(f"no timeperiods_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import common, layers
    from perfbench.panel import PanelRollup
    from perfbench.tiers import TierIngest
    from perfbench.trace import Tracer

    workloads = {w.name: w for w in (PanelRollup, TierIngest)}
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads)}", file=sys.stderr)
        return 2

    tracer = Tracer(False)
    ctx = Context(args, tracer)
    run_dir = common.fresh_dir(ctx.run_name)
    wl = workloads[args.workload](ctx)
    seconds = args.seconds / 2 if args.trace else args.seconds
    spark = None
    rss = common.RssSampler()
    try:
        # memory is sampled over set-up and measurement; the oracle
        # checks afterwards are the benchmark's own work
        with rss:
            t0 = common.now()
            spark = common.start_session(run_dir)
            spark.range(1).collect()
            session_s = common.now() - t0
            setup_s = session_s + wl.setup(spark)
            phases = {"start_to_setup_done": common.now() - T_START}
            ops = _measure_segment(wl, spark, seconds, 0, args.max_ops)
            phases["measured"] = common.now() - T_START
            traced_ops = []
            if args.trace:
                # same JVM, new SparkContext with the event log on; the
                # workload's catalog and runner get their traced wrappers
                spark.stop()
                log_dir = os.path.join(run_dir, "eventlog")
                spark = common.start_session(run_dir, event_log_dir=log_dir)
                tracer.enabled = True
                if hasattr(wl, "rebind"):
                    wl.rebind()
                t_b = common.now()
                traced_ops = _measure_segment(
                    wl, spark, seconds, len(ops), args.max_ops
                )
                wall_b = common.now() - t_b
        checks = wl.check(spark, ops + traced_ops)
        phases["checked"] = common.now() - T_START
        counts = wl.layer_counts(spark, traced_ops) if args.trace else {}
        common.stop_session(spark)
        spark = None
        phases["stopped"] = common.now() - T_START
        all_ops = ops + traced_ops
        for o, ok in zip(all_ops, checks):
            o["ok"] = o["ok"] and ok
        failed = sum(not o["ok"] for o in all_ops)
        if args.trace:
            from perfbench.trace import parse_event_logs

            events = parse_event_logs(log_dir)
            metrics, report = layers.per_layer(
                tracer, events, counts, ops, traced_ops, wall_b, session_s
            )
            tracer.write(
                os.path.join(common.WORK, "reports", f"{ctx.run_name}.json"),
                {"workload": wl.name, "seed": args.seed, "session": common.SESSION,
                 "event_log": events, **report},
            )
        else:
            metrics, info = end_to_end(ops, setup_s, rss.peak_mb)
            print(json.dumps({"workload": wl.name, "seed": args.seed,
                              "session": common.SESSION, "phases": phases, **info}),
                  file=sys.stderr)
    finally:
        if spark is not None:
            common.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _measure_segment(wl, spark, seconds, first, max_ops):
    if max_ops:
        return [_timed(wl, spark, i) for i in range(first, first + max_ops)]
    return closed_loop(wl, spark, seconds, first)


if __name__ == "__main__":
    sys.exit(main())
