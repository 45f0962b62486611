"""Paired A/B runs of the perfbench benchmark: a parent checkout
against a change.

    python3 tools/perf_ab.py PARENT_DIR CHANGE_DIR --workload panel_rollup --seeds 1-10

Each seed is one pair: ``perfbench/run.py`` of both checkouts, one
after the other, alternating which side goes first (the parent on odd
pairs), so a drift in the host or an order effect (a second run's
peak memory reads higher) falls on both sides alike. Each run's last
line is its JSON result; runs that fail ops are reported and left out.

Per metric (``BENCHMARK.json``'s end-to-end metrics, or its per-layer
ones with ``--trace 1``) it prints the per-seed values, each side's
median and IQR/median, the median of the per-seed ratios change /
parent, how many pairs the change won, and a verdict against the
metric's bound:

- ``moved better`` / ``moved worse``: the median ratio is beyond the
  bound and beyond both sides' spread (IQR/median);
- ``unresolved``: a side's spread is wider than the bound, so these
  runs cannot tell;
- ``within``: otherwise.

It also says whether the gap between the medians exceeds the parent's
IQR. Each run's ``cpu_s`` is the CPU time of its process tree (the
delta of ``RUSAGE_CHILDREN`` around it, which takes in the JVM and
Python workers once they are reaped); it is printed per side as a
readout, with no verdict. ``--log FILE`` appends every result as a
JSON line; ``--from FILE`` summarises such a file without running
anything (records without ``cpu_s`` still count).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import subprocess
import sys
import time
from typing import Optional

HERE = os.path.dirname(os.path.abspath(__file__))
SIDES = ("parent", "change")


def parse_seeds(text: str) -> list[int]:
    """``1-10`` or ``1,3,5`` (or a mix) as a list of seeds."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def last_json(stdout: str) -> Optional[dict]:
    """The last line of ``stdout`` that parses as a JSON object."""
    for line in reversed(stdout.strip().splitlines()):
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                continue
    return None


def _children_cpu_s() -> float:
    """User + system CPU seconds of this process's reaped children."""
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def run_one(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0, cpu0 = time.perf_counter(), _children_cpu_s()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    result = last_json(proc.stdout) or {"failed": None, "metrics": {}}
    result["wall_s"] = round(time.perf_counter() - t0, 1)
    result["cpu_s"] = round(_children_cpu_s() - cpu0, 1)
    if proc.returncode:
        result["error"] = proc.stderr.strip().splitlines()[-1:] or [f"exit {proc.returncode}"]
    return result


def _spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR) of ``values``."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return med, q3 - q1


def summarize(records: list[dict], metrics: list[dict]) -> list[dict]:
    """One summary per metric from result records ``{"side", "seed",
    "first", "result"}``. Only seeds where both sides ran with no
    failed op count."""
    by_seed: dict[int, dict] = {}
    for rec in records:
        by_seed.setdefault(rec["seed"], {})[rec["side"]] = rec
    good = {
        seed: pair for seed, pair in sorted(by_seed.items())
        if all(pair.get(s, {}).get("result", {}).get("failed") == 0 for s in SIDES)
    }
    out = []
    for m in metrics:
        name, bound = m["name"], m.get("bound")
        lower = m.get("better", "lower") == "lower"
        rows = []
        for seed, pair in good.items():
            vals = [pair[s]["result"]["metrics"].get(name, {}).get("value") for s in SIDES]
            if None not in vals:
                rows.append((seed, pair["parent"].get("first", "parent"), *vals))
        if not rows:
            out.append({"name": name, "rows": [], "verdict": "no data"})
            continue
        parent = [r[2] for r in rows]
        change = [r[3] for r in rows]
        ratios = [c / p if p else float("inf") for _, _, p, c in rows]
        (pm, piqr), (cm, ciqr) = _spread(parent), _spread(change)
        ratio = statistics.median(ratios)
        wins = sum((c < p) if lower else (c > p) for _, _, p, c in rows)
        spread = max(piqr / pm if pm else 0.0, ciqr / cm if cm else 0.0)
        change_rel = ratio - 1.0
        better = change_rel < 0 if lower else change_rel > 0
        if bound is None:
            verdict = "better" if better else "worse"
        elif abs(change_rel) > bound and abs(change_rel) > spread:
            verdict = "moved better" if better else "moved worse"
        elif spread > bound:
            verdict = "unresolved"
        else:
            verdict = "within"
        out.append({
            "name": name, "unit": m.get("unit", ""), "bound": bound,
            "better": "lower" if lower else "higher", "rows": rows,
            "median": (pm, cm), "iqr_over_median": (piqr / pm if pm else 0.0,
                                                     ciqr / cm if cm else 0.0),
            "ratio": ratio, "wins": wins, "pairs": len(rows),
            "gap_over_parent_iqr": abs(cm - pm) > piqr, "verdict": verdict,
        })
    return out


def _fmt(v: float) -> str:
    return f"{v:.4g}" if abs(v) < 1e4 else f"{v:,.0f}"


def report(summaries: list[dict]) -> str:
    lines = []
    for s in summaries:
        if not s["rows"]:
            lines += [f"{s['name']}: no data", ""]
            continue
        bound = "no bound" if s["bound"] is None else f"bound {s['bound']}"
        lines.append(f"{s['name']} ({s['unit']}, {s['better']} is better, {bound})")
        lines.append(f"  {'seed':>4}  {'first':<6}  {'parent':>10}  {'change':>10}  ratio")
        for seed, first, p, c in s["rows"]:
            ratio = c / p if p else float("inf")
            lines.append(f"  {seed:>4}  {first:<6}  {_fmt(p):>10}  {_fmt(c):>10}  {ratio:.3f}")
        (pm, cm), (ps, cs) = s["median"], s["iqr_over_median"]
        lines.append(f"  {'median':<12}  {_fmt(pm):>10}  {_fmt(cm):>10}  {s['ratio']:.3f}")
        lines.append(f"  {'IQR/median':<12}  {ps:>10.3f}  {cs:>10.3f}")
        gap = "exceeds" if s["gap_over_parent_iqr"] else "does not exceed"
        lines.append(
            f"  wins {s['wins']}/{s['pairs']}; median ratio {s['ratio']:.3f}; "
            f"the gap {gap} the parent's IQR; verdict: {s['verdict']}"
        )
        lines.append("")
    return "\n".join(lines)


def cpu_readout(records: list[dict]) -> str:
    """Per seed and side, the ``cpu_s`` of each run that has it, and
    each side's median: a readout, judged against no bound."""
    by_seed: dict[int, dict] = {}
    for rec in records:
        cpu = rec["result"].get("cpu_s")
        if cpu is not None:
            by_seed.setdefault(rec["seed"], {})[rec["side"]] = cpu
    if not by_seed:
        return ""
    lines = [
        "cpu_s (s, CPU time of each run's process tree; a readout, no bound)",
        f"  {'seed':>4}  {'parent':>10}  {'change':>10}",
    ]
    for seed, sides in sorted(by_seed.items()):
        cells = [_fmt(sides[s]) if s in sides else "-" for s in SIDES]
        lines.append(f"  {seed:>4}  {cells[0]:>10}  {cells[1]:>10}")
    medians = [
        [v[s] for v in by_seed.values() if s in v] for s in SIDES
    ]
    cells = [_fmt(statistics.median(m)) if m else "-" for m in medians]
    lines += [f"  {'median':>4}  {cells[0]:>10}  {cells[1]:>10}", ""]
    return "\n".join(lines)


def _metrics(bench_path: str, trace: int) -> list[dict]:
    with open(bench_path) as f:
        bench = json.load(f)
    return bench["per_layer"] if trace else bench["end_to_end"]


def main(argv: Optional[list[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", nargs="?", help="checkout of the parent commit")
    ap.add_argument("change", nargs="?", help="checkout of the change")
    ap.add_argument("--workload", default="panel_rollup")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured seconds per run (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    ap.add_argument("--log", help="append every result to this JSON-lines file")
    ap.add_argument("--from", dest="from_file", help="summarise this JSON-lines file")
    args = ap.parse_args(argv)

    metrics = _metrics(args.bench, args.trace)
    if args.from_file:
        with open(args.from_file) as f:
            records = [json.loads(line) for line in f if line.strip()]
        records = [r for r in records if r.get("workload", args.workload) == args.workload]
    else:
        if not (args.parent and args.change):
            ap.error("give PARENT_DIR and CHANGE_DIR, or --from FILE")
        with open(args.bench) as f:
            seconds = args.seconds or json.load(f).get("run_seconds", 10)
        dirs = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
        records = []
        for k, seed in enumerate(parse_seeds(args.seeds)):
            order = SIDES if k % 2 == 0 else SIDES[::-1]
            for side in order:
                result = run_one(dirs[side], args.workload, seed, seconds, args.trace)
                rec = {"workload": args.workload, "side": side, "seed": seed,
                       "first": order[0], "result": result}
                records.append(rec)
                print(f"seed {seed} {side}: failed={result.get('failed')} "
                      f"wall {result['wall_s']} s", file=sys.stderr, flush=True)
                if args.log:
                    with open(args.log, "a") as f:
                        f.write(json.dumps(rec) + "\n")
    bad = [r for r in records if r["result"].get("failed") != 0]
    for r in bad:
        print(f"excluded: seed {r['seed']} {r['side']} failed={r['result'].get('failed')} "
              f"{r['result'].get('error', '')}")
    print(report(summarize(records, metrics)))
    print(cpu_readout(records))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
