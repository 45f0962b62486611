"""Smoke test of the benchmark itself, at tiny input size.

    python3 perfbench/smoke.py

Runs every workload for two ops and asserts that every end-to-end metric
prints with its unit and that the results check out; then reruns each
with one oracle value perturbed and asserts the failure is counted.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", "0",
        "--scale", "0.05", "--max-ops", "2", *extra,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise AssertionError(f"{workload} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    for w in (wl["name"] for wl in bench["workloads"]):
        res = run(w)
        assert res["correct"] and res["failed"] == 0, (w, res)
        assert res["attempted"] == 2, (w, res)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == units, (w, got)
        bad = run(w, "--perturb-oracle")
        assert bad["failed"] > 0 and not bad["correct"], (w, bad)
        print(f"{w}: ok ({res['attempted']} ops; perturbed oracle -> "
              f"{bad['failed']}/{bad['attempted']} failed)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
