"""tools/perf_ab.py, the paired A/B driver, on canned result lines
(no Spark, no benchmark run)."""

from __future__ import annotations

import importlib.util
import json
import os
import statistics

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def ab():
    spec = importlib.util.spec_from_file_location(
        "perf_ab", os.path.join(ROOT, "tools", "perf_ab.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


METRICS = [
    {"name": "rows_per_s", "unit": "rows/s", "better": "higher", "bound": 0.25},
    {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.15},
]


def _records(values: dict, failed: dict = None) -> list[dict]:
    """``values[side]``: per seed a dict of metric values."""
    recs = []
    for side, per_seed in values.items():
        for seed, metrics in enumerate(per_seed, start=1):
            recs.append({
                "workload": "panel_rollup", "side": side, "seed": seed,
                "first": "parent" if seed % 2 else "change",
                "result": {
                    "failed": (failed or {}).get((side, seed), 0),
                    "metrics": {k: {"value": v} for k, v in metrics.items()},
                },
            })
    return recs


def test_parse_seeds_and_last_json(ab):
    assert ab.parse_seeds("1-4") == [1, 2, 3, 4]
    assert ab.parse_seeds("2,5-6") == [2, 5, 6]
    out = 'noise\n{"failed": 0, "metrics": {}}\n'
    assert ab.last_json(out) == {"failed": 0, "metrics": {}}
    assert ab.last_json("Traceback ...\n") is None


def test_summary_verdicts(ab):
    parent = [{"rows_per_s": 100 + s, "op_p50_s": 2.0 + s / 100, "peak_rss_mb": m}
              for s, m in zip(range(6), (1000, 1500, 1000, 1500, 1000, 1500))]
    change = [{"rows_per_s": 180 + s, "op_p50_s": 2.0 + s / 90, "peak_rss_mb": m}
              for s, m in zip(range(6), (1500, 1000, 1500, 1000, 1500, 1000))]
    rows, p50, rss = ab.summarize(_records({"parent": parent, "change": change}), METRICS)
    assert rows["median"] == (102.5, 182.5)
    assert rows["wins"] == 6 and rows["pairs"] == 6
    assert rows["verdict"] == "moved better" and rows["gap_over_parent_iqr"]
    assert rows["ratio"] == pytest.approx(
        statistics.median((180 + s) / (100 + s) for s in range(6))
    )
    assert p50["verdict"] == "within" and p50["wins"] == 0
    # peak memory alternates with run order: the spread hides any move
    assert rss["verdict"] == "unresolved"
    assert rss["iqr_over_median"][0] > 0.15


def test_failed_runs_leave_their_pair_out(ab, tmp_path):
    parent = [{"rows_per_s": 100.0}] * 3
    change = [{"rows_per_s": 60.0}] * 3
    recs = _records({"parent": parent, "change": change}, failed={("change", 2): 1})
    (rows,) = ab.summarize(recs, METRICS[:1])
    assert [r[0] for r in rows["rows"]] == [1, 3]
    assert rows["verdict"] == "moved worse"
    log = tmp_path / "ab.jsonl"
    log.write_text("".join(json.dumps(r) + "\n" for r in recs))
    bench = tmp_path / "bench.json"
    bench.write_text(json.dumps({"end_to_end": METRICS[:1], "per_layer": []}))
    assert ab.main(["--from", str(log), "--bench", str(bench)]) == 1
    text = ab.report([rows])
    assert "wins 0/2" in text and "moved worse" in text


def test_cpu_readout(ab, tmp_path):
    """run_one records the CPU time of the run's process tree, a child
    process of the run included; the readout prints it per side with
    no verdict, and records without it still summarize."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    (bench / "run.py").write_text(
        "import json, subprocess, sys\n"
        "burn = 'import time\\nt = time.process_time()\\n"
        "while time.process_time() - t < 0.3: pass'\n"
        "subprocess.run([sys.executable, '-c', burn], check=True)\n"
        "print(json.dumps({'failed': 0, 'metrics': {}}))\n"
    )
    result = ab.run_one(str(tmp_path), "panel_rollup", 1, 1, 0)
    assert result["failed"] == 0 and result["cpu_s"] >= 0.3
    recs = _records({"parent": [{"rows_per_s": 100.0}] * 3, "change": [{"rows_per_s": 90.0}] * 3})
    for r, cpu in zip(recs, (40.0, 44.0, None, 30.0, 33.0, 36.0)):
        if cpu is not None:
            r["result"]["cpu_s"] = cpu
    (rows,) = ab.summarize(recs, METRICS[:1])
    assert rows["pairs"] == 3
    text = ab.cpu_readout(recs)
    assert "no bound" in text and "verdict" not in text
    lines = text.splitlines()
    assert lines[2].split() == ["1", "40", "30"]
    assert lines[4].split() == ["3", "-", "36"]
    assert lines[5].split() == ["median", "42", "33"]
    assert ab.cpu_readout(_records({"parent": [{"rows_per_s": 1.0}]})) == ""
