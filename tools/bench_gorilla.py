"""Single-block Gorilla codec microbench — driver-local, no Spark.

The end-to-end Spark path, where blocks encode and decode in parallel,
is measured by perfbench's tier_ingest retention op
(functions.compression.* metrics); THIS tool records the per-block
single-thread floor per stream shape, which is what a
latency-sensitive point read pays. Shapes cover the codec's regimes:

  regular+const       run-A stream ('0','0' pairs)        — vector fill
  regular+dense       smooth values, per-segment windows  — run B
  regular+random      wide xors, near-64-bit windows      — run B wide
  jitter+dense        '10'+7 timestamps break run shape   — scalar-ish
  regular+5pct-nan    NULL bitmap + xor-0 singletons      — mixed
  bulkbench           hashed-integer values on a regular grid (the
                      series shape of BENCH_r*.json's gorilla_bulk rows)

Prints ONE JSON line {shape: {mpts_per_sec, bits_per_point}, ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from timeperiods_spark.functions.compression import (  # noqa: E402
    gorilla_decode,
    gorilla_encode,
)


def shapes(n: int) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    rng = np.random.default_rng(7)
    per = np.arange(n, dtype=np.int64)
    jit = per + rng.integers(-2, 3, n).cumsum()
    jit = np.sort(jit + np.arange(n))
    dense = np.round(np.cumsum(rng.normal(0, 1, n)), 1)
    nanv = dense.copy()
    nanv[rng.random(n) < 0.05] = np.nan
    ids = np.arange(n, dtype=np.int64) * 8
    return {
        "regular+const": (per, np.full(n, 42.0)),
        "regular+dense": (per, dense),
        "regular+random": (per, np.round(rng.normal(0, 100, n), 2)),
        "jitter+dense": (jit, np.round(np.cumsum(rng.normal(0, 1, n)), 1)),
        "regular+5pct-nan": (per, nanv),
        "bulkbench": (per, ((ids * 2654435761) % 100000).astype(np.float64)),
    }


def main() -> None:
    n = int(os.environ.get("SPARK_GRAFT_GORILLA_MICRO_N", "200000"))
    reps = int(os.environ.get("SPARK_GRAFT_GORILLA_MICRO_REPS", "3"))
    out: dict[str, dict] = {}
    for name, (p, v) in shapes(n).items():
        blob = gorilla_encode(p, v)
        dp, dv = gorilla_decode(blob)
        assert np.array_equal(dp, p), name
        ok = np.isnan(v)
        assert np.array_equal(np.isnan(dv), ok), name
        assert np.array_equal(dv[~ok], v[~ok]), name
        enc_best = dec_best = 1e18
        for _ in range(reps):
            t0 = time.perf_counter()
            gorilla_encode(p, v)
            t1 = time.perf_counter()
            gorilla_decode(blob)
            t2 = time.perf_counter()
            enc_best = min(enc_best, t1 - t0)
            dec_best = min(dec_best, t2 - t1)
        out[name] = {
            "decode_mpts_per_sec": round(n / dec_best / 1e6, 2),
            "encode_mpts_per_sec": round(n / enc_best / 1e6, 2),
            "bits_per_point": round(8 * len(blob) / n, 2),
        }
    print(json.dumps({"n_points": n, "shapes": out}))


if __name__ == "__main__":
    main()
