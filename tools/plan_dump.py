"""Dump explain("formatted") for declared queries to plan files.

Plan evidence for the optimization rounds: runs each named query's
builder from __spark_entry__.queries() at a small sf dir (plan shape is
scale-independent) and writes <out>/<name>_<suffix>.txt. Run it
from a worktree at an older sha with --suffix before to capture the
pre-change plans, and from HEAD with --suffix after.

Usage:
  python tools/plan_dump.py --names a,b,c --suffix after \
      [--sf SF_DIR] [--out DIR]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from timeperiods_spark.session import get_spark  # noqa: E402


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(REPO, "plans"))
    args = ap.parse_args()

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("plan-dump", master="local[8]", shuffle_partitions=32)
    qs = entrymod.queries()
    for name in args.names.split(","):
        name = name.strip()
        if not name:
            continue
        df = qs[name](spark, args.sf)
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(explain_str(df))
        print(f"wrote {path}")

    spark.stop()


if __name__ == "__main__":
    main()
