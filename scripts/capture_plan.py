"""Capture .explain("formatted") for named queries into plans/<ROUND>/.

Usage: python scripts/capture_plan.py SUFFIX name [name ...]
   or: python scripts/capture_plan.py SUFFIX --file LISTFILE

Writes plans/$SPARK_GRAFT_PLANS_ROUND/<name>_<SUFFIX>.txt (round defaults to
r14; SUFFIX is "before" or "after"). Expression IDs (#123) are left intact —
the judge reads these files raw; they are captured at sf0.1 in the repo
session (local[32], AQE on).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from k_means_map_reduce_spark.registry import QUERIES  # noqa: E402
from k_means_map_reduce_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUND = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", ROUND
)

USAGE = (
    "usage: python scripts/capture_plan.py SUFFIX name [name ...]\n"
    "   or: python scripts/capture_plan.py SUFFIX --file LISTFILE"
)


def main() -> None:
    if len(sys.argv) < 3 or (sys.argv[2] == "--file" and len(sys.argv) != 4):
        print(USAGE, file=sys.stderr)
        sys.exit(1)
    suffix = sys.argv[1]
    names = sys.argv[2:]
    if names and names[0] == "--file":
        with open(names[1]) as fh:
            names = [line.strip() for line in fh if line.strip()]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown} (not in registry)", file=sys.stderr)
        sys.exit(1)
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("kmmr-capture-plan")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
