"""Dump ``explain(mode="formatted")`` output for named registry queries.

The optimization rounds commit before/after physical plans under
``plans/r{N}/<query>_{before,after}.txt`` so plan-shape claims in
OPTIMIZATION_r{N}.md are checkable without running Spark. "Before"
files come from running this same tool in a checkout of the
pre-round commit. The cache is cleared before each query, so no
plan shows a frame an earlier query cached. Exits 1 if any query is
unknown or fails to plan.

Usage::

    python tools/dump_plans.py --out plans/r08 --suffix after \
        op_ml_10_auc op_ml_10_calibration ...
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True, choices=["before", "after"])
    ap.add_argument(
        "--sf-dir", default=os.environ.get("AUDIT_SF_DIR", "/root/testdata/sf0.001")
    )
    args = ap.parse_args()

    from gexp_ml_dask_spark.queries import QUERIES
    from gexp_ml_dask_spark.session import get_spark

    out_dir = Path(args.out)
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        app_name="dump_plans", master="local[4]", shuffle_partitions=8
    )
    rc = 0
    for name in args.queries:
        if name not in QUERIES:
            print(f"ERR unknown query {name}", file=sys.stderr)
            rc = 1
            continue
        spark.catalog.clearCache()
        buf = io.StringIO()
        try:
            df = QUERIES[name](spark, args.sf_dir)
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
        except Exception as ex:
            print(f"ERR {name}: {type(ex).__name__}: {ex}", file=sys.stderr)
            rc = 1
            continue
        text = buf.getvalue()
        path = out_dir / f"{name}_{args.suffix}.txt"
        path.write_text(text)
        print(f"wrote {path} ({len(text.splitlines())} plan lines)")
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
