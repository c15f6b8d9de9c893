"""Per-query Spark job-count audit (guide §1: measure first).

Round 8's attribution arithmetic showed the headline suite is
dispatch-bound at sf0.1 (220 jobs suite-wide at 60-107 ms/job fixed
cost), so optimization round 2's primary lever is JOB COUNT, not plan
shape. This tool counts Spark jobs per headline query via the status
tracker: each query runs once inside its own job group, noop-drained,
and the group's job ids are counted (AQE stage-materialization jobs
and broadcast-build jobs included — they all pay the dispatch
constant).

Usage::

    python tools/job_audit.py [--sf-dir DIR] [query ...]

With no query names, audits the full bench HEADLINE list. Output is a
JSON object {query: {"jobs": n, "wall_s": s}} on stdout (one line per
query on stderr as it goes).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument(
        "--out", default=None, help="also write the JSON to this path"
    )
    args = ap.parse_args()

    from bench import HEADLINE

    from gexp_ml_dask_spark.queries import QUERIES
    from gexp_ml_dask_spark.session import get_spark

    names = args.queries or HEADLINE
    spark = get_spark(app_name="job_audit")
    sc = spark.sparkContext
    # Warm-up outside every counted group (JVM classloading, codegen).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    QUERIES["op_agg_01_per_gene_mean"](spark, args.sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    out: dict[str, dict] = {}
    for name in names:
        if name not in QUERIES:
            print(f"ERR unknown query {name}", file=sys.stderr)
            return 1
        spark.catalog.clearCache()
        # Each query's group replaces the previous one; nothing after
        # the loop runs a job, so no group needs clearing.
        group = f"audit_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, args.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        out[name] = {"jobs": jobs, "wall_s": round(wall, 3)}
        print(f"# {name}: jobs={jobs} wall={wall:.3f}s", file=sys.stderr)
    spark.catalog.clearCache()
    total = sum(v["jobs"] for v in out.values())
    print(f"# total jobs: {total}", file=sys.stderr)
    text = json.dumps(out, indent=1)
    print(text)
    if args.out:
        Path(args.out).write_text(text + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
