#!/usr/bin/env python3
"""Record the pipeline scores ``run.py`` checks ``gexp_cls`` against.

    python3 perfbench/record_expected.py 0-19

For each seed: build that seed's inputs, run ``gexp_pipeline`` once
and store ``[cv_mean, score]`` (rounded to 6 places) in
``expected.json``. Re-record only when a change to the model, the
split or the folds is meant to change the scores.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run as bench_run  # noqa: E402


def main(argv: list[str]) -> int:
    lo, _, hi = argv[0].partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    work = HERE / ".work" / "record"
    work.mkdir(parents=True, exist_ok=True)
    path = HERE / "expected.json"
    expected = json.loads(path.read_text())
    spark = bench_run.start_session(work)
    try:
        for seed in seeds:
            wl = bench_run.GexpCls(toy=False)
            wl.make_inputs(work, seed)
            wl.setup(spark, work)
            (_, op), = wl.operations(spark, seed)
            cv_mean, _, score = op(True)
            expected["gexp_cls"][str(seed)] = [round(cv_mean, 6), round(score, 6)]
            print(f"seed {seed}: cv_mean {cv_mean:.6f} score {score:.6f}", flush=True)
            path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    finally:
        bench_run.stop_jvm(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
