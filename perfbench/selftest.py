#!/usr/bin/env python3
"""Self-test of the benchmark at toy scale (~4 min on 4 cores).

    python3 perfbench/selftest.py

Runs ``run.py --toy`` once per workload untraced and once traced
(toy inputs, one pass each) and asserts that:

- every named metric is emitted, with its unit, and nothing else;
- the span tree of a traced run is well formed: every span closed,
  each child inside its parent, ``self_s`` >= 0, and every pipeline
  phase present;
- a deliberately failed operation (``--inject-failure``) is counted
  in ``failed`` and makes the run incorrect.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import GEXP_SPANS  # noqa: E402
from spans import check_tree, span_metrics  # noqa: E402


def run(workload: str, trace: int, inject: bool) -> tuple[dict | None, str]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "0",
           "--seconds", "1", "--trace", str(trace), "--toy"]
    if inject:
        cmd.append("--inject-failure")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, f"exit {p.returncode}: {p.stderr[-1500:]}"
    return json.loads(lines[-1]), ""


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for wl in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            inject = wl == "ops" and trace == 0
            label = f"{wl} trace={trace}{' inject-failure' if inject else ''}"
            res, err = run(wl, trace, inject)
            if res is None:
                problems.append(f"{label}: {err}")
                continue
            print(f"# {label}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{label}: result keys {sorted(res)}")
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{label}: metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if inject:
                if res["correct"] or res["failed"] < 1 or res["attempted"] <= res["failed"]:
                    problems.append(f"{label}: injected failure not counted: {res}")
            elif not res["correct"] or res["failed"]:
                problems.append(f"{label}: not correct: {res}")
            if trace:
                work = HERE / ".work" / f"{wl}-s0-t1"
                spans = json.loads((work / "spans.json").read_text())
                problems += [f"{label}: {p}" for p in check_tree(spans, span_metrics(spans, work / "eventlog"))]
                if wl == "gexp_cls":
                    missing = set(GEXP_SPANS) - {s["name"] for s in spans}
                    if missing:
                        problems.append(f"{label}: spans missing: {sorted(missing)}")
    for p in problems:
        print(f"FAIL {p}")
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
