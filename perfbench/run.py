#!/usr/bin/env python3
"""The repo's benchmark: the gexp pipeline and the operator suite,
driven from outside through their public entry points.

    python3 perfbench/run.py --workload gexp_cls --seed 0 --seconds 5 --trace 0

One Spark driver process, one caller at a time (closed loop), on
``local[4]``. Each run:

1. makes the seeded inputs (``datagen`` tables; for the queries, their
   DuckDB oracle answers), outside any timed window;
2. sets up ``SETUPS`` times (once when traced): a fresh SparkSession
   and, for the pipeline, its cell via ``bench.prep_pipeline_cell``.
   The median is ``setup_s``;
3. runs one untimed warm-up pass, one operation at a time, collecting
   and checking every output;
4. runs full passes over the operations, one at a time, until
   ``--seconds`` have passed, queries drained to the ``noop`` sink,
   and reports the median time per operation, summed over one pass,
   as ``wall_s``, with the process tree's peak RSS over this step.

``--trace 1`` then restarts the session with Spark's event log on,
warms it with one untraced pass, repeats step 4 with spans around
the program's calls, and reports the per-layer metrics (see
``spans.py``) and ``trace.overhead_s``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Details of the run (per-operation times,
set-up times, host stamp, spans) go to
``perfbench/.work/<workload>-s<seed>-t<trace>/``.
"""

from __future__ import annotations

import argparse
import functools
import importlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

CORES = 4
DRIVER_HEAP = "1g"
SETUPS = 5
SCALE = 0.01
TOY_SCALE = 0.001

# The pipeline cell: n samples x f genes, classification, k-fold CV.
# bench.PIPELINE_GRID records k=10 on the n=1205 x f=500 cell; one
# such run takes ~35 s on 4 cores, too long to repeat within a run.
CELL = {"n": 200, "f": 100}
TOY_CELL = {"n": 50, "f": 40}
PIPE_ARGS = {"k_folds": 3, "seed": 42, "cv_parallelism": 3, "fit_partitions": 4}
TASK = "classification"

# Query -> the module whose public function the registry entry calls.
# One or more headline queries per module, chosen so a pass stays
# short; bench.HEADLINE holds the full list.
OPS = {
    "op_join_04_asof_events": "operators",
    "op_src_07_pivot_long_to_wide": "sources",
    "op_llm_05_tumbling_window": "streaming",
    "op_llm_02_dup_clusters": "llm.dedup",
    "op_llm_04_bpe_tokenize": "llm.text",
    "op_llm_03_knn_bruteforce": "llm.similarity",
    "op_llm_07_temperature_weights": "llm.mixture",
    "op_llm_08_curation_pipeline": "plans.curation",
}

GEXP_SPANS = [
    "plans.gexp_pipeline",
    "plans.gexp_pipeline.preprocess",
    "ml.pipeline.assemble",
    "ml.pipeline.split_scale",
    "ml.cv",
    "ml.cv.fit",
    "ml.cv.score",
    "ml.models.eval_fit",
    "ml.metrics.eval_score",
]
GEXP_MEASURES = ["wall_s", "self_s", "jobs", "tasks", "task_s", "idle_s", "shuffle_mb", "gc_s"]
OPS_MODULES = list(dict.fromkeys(OPS.values()))
OPS_MEASURES = ["wall_s", "jobs", "task_s", "idle_s", "shuffle_mb"]

T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def start_session(work: Path, event_log: bool = False):
    from gexp_ml_dask_spark.session import get_spark

    extra = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work / 'derby'} "
            # A fixed heap and young generation: G1 otherwise grows the
            # heap by a different amount in every run, and peak RSS
            # with it.
            f"-Xms{DRIVER_HEAP} -Xmn256m"
        ),
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                # Spark 4 compresses with zstd by default, which the
                # stdlib reader in spans.py cannot read.
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_configs=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM process PySpark launched, and
    wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------- gexp_cls


@contextmanager
def pipeline_spans(tracer):
    """Spans around the calls ``plans.gexp_pipeline.gexp_pipeline``
    makes, while the real function runs: the names it looks up in its
    own module are rebound to span-opening wrappers, and restored on
    exit.

    Some phases are one call: preprocess (``feature_preprocessing``),
    assemble (``assemble_vectors``), the CV (``cross_validate``, with
    a span around every fold's fit and score) and the eval score (the
    metric called after the CV). The others run from one call to the
    next: split_scale from ``encode_labels`` or ``train_test_split``
    to the CV, eval_fit from the end of the CV to the eval score.
    Spark evaluates lazily, so a phase holds the jobs its own calls
    force; work a later call forces lands in that later phase."""
    # The module, not the function of the same name that
    # ``gexp_ml_dask_spark.plans`` exports.
    module = importlib.import_module("gexp_ml_dask_spark.plans.gexp_pipeline")

    phase: dict = {"name": None, "cm": None}

    def close() -> None:
        if phase["cm"] is not None:
            phase["cm"].__exit__(None, None, None)
        phase.update(name=None, cm=None)

    def open_(name: str) -> None:
        if phase["name"] != name:
            close()
            cm = tracer.span(name)
            cm.__enter__()
            phase.update(name=name, cm=cm)

    def one_call(name, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            close()
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def opens(name, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            open_(name)
            return fn(*args, **kwargs)

        return wrapped

    def cv(fn):
        @functools.wraps(fn)
        def wrapped(train, fit_fn, score_fn, **kwargs):
            def fit(df):
                with tracer.span("ml.cv.fit"):
                    return fit_fn(df)

            def score(model, df):
                with tracer.span("ml.cv.score"):
                    return score_fn(model, df)

            close()
            with tracer.span("ml.cv"):
                out = fn(train, fit_fn=fit, score_fn=score, **kwargs)
            open_("ml.models.eval_fit")
            return out

        return wrapped

    def metric(fn):
        # Inside the CV folds the metric is part of ml.cv.score.
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if phase["name"] != "ml.models.eval_fit":
                return fn(*args, **kwargs)
            close()
            with tracer.span("ml.metrics.eval_score"):
                return fn(*args, **kwargs)

        return wrapped

    wrappers = {
        "feature_preprocessing": lambda fn: one_call("plans.gexp_pipeline.preprocess", fn),
        "assemble_vectors": lambda fn: one_call("ml.pipeline.assemble", fn),
        "encode_labels": lambda fn: opens("ml.pipeline.split_scale", fn),
        "train_test_split": lambda fn: opens("ml.pipeline.split_scale", fn),
        "cross_validate": cv,
        "accuracy": metric,
        "r2_score": metric,
    }
    originals = {name: getattr(module, name) for name in wrappers}
    for name, wrap in wrappers.items():
        setattr(module, name, wrap(originals[name]))
    try:
        yield
    finally:
        close()
        for name, fn in originals.items():
            setattr(module, name, fn)


class GexpCls:
    def __init__(self, toy: bool) -> None:
        self.toy = toy
        self.cell = TOY_CELL if toy else CELL
        self.scores: tuple | None = None

    def span_name(self, key: str) -> str:
        return "plans.gexp_pipeline"

    def make_inputs(self, work: Path, seed: int) -> None:
        import datagen

        self.tables = datagen.write_tables(
            work / "tables", seed, TOY_SCALE if self.toy else SCALE, ["lineitem"]
        )
        recorded = json.loads((HERE / "expected.json").read_text())["gexp_cls"]
        self.expected = None if self.toy else recorded.get(str(seed))

    def setup(self, spark, work: Path) -> None:
        import bench

        self.cell_dir = work / "cell"
        bench.prep_pipeline_cell(
            spark, str(self.tables), self.cell["n"], self.cell["f"], str(self.cell_dir), TASK
        )

    def operations(self, spark, seed: int, tracer=None) -> list:
        from gexp_ml_dask_spark.plans.gexp_pipeline import gexp_pipeline

        def run(collect: bool):
            spark.catalog.clearCache()
            gexp = spark.read.parquet(str(self.cell_dir / "gexp"))
            labels = spark.read.parquet(str(self.cell_dir / "labels"))
            with pipeline_spans(tracer) if tracer is not None else nullcontext():
                return gexp_pipeline(gexp, labels, task=TASK, **PIPE_ARGS)

        return [("pipeline", run)]

    def verify(self, key: str, out) -> str | None:
        """Scores must repeat exactly from run to run, traced or not,
        and match the values recorded for this seed."""
        cv_mean, _, score = out
        got = (round(cv_mean, 6), round(score, 6))
        if not all(0.0 <= v <= 1.0 for v in got):
            return f"scores out of range: {got}"
        self.scores = self.scores or got
        if got != self.scores:
            return f"scores {got} differ from this run's first {self.scores}"
        if self.expected is not None and list(got) != self.expected:
            return f"scores {got} differ from recorded {self.expected}"
        return None


# -------------------------------------------------------------------- ops


class Ops:
    def __init__(self, toy: bool) -> None:
        self.toy = toy

    def span_name(self, key: str) -> str:
        return OPS[key]

    def make_inputs(self, work: Path, seed: int) -> None:
        import duckdb
        import datagen

        from gexp_ml_dask_spark.queries import ORACLE

        self.tables = datagen.write_tables(
            work / "tables", seed, TOY_SCALE if self.toy else SCALE
        )
        con = duckdb.connect()
        for path in self.tables.glob("*.parquet"):
            con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
        self.expected = {q: con.execute(ORACLE[q]).df() for q in OPS}
        con.close()

    def setup(self, spark, work: Path) -> None:
        """The queries read the tables directly; the session is their
        whole set-up."""

    def order(self, seed: int) -> list[str]:
        names = list(OPS)
        random.Random(seed).shuffle(names)
        return names

    def operations(self, spark, seed: int, tracer=None) -> list:
        from gexp_ml_dask_spark.queries import QUERIES

        def make(name):
            def run(collect: bool):
                spark.catalog.clearCache()
                df = QUERIES[name](spark, str(self.tables))
                if collect:
                    return df.toPandas()
                # Every row produced, none collected to the driver.
                df.write.format("noop").mode("overwrite").save()
                return None

            return run

        return [(name, make(name)) for name in self.order(seed)]

    def verify(self, key: str, out) -> str | None:
        """The collected rows must equal the query's DuckDB oracle
        answer on the same tables."""
        import pandas as pd

        from tools.oracle_sweep import compare

        return None if compare(out, self.expected[key], pd) else "differs from its oracle"


WORKLOADS = {"gexp_cls": GexpCls, "ops": Ops}


# ---------------------------------------------------------------- harness


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran other guests on our CPUs; a run
    with high steal is slow for reasons outside the program."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def failing_operation(collect: bool):
    raise RuntimeError("deliberately failed operation (--inject-failure)")


def measure(wl, ops, seconds: float, tracer=None, collect: bool = False) -> dict:
    """Run full passes over ``ops``, one operation at a time, until
    ``seconds`` have passed (at least one pass), so every operation
    gets the same number of samples. Every output an operation
    returns is checked outside its timed call; with ``collect`` the
    queries collect their rows for that check, otherwise they drain to
    the noop sink and return nothing. Returns per-operation times and
    the attempted/failed counts."""
    times: dict[str, list[float]] = {key: [] for key, _ in ops}
    attempted, problems = 0, []
    deadline = time.perf_counter() + seconds
    n = 0
    while n == 0 or time.perf_counter() < deadline:
        n += 1
        for key, fn in ops:
            attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    out = fn(collect)
                else:
                    with tracer.span(wl.span_name(key), op=key, exec=n):
                        out = fn(collect)
            except Exception as exc:  # noqa: BLE001 - counted as failed
                problems.append(f"{key}: {exc!r}"[:300])
                continue
            elapsed = time.perf_counter() - t0
            problem = None if out is None else wl.verify(key, out)
            if problem:
                problems.append(f"{key}: {problem}")
            times[key].append(elapsed)
    wall = sum(median(v) for v in times.values() if v)
    return {"wall_s": wall, "times": times, "attempted": attempted, "problems": problems}


def run(args, work: Path) -> dict:
    import bench

    wl = WORKLOADS[args.workload](args.toy)
    record: dict = {"args": vars(args), "host": bench.host_telemetry()}
    steal0, total0 = cpu_jiffies()

    # The benchmark's own inputs: not part of set-up time.
    wl.make_inputs(work, args.seed)
    spark, setups, tree_problems = None, [], []
    for _ in range(1 if args.trace else SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        wl.setup(spark, work)
        setups.append(time.perf_counter() - t0)
    record["setup_s"] = setups
    log(f"set-up times {[round(s, 3) for s in setups]}")

    ops = wl.operations(spark, args.seed)
    if args.inject_failure:
        ops.append(("injected_failure", failing_operation))
    # Warm-up: one untimed pass, its outputs collected and checked.
    warm = measure(wl, ops, 0, collect=True)
    attempted, problems = warm["attempted"], warm["problems"]
    log("warm-up done")
    sampler = bench.PeakRssSampler().start()
    plain = measure(wl, ops, args.seconds)
    peak_mb = sampler.stop()
    attempted += plain["attempted"]
    problems += plain["problems"]
    record["untraced"] = plain
    record["host"]["job_overhead_ms"] = bench.spark_job_overhead_ms(spark)
    steal1, total1 = cpu_jiffies()
    record["host"]["steal_pct"] = round(100 * (steal1 - steal0) / (total1 - total0), 1)
    log(f"wall_s {plain['wall_s']:.3f} peak_rss_mb {peak_mb} host {record['host']}")

    if args.trace:
        from spans import Tracer, aggregate, check_tree, fold_stats, span_metrics

        spark.stop()
        spark = start_session(work, event_log=True)
        bench.spark_job_overhead_ms(spark)  # warm the new context
        ops = wl.operations(spark, args.seed)
        # The new context starts its Python workers cold: warm it with
        # an untraced pass, as the untraced run was. Jobs outside any
        # span are left out of the per-layer metrics.
        warm = measure(wl, ops, 0)
        tracer = Tracer(spark.sparkContext, f"{args.workload}-s{args.seed}")
        traced = measure(wl, wl.operations(spark, args.seed, tracer), args.seconds, tracer)
        attempted += warm["attempted"] + traced["attempted"]
        problems += warm["problems"] + traced["problems"]
        record["traced"] = traced
        stop_jvm(spark)
        spark = None
        tracer.dump(work / "spans.json")
        per_span = span_metrics(tracer.spans, work / "eventlog")
        tree_problems = check_tree(tracer.spans, per_span)
        metrics = aggregate(tracer.spans, per_span, GEXP_SPANS, GEXP_MEASURES)
        metrics |= aggregate(tracer.spans, per_span, OPS_MODULES, OPS_MEASURES)
        metrics |= fold_stats(tracer.spans, per_span)
        metrics["trace.overhead_s"] = traced["wall_s"] - plain["wall_s"]
        units = {m["name"]: m["unit"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        out_metrics = {
            "wall_s": {"value": plain["wall_s"], "unit": "s"},
            "setup_s": {"value": median(setups), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    if spark is not None:
        stop_jvm(spark)

    for p in problems + tree_problems:
        log(f"FAILED {p}")
    result = {
        "correct": not problems and not tree_problems,
        "attempted": attempted,
        "failed": len(problems),
        "metrics": out_metrics,
    }
    record["result"] = result
    (work / "record.json").write_text(json.dumps(record, indent=1, default=str) + "\n")
    shutil.rmtree(work / "tables", ignore_errors=True)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy-scale inputs (self-test)")
    ap.add_argument(
        "--inject-failure",
        action="store_true",
        help="add an operation that raises, to test failure counting",
    )
    args = ap.parse_args(argv)
    # Everything a run writes, the JVMs' temp files included, stays
    # under its work directory.
    work = HERE / ".work" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    try:
        import bench  # noqa: F401
        import gexp_ml_dask_spark  # noqa: F401
        import tools.oracle_sweep  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(run(args, work)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
