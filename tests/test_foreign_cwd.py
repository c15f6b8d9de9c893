"""The foreign-CWD rule (README design rule 12): a driver that puts the
repo only on its own ``sys.path``, the way ``__spark_entry__.py`` is
loaded, must still run every query whose Python closures execute in
Python workers. Those workers cannot import this package, so a
closure that calls a package function by reference fails there with
``ModuleNotFoundError``.

Run from the repo root, the workers CAN import the package (their
``sys.path`` starts with the working directory), so no other test
catches such a closure. This one starts the driver in a subprocess
whose working directory is a temporary directory, with ``PYTHONPATH``
unset, and checks each Python-worker query against its DuckDB oracle
at sf0.001.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]

# Every registered query that runs a mapInPandas / applyInPandas /
# applyInPandasWithState closure, and has an oracle.
WORKER_QUERIES = [
    "op_llm_06_multimodal_features",
    "op_llm_06_media_transform",
    "op_llm_06_ppm_decode",
    "op_llm_06_png_decode",
    "op_llm_06_wav_decode",
    "op_llm_06_y4m_frames",
    "op_ml_10_isotonic",
    "op_ml_10_isotonic_apply",
    "op_llm_03_knn_pandas",
    "op_llm_05_stateful_dedup",
    "op_llm_05_stateful_cap",
]

SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

import __spark_entry__ as entry
from tools.oracle_sweep import compare

spark = (
    SparkSession.builder.master("local[2]")
    .appName("foreign_cwd")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
con = duckdb.connect()
for t in (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
):
    con.execute(f"CREATE VIEW {{t}} AS SELECT * FROM '{sf}/{{t}}.parquet'")
queries, oracles = entry.queries(), entry.oracle_sql()
out = {{}}
for name in {names!r}:
    try:
        got = queries[name](spark, {sf!r}).toPandas()
        ok = compare(got, con.execute(oracles[name]).df(), pd)
        out[name] = "OK" if ok else "MISMATCH"
    except Exception as exc:  # noqa: BLE001 - reported per query
        out[name] = f"{{type(exc).__name__}}: {{str(exc)[-400:]}}"
print("FOREIGNCWD " + json.dumps(out))
spark.stop()
"""


def test_worker_queries_run_from_a_foreign_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = SCRIPT.format(repo=str(REPO), sf=SF_SMOKE, names=WORKER_QUERIES)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    line = next(
        (ln for ln in proc.stdout.splitlines() if ln.startswith("FOREIGNCWD ")),
        None,
    )
    assert proc.returncode == 0 and line, (
        f"driver exit {proc.returncode}\n"
        f"stdout: {proc.stdout[-2000:]}\nstderr: {proc.stderr[-3000:]}"
    )
    results = json.loads(line[len("FOREIGNCWD "):])
    assert results == {name: "OK" for name in WORKER_QUERIES}, results
