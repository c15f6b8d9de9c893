from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from gexp_ml_dask_spark.session import get_spark

    # A fixed heap cap: get_spark's local default (48g) is above the
    # RAM of a small host, and over a full run G1 grows the heap until
    # the kernel's OOM killer ends the JVM. The fixtures are sf0.01.
    spark = get_spark(
        app_name="gexp_ml_dask_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_configs={"spark.driver.memory": "4g"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for table in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM "
            f"'{SF_ORACLE}/{table}.parquet'"
        )
    yield con
    con.close()
