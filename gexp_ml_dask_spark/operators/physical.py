"""Physical-layout operators (SURVEY.md §2.9, OP-PHY-01..04).

The reference hand-places ``.persist()`` at 10+ points and
``repartition('64MB')`` after heavy filters (functions/
dask_pipeline.py:19,32,36-37,41,66,74). Spark needs the same
*persist* decisions (plan reuse does not dedupe across actions) but
partition sizing is mostly AQE's job (session.py sets the 64 MB
advisory size).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

PARTITION_BYTES = 64 * 1024 * 1024


def repartition_to_size(df: DataFrame, approx_bytes: int, key: str | None = None) -> DataFrame:
    """OP-PHY-01 — size-targeted repartition
    (``repartition(partition_size='64MB')``, dask_pipeline.py:41).
    With ``key`` the shuffle also co-locates by that key so the next
    join/agg on it is shuffle-free."""
    n = max(1, math.ceil(approx_bytes / PARTITION_BYTES))
    return df.repartition(n, key) if key else df.repartition(n)


def persist_df(df: DataFrame, eager: bool = False) -> DataFrame:
    """OP-PHY-02 — ``.persist()``. MEMORY_AND_DISK (deserialized) so
    a fold-reused training set survives memory pressure by spilling
    rather than recomputing. ``eager=True`` forces materialization
    now (the reference's persist is eager; Spark's is lazy)."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        out.count()
    return out


def unpersist_df(df: DataFrame) -> DataFrame:
    """OP-PHY-02 release — the reference's ``del`` + ``gc.collect()``
    (dask_pipeline.py:135-147)."""
    return df.unpersist()


def local_table(spark, rows, schema) -> DataFrame:
    """A small driver-built table as a ``LocalRelation``.

    ``rows`` are tuples (or Rows) in ``schema`` order; ``schema`` is
    a StructType or a DDL string. The rows become one pyarrow Table
    in the driver, and ``createDataFrame`` ships it to the JVM as
    Arrow batches. ``createDataFrame(<python list>)`` instead
    parallelizes a pickled Python RDD, and the first job that reads
    it starts a Python worker pool (one daemon plus one worker per
    core) in a plan that otherwise runs no Python at all. NaN stays
    NaN, None becomes NULL, and an empty ``rows`` keeps the schema.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Guarded round-robin repartition: widen a DataFrame to at least
    cluster parallelism, only when its current plan is narrower.

    Parquet row groups are the unit of scan parallelism; a source
    written as few large row groups (or few files) caps every
    downstream narrow stage — broadcast joins and elementwise kernels
    inherit the scan's partitioning, so a 1-row-group input runs the
    whole pipeline on one core. At cluster scale inputs have
    thousands of splits and this is a no-op (the guard keeps it from
    ever *adding* a shuffle there); it only pays one extra exchange
    when the input genuinely under-parallelizes the machine.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def copartition_by_key(df: DataFrame, key: str = "sample_id", n: int | None = None) -> DataFrame:
    """OP-PHY-04 — the engine's answer to division-aligned label
    partitioning (brca_data_prep.ipynb cell-20): hash-co-partition
    both sides by the join key once, reuse across stages. Usually
    unnecessary — labels broadcast — but correct for fact-fact joins
    at 100 TB."""
    return df.repartition(n, key) if n else df.repartition(key)


# Magic masks for 32->64-bit Morton bit spreading (the standard
# interleave-by-doubling sequence).
_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def spread_bits_32(col):
    """Spread a value in [0, 2^32) so its bits occupy the even bit
    positions of a 64-bit word — pure codegen bit arithmetic."""
    from pyspark.sql import functions as F

    x = (F.col(col) if isinstance(col, str) else col).cast("long")
    for shift, mask in _SPREAD_MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def morton_code(col_a, col_b):
    """64-bit Morton (Z-order) code interleaving two values in
    [0, 2^32): bit i of ``col_a`` lands at position 2i, of ``col_b``
    at 2i+1. Nearby (a, b) pairs get nearby codes along the Z-curve.

    Ordering caveat: BIGINT is signed, so bit 31 of ``col_b`` maps
    to the sign bit — SIGNED comparisons follow Z-curve order only
    for inputs in [0, 2^31). Keys wider than 31 bits should be
    range-compressed (bucketed) first; ``zorder_by`` inherits this
    domain."""
    from pyspark.sql import functions as F

    return spread_bits_32(col_a).bitwiseOR(
        F.shiftleft(spread_bits_32(col_b), 1)
    )


def zorder_by(
    df: DataFrame,
    col_a: str,
    col_b: str,
    n_partitions: int | None = None,
    z_col: str = "zvalue",
) -> DataFrame:
    """OP-PHY-05 — Z-order clustering for multi-column data skipping
    (the open-source answer to Delta/Iceberg OPTIMIZE ZORDER): range
    partition + sort on the Morton code of (col_a, col_b), so
    parquet row groups become selective for predicates on EITHER
    column and min/max footer stats prune scans at 100 TB. One range
    shuffle (sampling pass + exchange) + in-partition sort; the code
    itself is plain codegen bit arithmetic, no UDF."""
    z = morton_code(col_a, col_b)
    out = df.withColumn(z_col, z)
    out = (
        out.repartitionByRange(n_partitions, z_col)
        if n_partitions
        else out.repartitionByRange(z_col)
    )
    return out.sortWithinPartitions(z_col)
