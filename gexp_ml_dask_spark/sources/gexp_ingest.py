"""Gene-expression ingest: many-file merge + wide<->long pivots.

OP-SRC-07 (SURVEY.md §2.1): the reference's missing
``load_gexp_dataset(infolder, outfile)`` (called from
brca_data_prep.ipynb cell-12) merges ~1.2k per-sample two-column
GDC files into one wide sample×gene matrix. On Spark this is a
single glob scan + ``input_file_name()`` to recover the sample
identity — one distributed job, not a driver-side file loop — and
the result stays LONG; wide form is produced only on demand.

At 100 TB the long form is the only sane layout: a 60k-column wide
DataFrame blows up Catalyst plan sizes, while long-form operations
are shuffle-once hash aggregates on (sample_id | gene_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gexp_ml_dask_spark.datamodel import GEXP_RAW_FILE_SCHEMA
from gexp_ml_dask_spark.operators.physical import local_table


def load_gexp_dataset(
    spark: SparkSession,
    infolder: str,
    pattern: str = "*.txt",
    mapping: DataFrame | None = None,
) -> DataFrame:
    """Merge a folder of per-sample (gene_id, value) TSV files into
    the canonical long table (sample_file, sample_id, gene_id, value).

    ``mapping`` (optional, from OP-SRC-04 JSON metadata) renames the
    file-derived sample identity to submitter ids via broadcast join
    — the reference's dict ``Series.map`` (brca_data_prep.ipynb
    cell-6).

    sample_id is minted as a dense ordinal over the distinct file
    names (the reference resets the index to ordinal ints,
    brca_data_prep.ipynb cell-17/18); at scale the window is over
    the tiny distinct-file dim, not the fact table.
    """
    raw = (
        spark.read.options(sep="\t", header=False)
        .schema(GEXP_RAW_FILE_SCHEMA)
        .csv(f"{infolder}/{pattern}")
        .withColumn(
            "sample_file",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
        )
    )
    if mapping is not None:
        # Rename the mapping's (key, value) BEFORE joining: the fact
        # table already has a `value` column (the expression value),
        # and drop-by-name would remove both.
        m = mapping.select(
            F.col("key").alias("_map_id"), F.col("value").alias("_map_file")
        )
        raw = (
            raw.join(
                F.broadcast(m),
                raw["sample_file"] == m["_map_file"],
                "left",
            )
            .withColumn("sample_file", F.coalesce("_map_id", "sample_file"))
            .drop("_map_id", "_map_file")
        )
    # Dense ordinal sample ids: the file dim is bounded (one row per
    # input file), so the distinct is computed distributed, sorted
    # driver-side, and re-broadcast as a literal dim — the same shape
    # as ml.pipeline.gene_index, not a partitionless row_number
    # window (single-task sort + the single-partition WARN). NULLs
    # sort first, matching the old window's NULLS FIRST order.
    rows = raw.select("sample_file").distinct().collect()
    names = sorted((r[0] for r in rows), key=lambda v: (v is not None, v))
    ids = local_table(
        raw.sparkSession,
        [(f, i) for i, f in enumerate(names)],
        "sample_file string, sample_id long",
    )
    return raw.join(F.broadcast(ids), "sample_file").select(
        "sample_file", "sample_id", "gene_id", "value"
    )


def long_to_wide(
    long_df: DataFrame,
    sample_col: str = "sample_id",
    gene_col: str = "gene_id",
    value_col: str = "value",
    gene_ids: list[str] | None = None,
) -> DataFrame:
    """Pivot long (sample, gene, value) to wide sample×gene.

    Passing ``gene_ids`` skips the extra distinct-values job Spark
    otherwise runs before pivoting. Wide form is an EDGE
    representation only (export, small-f ML assembly); engine
    internals stay long (SURVEY.md §1.1).
    """
    grouped = long_df.groupBy(sample_col)
    pivoted = (
        grouped.pivot(gene_col, gene_ids) if gene_ids else grouped.pivot(gene_col)
    )
    return pivoted.agg(F.first(value_col))


def wide_to_long(
    wide_df: DataFrame,
    sample_col: str = "sample_id",
    gene_cols: list[str] | None = None,
    gene_col: str = "gene_id",
    value_col: str = "value",
) -> DataFrame:
    """Unpivot wide sample×gene to canonical long form via
    ``stack`` (one generated projection, no shuffle)."""
    cols = gene_cols or [c for c in wide_df.columns if c != sample_col]
    pairs = ", ".join(f"'{c}', `{c}`" for c in cols)
    return wide_df.selectExpr(
        sample_col,
        f"stack({len(cols)}, {pairs}) as ({gene_col}, {value_col})",
    ).withColumn(value_col, F.col(value_col).cast(T.DoubleType()))
