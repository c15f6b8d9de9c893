"""Filter / projection operators (SURVEY.md §2.2, OP-FIL-01..07).

Column-set filters from the reference (keep genes passing a computed
statistic) become *semi-joins against a keep-list* on the long form
— the plan stays fully lazy and Catalyst turns the tiny keep-list
side into a broadcast. The reference instead forces eager evaluation
mid-pipeline because the wide schema is data-dependent
(functions/dask_pipeline.py:39-41, SURVEY.md §3.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gexp_ml_dask_spark.operators.aggregates import per_gene_stats, percentile


def nonzero_genes(gexp: DataFrame, gene_col: str = "gene_id", value_col: str = "value") -> DataFrame:
    """OP-FIL-01 keep-list — genes with mean > 0 ("Remove all
    transcripts that are 0 across ALL samples",
    feature_selection_and_normalization.py:21,47)."""
    return (
        gexp.groupBy(gene_col)
        .agg(F.avg(value_col).alias("_m"))
        .filter(F.col("_m") > 0.0)
        .select(gene_col)
    )


def drop_zero_genes(gexp: DataFrame, gene_col: str = "gene_id", value_col: str = "value") -> DataFrame:
    """OP-FIL-01 — semi-join the fact table to its nonzero keep-list.
    The keep-list (<= #genes rows) broadcasts; one shuffle total for
    the agg."""
    keep = nonzero_genes(gexp, gene_col, value_col)
    return gexp.join(F.broadcast(keep), gene_col, "left_semi")


def stat_threshold_genes(
    gexp: DataFrame,
    q: float = 0.25,
    gene_col: str = "gene_id",
    value_col: str = "value",
) -> DataFrame:
    """OP-FIL-02 keep-list — genes with mean > q25(means) AND
    var > q25(vars) (functions/dask_pipeline.py:39-41). One hash agg
    computes both stats; the two scalar thresholds come from a 1-row
    agg broadcast-cross-joined back."""
    stats = per_gene_stats(gexp, gene_col, value_col)
    thresholds = stats.agg(
        percentile("mean_value", q).alias("_mean_thr"),
        percentile("var_value", q).alias("_var_thr"),
    )
    return (
        stats.crossJoin(F.broadcast(thresholds))
        .filter((F.col("mean_value") > F.col("_mean_thr")) & (F.col("var_value") > F.col("_var_thr")))
        .select(gene_col)
    )


def stat_threshold_filter(
    gexp: DataFrame,
    q: float = 0.25,
    gene_col: str = "gene_id",
    value_col: str = "value",
) -> DataFrame:
    """OP-FIL-02 — fact table restricted to the stat-threshold
    keep-list (broadcast semi-join)."""
    keep = stat_threshold_genes(gexp, q, gene_col, value_col)
    return gexp.join(F.broadcast(keep), gene_col, "left_semi")


def positive_values(df: DataFrame, value_col: str = "value") -> DataFrame:
    """OP-FIL-03 — row-level predicate ``sample[sample > 0]``
    (feature_selection_and_normalization.py:97). Pushed into the
    parquet scan by Catalyst."""
    return df.filter(F.col(value_col) > 0)


def semi_join_members(df: DataFrame, other: DataFrame, on: str) -> DataFrame:
    """OP-FIL-04 / OP-JOIN-02 — key-membership intersection
    (``df.loc[df.index.isin(other.index)]``, brca_data_prep.ipynb
    cell-14)."""
    return df.join(other.select(on), on, "left_semi")


def drop_nulls(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """OP-FIL-07a — ``dropna()`` (lung_data_prep.ipynb cell-3)."""
    return df.na.drop(subset=cols)


def replace_zero_with_one(df: DataFrame, col: str) -> DataFrame:
    """OP-FIL-07b — ``replace(0, 1)`` before a log
    (feature_selection_and_normalization.py:24)."""
    return df.withColumn(
        col, F.when(F.col(col) == 0, F.lit(1.0)).otherwise(F.col(col))
    )
