"""ML pre-processing pipeline (SURVEY.md §2.10, OP-ML-03/04/05 +
OP-PHY-03).

Mirrors the reference's pre_ml_processing (functions/dask_pipeline.
py:55-76) with keyed joins instead of positional chunk alignment:
long-form preprocessing -> per-sample feature vectors -> seeded
split -> label encoding -> standard scaling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gexp_ml_dask_spark.operators.physical import local_table


def gene_index(
    gexp: DataFrame, gene_col: str = "gene_id"
) -> tuple[DataFrame, int]:
    """Sorted gene dim with dense ordinal positions ``_gidx``, and its
    row count.

    The feature dimension is BOUNDED by contract (~60k genes —
    functions/dask_pipeline.py:48-52 materializes it as an array
    axis), so the distinct gene ids are computed distributed,
    collected, sorted driver-side, and returned as a
    :func:`~gexp_ml_dask_spark.operators.physical.local_table` (a
    LocalRelation, no Python RDD). One job; only the dim-sized result
    reaches the driver — same contract as the estimator-fit collects.
    The count is the collected list's length, not a ``count()`` job.
    NULL gene ids sort first, matching a window's NULLS FIRST order."""
    from pyspark.sql import types as T

    rows = gexp.select(gene_col).distinct().collect()
    ids = sorted((r[0] for r in rows), key=lambda v: (v is not None, v))
    dim_schema = T.StructType(
        [
            gexp.schema[gene_col],
            T.StructField("_gidx", T.IntegerType(), False),
        ]
    )
    dim = local_table(
        gexp.sparkSession, [(g, i) for i, g in enumerate(ids)], dim_schema
    )
    return dim, len(ids)


def assemble_vectors(
    gexp: DataFrame,
    sample_col: str = "sample_id",
    gene_col: str = "gene_id",
    value_col: str = "value",
    out_col: str = "features",
    dense: bool = True,
) -> DataFrame:
    """OP-PHY-03 — long form -> one ML feature Vector per sample
    (replaces the reference's to_dask_array + rechunk,
    functions/dask_pipeline.py:48-52).

    Two rules hold on both paths:

    - rows with a NULL gene id are dropped (they have no position);
    - repeated (sample, gene) pairs are summed first — scipy's
      COO->CSR contract; without it a duplicate pair corrupts the
      dense layout and throws in SparseVector. The extra shuffle
      partial-aggregates map-side and feeds the narrower per-sample
      shuffle.

    ``dense=True`` (the canonical gexp case: every kept gene present
    for every sample, zeros explicit) is one lazy plan with no driver
    round trip: each sample's per-sample aggregate sorts its own
    (gene_id, value) structs by gene id, so every sample's vector has
    the same gene order without a global gene dim, and no wide
    DataFrame ever materializes. One shuffle (the groupBy), entirely
    JVM-side: sort_array + field extraction.

    ``dense=False`` handles ragged input — absent pairs become sparse
    zeros — so positions need the global dim: :func:`gene_index` (one
    collect job; its length is the vector size) broadcast onto the
    fact, then an Arrow-batched Python UDF builds SparseVectors (the
    declared escape hatch; a JVM sparse constructor doesn't exist in
    pyspark.ml.functions). The indices/values arrays are column-built
    and sorted JVM-side BEFORE the UDF, so Python only wraps two
    ready arrays per sample (Arrow transfer, no per-cell pickle loop)
    — the plan shows ArrowEvalPython, never BatchEvalPython (pinned
    in tests/test_plans.py).
    """
    gexp = gexp.groupBy(sample_col, gene_col).agg(
        F.sum(value_col).alias(value_col)
    )

    if dense:
        keyed, key = gexp.filter(F.col(gene_col).isNotNull()), gene_col
    else:
        genes, n_genes = gene_index(gexp, gene_col)
        keyed, key = gexp.join(F.broadcast(genes), gene_col), "_gidx"
    pairs = keyed.groupBy(sample_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(key).alias("_k"), F.col(value_col).alias("v"))
            )
        ).alias("_pairs")
    )

    if dense:
        from pyspark.ml.functions import array_to_vector

        arr = F.transform(F.col("_pairs"), lambda p: p["v"])
        return pairs.select(sample_col, array_to_vector(arr).alias(out_col))

    from pyspark.ml.linalg import SparseVector, VectorUDT

    # Split the sorted pair structs into flat (indices, values)
    # arrays with JVM transforms; the Arrow-optimized UDF then only
    # wraps the two ready arrays in a SparseVector per SAMPLE (n
    # rows, not n×f cells) — inputs cross as Arrow batches, no
    # row-at-a-time pickle (BatchEvalPython) stage in the plan.
    @F.udf(returnType=VectorUDT(), useArrow=True)
    def to_sparse(idx, vals):
        return SparseVector(n_genes, idx, vals)

    flat = pairs.select(
        sample_col,
        F.transform(F.col("_pairs"), lambda p: p["_k"]).alias("_idx"),
        F.transform(F.col("_pairs"), lambda p: p["v"].cast("double")).alias(
            "_vals"
        ),
    )
    return flat.select(
        sample_col, to_sparse(F.col("_idx"), F.col("_vals")).alias(out_col)
    )


def train_test_split(
    df: DataFrame, test_size: float = 0.3, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """OP-ML-03 — seeded random split (``train_test_split(test_size
    =0.3, shuffle=True, random_state=42)``, functions/dask_pipeline.
    py:57-58). Row membership can't match sklearn's RNG row-for-row
    (SURVEY.md §7.5); the contract is the proportion + determinism
    for a fixed seed. NB ``randomSplit`` membership depends on the
    physical partition layout — prefer :func:`hash_split` when the
    split must be reproducible across scales/clusters.

    Cached-layout hazard: a persisted DataFrame whose plan ends in a
    shuffle keeps the un-coalesced shuffle width (Spark runs cached
    plans with ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    =false``), while the same plan run lazily is coalesced by AQE. So
    splitting ``df.persist()`` selects other rows than splitting
    ``df``, and two splits of one lazy plan can disagree if only one
    of them reads through a cache. Split an input whose layout is
    fixed once: a ``localCheckpoint`` (as ``plans.gexp_pipeline.
    labeled_samples`` does) or a table read back from storage."""
    train, test = df.randomSplit([1.0 - test_size, test_size], seed=seed)
    return train, test


def hash_bucket(
    key: str | F.Column, seed: int = 42, n_buckets: int = 1000
) -> F.Column:
    """Deterministic pseudo-random bucket 0..n_buckets-1 from a key.

    ``rand()``/``randomSplit`` draw per-partition streams, so row
    membership silently changes whenever the scan splits differently
    (another scale factor, another cluster, AQE coalescing) — a
    reproducibility hazard for training pipelines. Hashing the row
    KEY is partition-layout-independent: the same row lands in the
    same bucket everywhere, forever. md5 (salted with the seed) is
    uniform in its leading 32 bits, evaluated JVM-side, and exists
    in every SQL engine, so splits are oracle-checkable."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(c.cast("string"), F.lit(f":{seed}")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets


def hash_split(
    df: DataFrame,
    test_size: float = 0.3,
    key_col: str = "sample_id",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """OP-ML-03 (scale-stable form) — 1-test_size/test_size split by
    key hash. Both halves are filters over the same plan (no
    shuffle, no RNG state); membership is a pure function of
    (key, seed)."""
    cut = int(round((1.0 - test_size) * 1000))
    b = hash_bucket(key_col, seed, 1000)
    return df.filter(b < cut), df.filter(b >= cut)


def encode_labels(
    df: DataFrame, label_col: str = "label", out_col: str = "label_idx"
) -> tuple[DataFrame, list[str]]:
    """OP-ML-04 — sklearn LabelEncoder contract: codes follow the
    SORTED distinct labels (functions/dask_pipeline.py:64-66), which
    is StringIndexer's alphabetAsc ordering."""
    from pyspark.ml.feature import StringIndexer

    model = StringIndexer(
        inputCol=label_col, outputCol=out_col, stringOrderType="alphabetAsc"
    ).fit(df)
    return model.transform(df), list(model.labels)


def fit_standard_scaler(
    train: DataFrame, features_col: str = "features", out_col: str = "features_scaled"
):
    """OP-ML-05 — StandardScaler(withMean, withStd) fit on TRAIN
    only, applied to train+test (functions/dask_pipeline.py:72-74).
    Returns the fitted model; call ``.transform`` on each split."""
    from pyspark.ml.feature import StandardScaler

    return StandardScaler(
        inputCol=features_col, outputCol=out_col, withMean=True, withStd=True
    ).fit(train)


def stratified_sample(
    df: DataFrame,
    n_per_total: int,
    label_col: str = "label",
    seed: int = 42,
    hash_col: str | None = None,
) -> DataFrame:
    """OP-ML-11 — stratified subsample preserving label proportions
    (``train_test_split(..., stratify=labels)``, data/brca_
    undersample.py:29-36).

    Carves exactly floor(n*p_label + 0.5) rows per label via a
    per-label window (labels are few). ``hash_col`` switches the
    within-label order from ``rand(seed)`` to the seeded md5 of that
    key column — partition-layout-independent membership (see
    :func:`hash_bucket`), reproducible across engines.
    """
    import math

    total = df.count()
    frac = min(1.0, n_per_total / total)
    counts = {r[0]: r[1] for r in df.groupBy(label_col).count().collect()}
    # floor(x + 0.5): half-up, matching SQL semantics (Python round()
    # is banker's and would diverge from an oracle on exact halves).
    quota = {l: int(math.floor(c * frac + 0.5)) for l, c in counts.items()}
    if hash_col is not None:
        order = F.md5(
            F.concat(F.col(hash_col).cast("string"), F.lit(f":{seed}"))
        )
        w = Window.partitionBy(label_col).orderBy(order, hash_col)
    else:
        w = Window.partitionBy(label_col).orderBy(F.rand(seed))
    ranked = df.withColumn("_rn", F.row_number().over(w))
    quota_df = local_table(
        df.sparkSession, list(quota.items()), f"{label_col} string, _quota int"
    )
    return (
        ranked.join(F.broadcast(quota_df), label_col)
        .filter(F.col("_rn") <= F.col("_quota"))
        .drop("_rn", "_quota")
    )
