"""Normalization composites (SURVEY.md §2.10, OP-ML-01/02).

Functional long-form implementations of the reference's two
normalizer estimators, plus ``pyspark.ml`` Estimator/Model wrappers
(see estimators.py). Everything is a lazy DataFrame plan — no UDFs,
no driver-side matrices.

Reference semantics reproduced:
  * UpperQuartile: feature_selection_and_normalization.py:8-31
    (pandas) / :34-58 (Dask twin).
  * TMM: feature_selection_and_normalization.py:61-115 (pandas only).
Both "adapted from edgeR calcNormFactors.R" per the reference's own
docstring; factors symmetrized to multiply to ~1 before use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gexp_ml_dask_spark.operators.aggregates import (
    collect_exact_quantiles,
    grouped_percentile,
    per_sample_uq_factor,
    symmetrize_factors,
)
from gexp_ml_dask_spark.operators.filters import drop_zero_genes
from gexp_ml_dask_spark.operators.joins import scale_rows
from gexp_ml_dask_spark.operators.physical import fan_out


def upper_quartile_factors(
    gexp: DataFrame,
    q: float = 0.75,
    sample_col: str = "sample_id",
    gene_col: str = "gene_id",
    value_col: str = "value",
    geomean_quantize: int | None = None,
) -> DataFrame:
    """UpperQuartile fit: (sample_id, norm_factor, scaling_factor).

    fit(X) = drop all-zero genes (fsn.py:21), per-sample
    quantile(q)/sum (fsn.py:28), geometric-mean symmetrization
    (fsn.py:24). Two shuffles total (per-gene keep-list agg,
    per-sample factor shuffle-sort); the geomean is collected from
    the persisted factors table and inlined as a literal.

    ``geomean_quantize``: opt-in floor-bucketed log-mean (default
    None = reference parity) — see
    :func:`~gexp_ml_dask_spark.operators.aggregates.symmetrize_factors`.
    """
    kept = drop_zero_genes(gexp, gene_col, value_col)
    factors = per_sample_uq_factor(kept, q, sample_col, value_col)
    return symmetrize_factors(
        factors,
        "norm_factor",
        "scaling_factor",
        geomean_quantize=geomean_quantize,
    )


def upper_quartile_transform(
    gexp: DataFrame,
    q: float = 0.75,
    sample_col: str = "sample_id",
    gene_col: str = "gene_id",
    value_col: str = "value",
    geomean_quantize: int | None = None,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """UpperQuartile fit_transform: the normalized long table
    (zero genes dropped, values row-scaled by the symmetrized
    factor; fsn.py transform :31).

    The filtered fact table ``kept`` feeds TWO plan branches (the
    factor agg and the output join); Catalyst recomputes shared
    subplans per branch, so it is persisted at exactly the point the
    reference persists (fsn.py:47-48 / dask_pipeline.py:32) —
    MEMORY_AND_DISK, so it spills rather than OOMs at scale. The
    input is first widened to cluster parallelism (guarded no-op
    when the scan already has enough splits): the zero-gene
    semi-join is broadcast, so without it every downstream stage
    inherits the scan's partitioning.

    The returned plan reads the persisted frames (``kept`` and the
    symmetrized factors), so they cannot be released here. Pass a
    ``persisted`` list to receive them and unpersist each one once
    the result has been materialized; otherwise only the caller's
    ``clearCache()`` frees them.
    """
    from pyspark.storagelevel import StorageLevel

    kept = drop_zero_genes(fan_out(gexp), gene_col, value_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if persisted is not None:
        persisted.append(kept)
    factors = symmetrize_factors(
        per_sample_uq_factor(kept, q, sample_col, value_col),
        "norm_factor",
        "scaling_factor",
        geomean_quantize=geomean_quantize,
        persisted=persisted,
    )
    return scale_rows(kept, factors, sample_col, value_col, "scaling_factor")


def tmm_factors(
    gexp: DataFrame,
    log_ratio_trim: float = 0.3,
    abs_expr_trim: float = 0.05,
    sample_col: str = "sample_id",
    gene_col: str = "gene_id",
    value_col: str = "value",
    trim_quantize: int | None = None,
) -> DataFrame:
    """TMM fit: (sample_id, norm_factor, scaling_factor).

    ``trim_quantize`` (opt-in): bucket the kernel values AND the trim
    bounds to ``floor(x * 10^N)`` before the trim comparison. The
    default (None, reference parity) thresholds raw doubles, whose
    last ulp differs across engines/libms (JVM StrictMath vs C
    log2): measured at sf10, million-row TIE-RUNS of identical
    kernel values sitting within an ulp of a global bound flip trim
    membership between Spark and DuckDB, shifting the geometric mean
    by 4.6e-5 and every 6dp-rounded factor with it (BASELINE.md,
    round-5 sf10 verification). The bucket form is deliberately
    ROUNDING-MODE-FREE: one IEEE-754 binary64 multiply then an exact
    floor, both bit-identical on any IEEE engine — unlike decimal
    rounding, where Spark's F.round (HALF_UP over the shortest
    decimal repr) and DuckDB's round (half-away-from-zero on the
    binary value) disagree on doubles whose repr terminates in a 5
    at the (N+1)th place. With ``trim_quantize=6`` membership is a
    pure function of the bucket index — engine-independent at any
    scale (for |x| < 2^63 / 10^N, far beyond any kernel value) — at
    the cost of a <=1e-6 perturbation of where the trim cuts (far
    below the statistic's noise floor).

    Long-form derivation of feature_selection_and_normalization.py:
    71-112 (see each step's citation inline). The reference's
    per-row pandas applies become three hash aggregates + two global
    quantile scalars; ±inf/NaN are scrubbed to null so Spark
    aggregates skip them exactly like the nan-functions do.

    It persists (a) the tiny keep-list/pseudoref tables that feed
    two branches each, and (b) the per-cell kernel matrix ``mat``,
    which the global trim-bounds fit AND the trim pass both consume —
    without it Catalyst recomputes the full scan+join+kernel pipeline
    for each branch. ``mat`` is fact-table-sized, so this is
    MEMORY_AND_DISK (spills, never OOMs) — the same placement the
    reference persists at (fsn.py:83-86). Each is unpersisted once
    its consumers ran; only the symmetrized factors stay cached.
    """
    from pyspark.storagelevel import StorageLevel

    v = F.col(value_col)

    # fit :73 — drop genes that are zero across all samples
    # ((X != 0).any(axis=0), the any-nonzero form). Folded into the
    # per-gene stats pass: ONE agg computes the keep flag AND the
    # pseudoref value, and the keep filter is then applied to the
    # fact table for free by the inner broadcast join against
    # ``pseudoref`` (which only contains kept genes) — no separate
    # keep-list aggregate + semi-join pass over the input.
    gexp = fan_out(gexp)

    # :74 pseudoref — PER-GENE (pandas axis=0 == per column):
    # quantile(0.75 of positive values) / sum(all values). The GENE
    # dimension is bounded (≤60k in the reference workload) while
    # groups are large, so the compact collect_list hash agg wins
    # here — measured 44.6s vs 77-102s for the shuffle-sort form at
    # 30M rows / 20k genes. Per-SAMPLE aggs are the opposite case
    # (cardinality scales with data, tiny groups) and use
    # :func:`sorted_group_quantile`; see per_sample_uq_factor.
    pseudoref = (
        gexp.groupBy(gene_col)
        .agg(
            F.try_divide(
                grouped_percentile(F.when(v > 0, v), 0.75), F.sum(v)
            ).alias("ref_value"),
            F.max(F.when(v != 0, F.lit(1)).otherwise(F.lit(0))).alias(
                "_any_nz"
            ),
        )
        .where(F.col("_any_nz") == 1)
        .drop("_any_nz")
    )
    # pseudoref feeds the broadcast join and ref_total.
    pseudoref = pseudoref.persist()

    # The kept fact table: inner join ≡ the zero-gene drop. It feeds
    # the sample-totals agg AND the kernel projection; one cached
    # copy replaces two scan+join passes.
    g = gexp.join(F.broadcast(pseudoref), gene_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # Per-sample library size (:98 sample_total_counts). The row sum
    # equals the sum over the (s>0 | ref>0) mask because masked-out
    # genes contribute 0.
    sample_totals = g.groupBy(sample_col).agg(F.sum(v).alias("sample_total"))

    # Global pseudoref total (:107): every ref>0 gene is in every
    # row's mask, so the per-row ref total is one global scalar.
    ref_total = pseudoref.agg(F.sum("ref_value").alias("ref_total"))

    # No broadcast hint on sample_totals: it has one row per SAMPLE
    # and scales with the data. AQE picks broadcast-hash at runtime
    # while it is small, shuffle join when it is not. (pseudoref and
    # ref_total stay hinted — bounded by the gene dimension / scalar.)
    joined = (
        g.join(sample_totals, sample_col)
        .crossJoin(F.broadcast(ref_total))
    )

    # :96-100 log_ratio (despite the name, not a log): for s>0 genes,
    # (total - g) / (total * g). try_divide -> null on degenerate 0.
    log_ratio = F.when(
        v > 0,
        F.try_divide(
            F.col("sample_total") - v, F.col("sample_total") * v
        ),
    )

    # :102-112 absolute expression: only genes with s>0 AND ref>0
    # yield values (numerator needs s>0, denominator needs ref>0;
    # pandas index alignment NaNs out the rest).
    num = F.try_divide(v, F.col("sample_total"))
    den = F.try_divide(F.col("ref_value"), F.col("ref_total"))
    log_num = F.when(num > 0, F.log2(num))  # replace(0,1)->log2(1)=0 unreachable for s>0
    log_den_raw = F.when(den > 0, F.log2(den))
    # :112 inner replace(0,1): a log2(den) that is exactly 0 -> 1.
    log_den = F.when(log_den_raw == 0, F.lit(1.0)).otherwise(log_den_raw)
    abs_expr = F.when(
        (v > 0) & (F.col("ref_value") > 0),
        F.try_divide(log_num, log_den) / F.lit(2.0),
    )

    def _definite(c: F.Column) -> F.Column:
        """:85-86 replace([inf,-inf], nan) — scrub non-finite to null."""
        return F.when(
            c.isNull()
            | F.isnan(c)
            | (c == F.lit(float("inf")))
            | (c == F.lit(float("-inf"))),
            F.lit(None).cast("double"),
        ).otherwise(c)

    # mat feeds the global bounds fit AND the trim pass; without a
    # persist the whole scan+join+kernel pipeline runs twice.
    mat = joined.select(
        sample_col,
        gene_col,
        _definite(log_ratio).alias("log_ratio"),
        _definite(abs_expr).alias("abs_expr"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # :88-92 global (matrix-wide) nanquantile trim bounds. The trim
    # values are high-cardinality doubles, the worst case for Spark's
    # exact Percentile (value->count map on one reducer), so this is
    # an estimator-fit scalar: collect the four bounds once by rank
    # bracketing and inline them as literals. MLlib fits do exactly
    # this (fit collects scalars, transform embeds them).
    b = collect_exact_quantiles(
        mat,
        {
            "log_ratio": [log_ratio_trim, 1 - log_ratio_trim],
            "abs_expr": [abs_expr_trim, 1 - abs_expr_trim],
        },
    )
    # The bounds pass materialized ``mat``; everything upstream of it
    # (the kept fact table and the pseudoref dim) is dead weight from
    # here on — release it so the executor store holds ONE fact-sized
    # dataset, not three.
    g.unpersist()
    pseudoref.unpersist()
    lr = F.col("log_ratio")
    ae = F.col("abs_expr")
    lr_lo, lr_hi = F.lit(b["log_ratio"][0]), F.lit(b["log_ratio"][1])
    ae_lo, ae_hi = F.lit(b["abs_expr"][0]), F.lit(b["abs_expr"][1])

    if trim_quantize is not None:
        # floor-bucket, NOT F.round: floor(x * 10^N) is one IEEE
        # multiply + an exact floor, identical on every IEEE engine;
        # decimal rounding modes differ across engines on half-cases
        # (see the trim_quantize docstring note).
        scale = F.lit(float(10 ** trim_quantize))

        def _bucket(c: F.Column) -> F.Column:
            return F.floor(c * scale)

        c_lr, c_lr_lo, c_lr_hi = _bucket(lr), _bucket(lr_lo), _bucket(lr_hi)
        c_ae, c_ae_lo, c_ae_hi = _bucket(ae), _bucket(ae_lo), _bucket(ae_hi)
    else:
        c_lr, c_lr_lo, c_lr_hi = lr, lr_lo, lr_hi
        c_ae, c_ae_lo, c_ae_hi = ae, ae_lo, ae_hi
    trimmed = mat.select(
        sample_col,
        F.when((c_lr > c_lr_lo) & (c_lr < c_lr_hi), lr).alias("t_lr"),
        F.when((c_ae > c_ae_lo) & (c_ae < c_ae_hi), ae).alias("t_ae"),
    )

    # :94 ((t_lr * t_ae) / t_lr).mean(axis=1) — algebraically the
    # mean of t_ae over genes where BOTH survive the trim (the
    # reference's own quirk, kept for parity; avg skips nulls like
    # the pandas NaN-mean).
    factors = trimmed.groupBy(sample_col).agg(
        F.avg(F.when(F.col("t_lr").isNotNull(), F.col("t_ae"))).alias("norm_factor")
    )

    # :78 symmetrize. Its geomean collect materializes the persisted
    # factors, so nothing reads ``mat`` after it returns.
    out = symmetrize_factors(factors, "norm_factor", "scaling_factor")
    mat.unpersist()
    return out


def quantile_normalize(
    gexp: DataFrame,
    sample_col: str = "sample_id",
    gene_col: str = "gene_id",
    value_col: str = "value",
) -> DataFrame:
    """Quantile normalization (Bolstad et al. 2003) — the third
    classic gexp normalizer beside UQ/TMM (no reference analogue;
    same estimator family as fsn.py:8-58): every sample's value
    distribution is replaced by the cross-sample reference
    distribution at the same rank.

    Deterministic-tie variant: within-sample rank is row_number over
    (value, gene_id) — a total order both engines replay exactly —
    rather than average-of-ties, so the result is value-oracle-able
    bit-for-bit. Plan: ONE window shuffle on sample_id to rank, one
    hash agg on rank for the reference distribution (|ranks| =
    max genes/sample rows — broadcast-sized at any corpus scale),
    and a broadcast join back. The fact table shuffles once.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    w = Window.partitionBy(sample_col).orderBy(value_col, gene_col)
    # The ranked table feeds BOTH the reference-distribution agg and
    # the output join; without a persist each side re-runs the scan +
    # rank window (two fact shuffles instead of one).
    ranked = (
        gexp.select(F.col(sample_col), F.col(gene_col), F.col(value_col))
        .withColumn("_r", F.row_number().over(w).cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ref = ranked.groupBy("_r").agg(F.avg(value_col).alias("_ref"))
    return (
        ranked.join(F.broadcast(ref), "_r")
        .select(
            F.col(sample_col),
            F.col(gene_col),
            F.col("_r").alias("rank_in_sample"),
            F.round("_ref", 6).alias("value_qn"),
        )
    )
