"""Aggregation operators (SURVEY.md §2.4, OP-AGG-01..10).

Every reference aggregation is an axis-wise matrix reduction; on the
long form each is a single shuffle-once hash aggregate with map-side
partial aggregation (free from Spark). Every quantile is exact
(linear interpolation — matches pandas ``Series.quantile`` and DuckDB
``quantile_cont``); the ``percentile_approx`` sketch runs only inside
:func:`collect_exact_quantiles`, where it brackets the exact ranks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gexp_ml_dask_spark.operators.physical import local_table

APPROX_ACCURACY = 10_000


def percentile(col: str | Column, q: float | list[float]) -> Column:
    """Exact linear-interpolation quantile (pandas/DuckDB semantics).
    A list ``q`` returns an array column from ONE pass — Percentile
    builds its per-partition value map once per call, so batching
    quantiles of the same column halves the cost vs two scalar
    calls."""
    c = F.col(col) if isinstance(col, str) else col
    qlit = (
        F.array(*[F.lit(x) for x in q]) if isinstance(q, list) else F.lit(q)
    )
    return F.percentile(c, qlit)


def grouped_percentile(col: str | Column, q: float) -> Column:
    """Exact per-GROUP quantile for aggregations with many groups.

    Spark's ``Percentile`` keeps a value->count OpenHashMap per group
    inside ObjectHashAggregate (which falls back to sort-based
    aggregation at 128 keys per partition); with group counts that
    scale with the data (per-sample aggs) this measured 8-9x slower
    than collecting the group into an array and interpolating with
    expression-level code (87.8s vs 10.4s at 6M rows / 1.5M groups).
    ``sort_array(collect_list(...))`` + two-sided lerp is bit-identical
    to ``F.percentile`` (nulls skipped by collect_list, integral-rank
    case short-circuited like Percentile does). Group values must fit
    in one aggregation buffer — true for per-sample/per-gene rows
    (bounded by #genes / #samples respectively), NOT for global
    quantiles (use :func:`collect_exact_quantiles`).
    """
    c = F.col(col) if isinstance(col, str) else col
    a = F.sort_array(F.collect_list(c))
    n = F.size(a)
    k = (n.cast("double") - F.lit(1.0)) * F.lit(q)
    lo_i = F.floor(k).cast("int")
    hi_i = F.ceil(k).cast("int")
    lo_v = F.element_at(a, lo_i + 1)
    hi_v = F.element_at(a, hi_i + 1)
    # CaseWhen evaluates branches lazily, so element_at never sees an
    # out-of-range index (ANSI mode would throw). Percentile also
    # short-circuits equal bracket VALUES (not just equal indexes) —
    # without that, 0.375*x + 0.625*x can differ from x in the last
    # ulp.
    return F.when(n == 0, F.lit(None).cast("double")).otherwise(
        F.when((lo_i == hi_i) | (lo_v == hi_v), lo_v).otherwise(
            (hi_i.cast("double") - k) * lo_v
            + (k - lo_i.cast("double")) * hi_v
        )
    )


def collect_exact_quantiles(
    df: DataFrame, cols: dict[str, list[float]]
) -> dict[str, list[float]]:
    """Exact linear-interpolation quantiles of fact-table-sized
    columns, collected to the driver — the scalable algorithm for an
    eager fit scalar.

    Spark's exact ``Percentile`` merges per-partition value->count
    maps on a single reducer: O(distinct values) memory and
    serialization on one task, which is both the local hot spot for
    high-cardinality doubles and a non-starter at 100 TB. This
    instead does rank bracketing:

      1. one ``percentile_approx`` pass sketches values around each
         target rank, padded by the sketch's worst-case rank error
         (``n / accuracy``);
      2. one codegen count pass pins each bracket's exact global
         start rank;
      3. one filter pass collects only the in-bracket values
         (O(n/accuracy) rows) and interpolates driver-side with
         Percentile's own two-sided lerp
         ``(ceil(k) - k) * lo + (k - floor(k)) * hi`` (bit-identical
         to ``F.percentile``; the one-sided ``lo + frac * (hi - lo)``
         form differs in the last ulp).

    Falls back to exact ``F.percentile`` for any column whose
    bracket misses (degenerate distributions, or inputs small enough
    that the quantile-space pad is under a rank), so results are
    always exact. ``cols`` maps column name -> list of quantiles.
    """
    import math

    # ONE pass computes the counts AND the bracket sketches: the
    # sketch's worst-case rank error is n/accuracy, which in QUANTILE
    # space is the n-independent 1/accuracy — so the bracket bounds
    # don't need n and the count pass folds into the sketch pass
    # (one fewer full scan of a fact-table-sized input). The
    # post-hoc coverage check below (floor(k)/ceil(k) inside the
    # realized bracket) catches any small-n shortfall and falls back
    # to exact Percentile, so exactness never depends on the pad.
    pad_q = 2.0 / APPROX_ACCURACY
    count_exprs = [F.count(F.col(c)).alias(f"__n_{c}") for c in cols]
    sketch_exprs = []
    target_specs = []  # (name, col, q_index, q)
    for c, qs in cols.items():
        for i, q in enumerate(qs):
            name = f"{c}__{i}"
            target_specs.append((name, c, i, q))
            sketch_exprs.append(
                F.percentile_approx(
                    F.col(c),
                    F.array(
                        F.lit(max(0.0, q - pad_q)), F.lit(min(1.0, q + pad_q))
                    ),
                    F.lit(APPROX_ACCURACY),
                ).alias(name)
            )
    first = df.agg(*count_exprs, *sketch_exprs).collect()[0]
    counts = {c: first[f"__n_{c}"] for c in cols}

    targets = []  # (name, col, k, n)
    for name, c, _i, q in target_specs:
        n = counts[c]
        if n == 0:
            continue
        targets.append((name, c, (n - 1) * q, n))
    if not targets:
        return {c: [None] * len(qs) for c, qs in cols.items()}

    sketch = first
    # ONE second pass: the exact below-bracket rank AND the sorted
    # in-bracket values fold into a single aggregate job (previously
    # a count job plus a separate toPandas collection — two full
    # scans of the fact-sized input). The collect_list array is
    # O(n/accuracy) values per target — the same volume the old
    # collection shipped to the driver, now reduced map-side first.
    second = df.agg(
        *[
            F.count(
                F.when(F.col(c) < F.lit(sketch[name][0]), 1)
            ).alias(f"_b_{name}")
            for name, c, _k, _n in targets
        ],
        *[
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col(c).between(
                            F.lit(sketch[name][0]), F.lit(sketch[name][1])
                        ),
                        F.col(c),
                    )
                )
            ).alias(f"_v_{name}")
            for name, c, _k, _n in targets
        ],
    ).collect()[0]

    picked: dict[str, float | None] = {}
    fallback_cols: set[str] = set()
    for name, c, k, _n in targets:
        vals = [v for v in second[f"_v_{name}"] if v == v and v is not None]
        start = second[f"_b_{name}"]
        lo_i, hi_i = math.floor(k) - start, math.ceil(k) - start
        if lo_i < 0 or hi_i >= len(vals):
            fallback_cols.add(c)
            continue
        lo_v, hi_v = vals[lo_i], vals[hi_i]
        if lo_i == hi_i or lo_v == hi_v:
            # Percentile returns the key directly when the bracket
            # values coincide — the lerp differs in the last ulp.
            picked[name] = lo_v
        else:
            picked[name] = (
                (math.ceil(k) - k) * lo_v + (k - math.floor(k)) * hi_v
            )

    out: dict[str, list[float | None]] = {}
    for c, qs in cols.items():
        if counts[c] == 0:
            out[c] = [None] * len(qs)
        elif c in fallback_cols:
            row = df.agg(percentile(F.col(c), list(qs)).alias("p")).collect()[0]
            out[c] = list(row["p"])
        else:
            out[c] = [picked[f"{c}__{i}"] for i in range(len(qs))]
    return out


def per_gene_mean(gexp: DataFrame, gene_col: str = "gene_id", value_col: str = "value") -> DataFrame:
    """OP-AGG-01 — per-gene mean (``X.mean(axis=0)``,
    functions/dask_pipeline.py:36)."""
    return gexp.groupBy(gene_col).agg(F.avg(value_col).alias("mean_value"))


def per_gene_variance(gexp: DataFrame, gene_col: str = "gene_id", value_col: str = "value") -> DataFrame:
    """OP-AGG-02 — per-gene sample variance, ddof=1 (pandas default
    of ``X.var(axis=0)``, functions/dask_pipeline.py:37)."""
    return gexp.groupBy(gene_col).agg(F.var_samp(value_col).alias("var_value"))


def per_gene_stats(gexp: DataFrame, gene_col: str = "gene_id", value_col: str = "value") -> DataFrame:
    """OP-AGG-01+02 fused: one shuffle computes both statistics the
    threshold filter (OP-FIL-02) needs — the reference runs two
    separate passes (dask_pipeline.py:36-37)."""
    return gexp.groupBy(gene_col).agg(
        F.avg(value_col).alias("mean_value"),
        F.var_samp(value_col).alias("var_value"),
    )


def scalar_quantile(stats: DataFrame, col: str, q: float) -> DataFrame:
    """OP-AGG-03 — scalar quantile of a per-group statistic
    (``mean.quantile(0.25)``, dask_pipeline.py:39-40). Returns a
    1-row DataFrame suitable for a broadcast cross join."""
    return stats.agg(percentile(col, q).alias(f"{col}_q"))


def sorted_group_quantile(
    df: DataFrame,
    group_col: str,
    value: str | Column,
    q: float,
    extra_aggs: dict[str, Column] | None = None,
    out_col: str = "q_value",
) -> DataFrame:
    """Exact per-group quantile via shuffle-sort + rank pick — the
    many-groups scale path that stays entirely inside whole-stage
    codegen.

    :func:`grouped_percentile` (collect_list) and Spark's
    ``Percentile`` both aggregate through ObjectHashAggregate:
    per-group heap buffers, object serialization in the partial
    stage, and a sort-based fallback at 128 distinct keys per
    partition — measured 2-10x slower than this form at 7.4M groups
    (30M rows), with run-to-run spikes, and a skewed group can blow
    the aggregation buffer. Here the quantile becomes: one shuffle
    by ``group_col``, a Tungsten radix sort by (group, value), a
    ``row_number``/``count`` window pass, and a plain codegen
    HashAggregate that picks the floor/ceil rank values (the groupBy
    reuses the window's partitioning, so there is no second
    exchange). No object buffers anywhere — a group larger than
    memory spills in the sort, never OOMs.

    Matches ``F.percentile`` bit-for-bit: nulls are excluded
    (ranked after all values, never picked), all-null groups yield
    null, and equal bracket VALUES short-circuit to the value itself
    before the two-sided lerp (the one-ulp trap the property tests
    pin). ``value`` may be a masked expression (e.g.
    ``F.when(v > 0, v)``); ``extra_aggs`` run over the SAME shuffled
    rows, so companion statistics (``sum(value)``, keep flags) share
    the single shuffle exactly like the one-aggregate form.
    """
    from pyspark.sql import Window

    v = F.col(value) if isinstance(value, str) else value
    w_rank = Window.partitionBy(group_col).orderBy(
        F.col("_sgq_v").asc_nulls_last()
    )
    w_all = Window.partitionBy(group_col)
    ranked = df.select("*", v.alias("_sgq_v")).select(
        "*",
        (F.row_number().over(w_rank) - 1).cast("long").alias("_sgq_r"),
        F.count("_sgq_v").over(w_all).alias("_sgq_n"),
    )
    k = (F.col("_sgq_n").cast("double") - F.lit(1.0)) * F.lit(q)
    extra = extra_aggs or {}
    out = ranked.groupBy(group_col).agg(
        F.max(
            F.when(F.col("_sgq_r") == F.floor(k), F.col("_sgq_v"))
        ).alias("_sgq_lo"),
        F.max(
            F.when(F.col("_sgq_r") == F.ceil(k), F.col("_sgq_v"))
        ).alias("_sgq_hi"),
        F.max("_sgq_n").alias("_sgq_nn"),
        *[expr.alias(name) for name, expr in extra.items()],
    )
    kk = (F.col("_sgq_nn").cast("double") - F.lit(1.0)) * F.lit(q)
    qv = F.when(
        F.col("_sgq_nn") == 0, F.lit(None).cast("double")
    ).otherwise(
        F.when(
            F.col("_sgq_lo") == F.col("_sgq_hi"), F.col("_sgq_lo")
        ).otherwise(
            (F.ceil(kk).cast("double") - kk) * F.col("_sgq_lo")
            + (kk - F.floor(kk).cast("double")) * F.col("_sgq_hi")
        )
    )
    return out.select(
        group_col, qv.alias(out_col), *[F.col(name) for name in extra]
    )


def per_sample_uq_factor(
    gexp: DataFrame,
    q: float = 0.75,
    sample_col: str = "sample_id",
    value_col: str = "value",
) -> DataFrame:
    """OP-AGG-04 — the upper-quartile norm factor: per-sample
    ``quantile(q) / sum`` (feature_selection_and_normalization.py:28).
    One shuffle; both statistics share it in the sort-based
    many-groups form (:func:`sorted_group_quantile`) — group count
    scales with samples. A sample whose values sum to 0 gets a NULL
    factor (``try_divide``), never a division error under ANSI."""
    qs = sorted_group_quantile(
        gexp.select(sample_col, value_col),
        sample_col,
        value_col,
        q,
        extra_aggs={"_total": F.sum(value_col)},
        out_col="_q",
    )
    return qs.select(
        sample_col,
        F.try_divide(F.col("_q"), F.col("_total")).alias("norm_factor"),
    )


def symmetrize_factors(
    factors: DataFrame,
    factor_col: str = "norm_factor",
    out_col: str = "scaling_factor",
    geomean_quantize: int | None = None,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """OP-AGG-05 — geometric-mean symmetrization:
    ``factor / exp(mean(log(factor.replace(0,1))))``
    (feature_selection_and_normalization.py:24).

    An estimator-style fit: persist the factors, run the geomean as a
    partial+final aggregate, COLLECT the scalar and inline it as a
    literal, so consumers read the persisted factors with no scalar
    join and no lineage back to the geomean aggregate. NULL factors
    (an all-zero sample) are skipped by the mean and stay NULL.
    Release is the caller's (unpersist / clearCache), the same
    contract as global_rank: pass a ``persisted`` list and the
    persisted factors frame is appended to it, so the caller can
    unpersist it once its consumers ran.

    ``geomean_quantize`` (opt-in, default None = reference parity):
    floor-bucket the LOG-mean at ``10^-d`` before exponentiating —
    ``exp(floor(avg(log f) * 10^d) / 10^d)``. Why: the mean of k*n
    replicated logs differs from the mean of n in the last ulps
    (accumulation order), and that constant multiplies EVERY output
    row — measured at sf100 (k=1000): 4 of 600k base factors landed
    across a 6dp output-rounding boundary (BASELINE.md §Round-6).
    Bucketing the log-mean pins the constant to one value across any
    aggregation order whose drift is below the bucket width (~1e-12
    observed vs 1e-6 buckets), making replica runs digest-exact. The
    floor-bucket form (one IEEE multiply + exact floor) is
    rounding-mode-free across engines, same rationale as TMM's
    ``trim_quantize`` (ml/normalization.tmm_factors). Relative
    perturbation of the geomean at d=6 is <= 10^-6/|log gm| in log
    space, i.e. ~5e-7 on the factor scale — uniform over all rows.
    """
    avg_log = F.avg(
        F.log(
            F.when(F.col(factor_col) == 0, F.lit(1.0)).otherwise(
                F.col(factor_col)
            )
        )
    )
    if geomean_quantize is not None:
        scale = F.lit(float(10**geomean_quantize))
        avg_log = F.floor(avg_log * scale) / scale
    factors = factors.persist()
    if persisted is not None:
        persisted.append(factors)
    gm = factors.agg(F.exp(avg_log)).collect()[0][0]
    return factors.withColumn(out_col, F.col(factor_col) / F.lit(gm))


def per_sample_sum(gexp: DataFrame, sample_col: str = "sample_id", value_col: str = "value") -> DataFrame:
    """OP-AGG-06 — per-sample library size (``sample.sum()``,
    feature_selection_and_normalization.py:28,98)."""
    return gexp.groupBy(sample_col).agg(F.sum(value_col).alias("total"))


def nan_ignoring_quantile(
    df: DataFrame, col: str, q: float, out: str | None = None
) -> DataFrame:
    """OP-AGG-07 — ``np.nanquantile`` equivalent: drop null AND NaN
    before the exact quantile (feature_selection_and_normalization.py:
    88-92). Spark keeps NaN distinct from null, so both predicates
    are required (SURVEY.md §1.1)."""
    clean = df.filter(F.col(col).isNotNull() & ~F.isnan(F.col(col)))
    return clean.agg(percentile(col, q).alias(out or f"{col}_q"))


def distinct_sorted_codes(labels: DataFrame, label_col: str = "label") -> DataFrame:
    """OP-AGG-09 — sklearn LabelEncoder contract: distinct labels,
    sorted, coded 0..k-1 (functions/dask_pipeline.py:64-66).

    The label vocabulary is a bounded dimension by contract (a
    classifier target), so the distinct is computed distributed and
    the dim-sized result is sorted driver-side and re-broadcast as a
    literal DataFrame — the same shape as
    :func:`~gexp_ml_dask_spark.ml.pipeline.gene_index`. This replaces
    the previous partitionless ``row_number`` window (single-task
    sort + the single-partition WARN in every pipeline run). NULL
    labels sort first, matching the old window's NULLS FIRST order."""
    from pyspark.sql import types as T

    rows = labels.select(label_col).distinct().collect()
    vals = sorted((r[0] for r in rows), key=lambda v: (v is not None, v))
    schema = T.StructType(
        [
            labels.schema[label_col],
            T.StructField("code", T.IntegerType(), False),
        ]
    )
    return local_table(
        labels.sparkSession, [(v, i) for i, v in enumerate(vals)], schema
    )


def per_gene_scaling_stats(gexp: DataFrame, gene_col: str = "gene_id", value_col: str = "value") -> DataFrame:
    """OP-AGG-10 — StandardScaler.fit statistics: per-gene mean and
    population stddev (sklearn ddof=0; functions/dask_pipeline.py:
    72-73)."""
    return gexp.groupBy(gene_col).agg(
        F.avg(value_col).alias("mean_value"),
        F.stddev_pop(value_col).alias("std_value"),
    )


def approx_distinct_by(
    df: DataFrame,
    key_col: str,
    value_col: str,
    rsd: float = 0.05,
) -> DataFrame:
    """OP-AGG-12 `[mandate]` — per-key approximate distinct count
    (HyperLogLog++). No reference analogue (the reference counts
    distinct labels exactly, OP-AGG-09); this is the 100 TB form:
    O(1) state per key instead of a distinct-shuffle of every value,
    with relative standard deviation ``rsd``. One hash aggregate,
    map-side partials merge sketch state. Estimates are not
    engine-portable bit-for-bit, so the driver-facing query
    (op_agg_12_approx_distinct) value-checks the PORTABLE contract
    instead: each engine's estimate within 5% of its own exact
    distinct count, plus the engine-independent exact count."""
    return df.groupBy(key_col).agg(
        F.approx_count_distinct(value_col, rsd).alias("approx_distinct")
    )


def hll_sketches_by(
    df: DataFrame,
    key_col: str,
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-key Apache DataSketches HLL sketch (binary, MERGEABLE) —
    the building block for incremental distinct counting at scale:
    daily partitions each persist their per-key sketches, and any
    date range is answered by ``hll_union_agg`` over the stored
    sketches without rescanning the facts. Pair with
    :func:`hll_union_estimate`."""
    return df.groupBy(key_col).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sketch")
    )


def hll_union_estimate(
    sketches: DataFrame,
    key_col: str,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Merge per-key sketches (e.g. from several stored partitions)
    and estimate the distinct count of the union."""
    return sketches.groupBy(key_col).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col(sketch_col))
        ).alias("approx_distinct")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """OP-AGG-18 (cohort retention, [mandate]) — the classic product-
    analytics rollup: users grouped by first-activity week (their
    cohort), then for each week offset k the share of the cohort
    still active. Returns (cohort_week, week_offset, n_users,
    retention) with retention = n_users / cohort_size, 6dp.

    Plan shape: two fact-side hash aggs — min-week per user (the
    cohort assignment) and distinct (user, week) activity — joined on
    the user key, then a (cohort, offset) count-distinct; cohort
    sizes are a cohort-dim table broadcast back. Week arithmetic is
    ISO date_trunc in both engines, offsets exact integer division of
    Monday-aligned dates."""
    wk = F.to_date(F.date_trunc("week", F.col(ts_col)))
    first = events.groupBy(user_col).agg(F.min(wk).alias("cohort_week"))
    act = events.select(F.col(user_col), wk.alias("act_week")).distinct()
    per = (
        act.join(first, user_col)
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("act_week"), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct(user_col).alias("n_users"))
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("_cs")
    )
    return (
        per.join(F.broadcast(sizes), "cohort_week")
        .select(
            # plain ISO string: engines disagree on DATE column
            # physical types (date object vs datetime64) but not on
            # the ISO rendering
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            F.col("n_users").cast("long").alias("n_users"),
            F.round(F.col("n_users") / F.col("_cs"), 6).alias("retention"),
        )
    )


def mad_outlier_stats(
    df: DataFrame,
    key_col: str = "gene_id",
    value_col: str = "value",
    cutoff: float = 5.1891,
) -> DataFrame:
    """OP-AGG-16 (robust-outlier twin) — per-key median, MAD (median
    absolute deviation) and the modified-z-score outlier count:
    rows with |x - median| > cutoff * MAD, default cutoff 3.5σ̂
    (3.5 × 1.4826 written as the single literal 5.1891 so both
    engines multiply the identical constant). The robust complement
    to the reference's mean/var feature filters
    (functions/dask_pipeline.py:36-41): median/MAD survive the
    heavy-tailed expression distributions that wreck moment-based
    thresholds.

    Division-free (the compare is dev > cutoff*MAD, never dev/MAD),
    so MAD=0 keys are exact: only rows strictly above the median
    count as outliers there. Both sides of the compare are rounded
    to 6dp so engine float order can never flip a boundary row.

    Plan: two key-hash aggs of exact group percentiles
    (grouped_percentile — group size bounded by the co-dimension,
    e.g. #samples per gene) with the key-dim stats broadcast back
    onto the fact for the counting pass.
    """
    med = df.groupBy(key_col).agg(
        grouped_percentile(value_col, 0.5).alias("med")
    )
    d = df.join(F.broadcast(med), key_col).withColumn(
        "dev", F.abs(F.col(value_col) - F.col("med"))
    )
    stats = d.groupBy(key_col).agg(
        F.min("med").alias("med"),
        grouped_percentile("dev", 0.5).alias("mad"),
    )
    return (
        d.drop("med")
        .join(F.broadcast(stats), key_col)
        .groupBy(key_col, "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.round(F.col("dev"), 6)
                    > F.round(F.lit(cutoff) * F.col("mad"), 6),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            key_col,
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
    )
