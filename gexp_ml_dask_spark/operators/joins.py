"""Join operators (SURVEY.md §2.3, OP-JOIN-01..03).

The reference has NO keyed joins — all alignment is positional
(matching Dask partition divisions, cluster_default_benchmark.py:83).
The engine replaces every positional alignment with an explicit
equi-join on ``sample_id``; the small side (per-sample factors,
labels, mappings) is always broadcast, so the fact table is never
shuffled for these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scale_rows(
    gexp: DataFrame,
    factors: DataFrame,
    sample_col: str = "sample_id",
    value_col: str = "value",
    factor_col: str = "scaling_factor",
) -> DataFrame:
    """OP-JOIN-01 — the "scaling join": per-row factor applied across
    all of a sample's values (``X.mul(scaling_factor, axis=0)``,
    feature_selection_and_normalization.py:31,58,115). Inner
    equi-join with NO static broadcast hint: |factors| = n samples,
    which scales with the data — forcing a broadcast measured 3.5x
    slower than a shuffle join once factors hit 1.5M rows. AQE sees
    the factor agg's real shuffle size at runtime and picks
    broadcast-hash only when the side is actually small."""
    return (
        gexp.join(factors.select(sample_col, factor_col), sample_col, "inner")
        .withColumn(value_col, F.col(value_col) * F.col(factor_col))
        .drop(factor_col)
    )


def align_features_labels(
    features: DataFrame,
    labels: DataFrame,
    sample_col: str = "sample_id",
) -> DataFrame:
    """OP-JOIN-03 — feature<->label alignment. The reference zips by
    partition divisions (functions/dask_pipeline.py:48-52); the
    engine joins by key. Labels are one row per sample — broadcast."""
    return features.join(F.broadcast(labels), sample_col, "inner")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe fact⋈dim equi-join by key salting — the manual
    fallback when a hot key overwhelms even AQE's skew-join splitting
    (AQE splits post-shuffle partitions; salting additionally spreads
    a single hot key's BUILD side).

    Fact rows get a random salt in [0, salt); the dim side is
    replicated ``salt`` ways (explode of a literal range — dim-sized
    sides only). The join key becomes (key, salt), so one hot key
    lands in ``salt`` tasks instead of one. Row-identical to the
    plain join for inner/left joins on unique dim keys.

    When to salt (measured by the skew A/B tool that commit c406849
    is the last to hold, BASELINE.md "planted-Zipf skew join": 50M
    rows / one key owning 20% / 10k-key long tail / broadcast
    disabled, min-of-3):

    ==================  ======  =============================
    strategy            wall s  note
    ==================  ======  =============================
    plain, no AQE        5.03   hot key = one straggler task
    plain, AQE default   4.54   NO-OP: hot partition ~160 MB
                                < 256 MB skew threshold
    plain, AQE tuned     2.01   16m threshold/4x factor — the
                                split fires and WINS
    salted(16), no AQE   3.22   1.6x over plain
    salted(16), AQE      3.14
    ==================  ======  =============================

    Threshold rule: prefer AQE's skew split whenever it can fire —
    it splits only the oversized partition and beats salting
    (measured 2.5–2.7× over plain at BOTH 50M and 200M rows vs
    salting's 1.5–1.6×; BASELINE.md round-5 A/B). But "fires" means
    the hot partition's COMPRESSED map-output bytes exceed
    ``spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes``
    (default 256m) and factor × median: at 200M rows the 640
    MB-uncompressed hot partition still did NOT trip the default
    (narrow rows compress ~3×) — the default bar is much higher
    than it looks, so tune it down (16–64m) on skewed workloads.
    Salt when AQE cannot fire: the (wide) sub-threshold band that
    still straggles, hot keys on the AGGREGATION side of a groupBy,
    or plans AQE bypasses (pre-sorted/bucketed inputs).
    """
    salted_fact = fact.withColumn(
        "_salt", (F.rand(seed=42) * salt).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = salted_fact.join(salted_dim, [key, "_salt"], how)
    return out.drop("_salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    tiebreak: str = "event_id",
    right_cols: list[str] | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of join `[mandate]` (OP-JOIN-04): for every left
    row, attach the ``right_cols`` of the most recent right row with
    the same ``on`` key and ``right.ts <= left.ts`` (ties on ts
    broken by the larger ``tiebreak``, which must exist in both
    frames). The reference has no as-of semantics; this is the
    time-series lookup a training-data pipeline needs (label/event
    attribution).

    Spark plan: tag the two inputs, union them, and run ONE window
    (`partitionBy(on).orderBy(ts, side, tiebreak)` rows-unbounded-
    preceding) with ``last(col, ignorenulls=True)`` — a single
    shuffle on the key, sorted within partitions, no range
    cross-product. At 100 TB this is the sort-merge plan you would
    hand-write; skew is per-key and AQE-splittable.
    """
    right_cols = right_cols or [
        c for c in right.columns if c not in {on, ts_col, tiebreak}
    ]
    l_payload = [c for c in left.columns if c not in {on, ts_col, tiebreak}]
    tagged_r = [f"_r_{c}" for c in right_cols]

    lsel = (
        [F.col(on), F.col(ts_col), F.col(tiebreak), F.lit(1).alias("_side")]
        + [F.col(c) for c in l_payload]
        + [
            F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}")
            for c in right_cols
        ]
    )
    rsel = (
        [F.col(on), F.col(ts_col), F.col(tiebreak), F.lit(0).alias("_side")]
        + [
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in l_payload
        ]
        + [F.col(c).alias(f"_r_{c}") for c in right_cols]
    )
    u = left.select(*lsel).unionByName(right.select(*rsel))
    w = (
        Window.partitionBy(on)
        .orderBy(ts_col, "_side", tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in right_cols:
        u = u.withColumn(
            f"{prefix}{c}", F.last(f"_r_{c}", ignorenulls=True).over(w)
        )
    return u.filter(F.col("_side") == 1).drop("_side", *tagged_r)


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    band_seconds: float,
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Range join `[mandate]` (OP-JOIN-05): pairs with the same key
    where ``left_ts - band <= right_ts < left_ts``, WITHOUT a
    per-key cross-product. Both sides are bucketed by
    ``floor(epoch/band)``; a window of length ``band`` spans at most
    two buckets, so the left side probes its bucket and the previous
    one (2x explode of the PROBE side only). Catalyst plans a hash
    equi-join on (key, bucket) with the band predicate as a residual
    filter — no BroadcastNestedLoopJoin, shuffle bounded by 2x left.

    Right columns are prefixed ``r_`` to avoid collisions.
    """
    lsec = F.col(left_ts).cast("double")
    rsec = F.col(right_ts).cast("double")
    lb = F.floor(lsec / band_seconds).cast("long")
    lhs = left.withColumn("_cand", F.explode(F.array(lb - 1, lb)))
    rhs = right.select(
        F.col(on), *[F.col(c).alias(f"r_{c}") for c in right.columns if c != on]
    ).withColumn(
        "_cand",
        F.floor(F.col(f"r_{right_ts}").cast("double") / band_seconds).cast(
            "long"
        ),
    )
    r_ts_sec = F.col(f"r_{right_ts}").cast("double")
    return (
        lhs.join(rhs, [on, "_cand"], "inner")
        .filter((r_ts_sec >= lsec - band_seconds) & (r_ts_sec < lsec))
        .drop("_cand")
    )


def map_column(
    df: DataFrame,
    mapping: DataFrame,
    col: str,
    key_col: str = "key",
    value_col: str = "value",
    keep_unmapped: bool = True,
) -> DataFrame:
    """OP-SCL-06 — dict-map a column (``Series.map(dict)``,
    brca_data_prep.ipynb cell-6) as a broadcast left join + coalesce.
    ``keep_unmapped=False`` mirrors pandas' NaN for missing keys."""
    m = mapping.select(
        F.col(key_col).alias("_k"), F.col(value_col).alias("_v")
    )
    out = df.join(F.broadcast(m), df[col] == F.col("_k"), "left")
    mapped = (
        F.coalesce(F.col("_v"), F.col(col)) if keep_unmapped else F.col("_v")
    )
    return out.withColumn(col, mapped).drop("_k", "_v")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    max_distance: int = 2,
    id_col: str = "p_partkey",
) -> DataFrame:
    """OP-JOIN-07 `[mandate]` — approximate string join: pairs whose
    ``text_col`` values are within ``max_distance`` Levenshtein
    edits. Classic entity-resolution kernel.

    ``left`` and ``right`` are treated as the same table (a dedup
    self-join): each unordered pair is kept once, as ``id_a < id_b``.

    Never an all-pairs cross join: candidates are generated by a
    hash equi-join on a BLOCKING key (the first token of the
    string) plus a length-difference prefilter — |a.len - b.len| >
    d implies distance > d, so the cheap codegen filter runs before
    the O(len^2) edit-distance kernel. At 100 TB the blocking key is
    the scalability contract (refine it — first token + length
    bucket, or an LSH band — until the largest block's pair count is
    task-sized); the Levenshtein verify itself is JVM codegen.
    """
    from gexp_ml_dask_spark.operators.physical import fan_out

    blk = F.split(F.col(text_col), " ").getItem(0).alias("_blk")
    # Widen the probe side to cluster parallelism BEFORE the join:
    # the build side is dim-sized and broadcasts, so the verify
    # stage (candidate fanout x Levenshtein) inherits the probe
    # scan's partitioning — a 1-row-group input would run every
    # edit-distance evaluation on one core (measured 21.9 s -> ~2 s
    # at sf0.1, 24M candidates, local[32]). fan_out is a guarded
    # no-op once the scan already has enough splits.
    a = fan_out(left).select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("_ta"),
        blk,
        F.length(text_col).alias("_la"),
    )
    b = right.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("_tb"),
        blk,
        F.length(text_col).alias("_lb"),
    )
    cand = a.join(b, "_blk").filter(
        (F.abs(F.col("_la") - F.col("_lb")) <= max_distance)
        & (F.col("id_a") < F.col("id_b"))
    )
    return (
        cand.withColumn(
            "edit_distance",
            F.levenshtein(F.col("_ta"), F.col("_tb")).cast("long"),
        )
        .filter(F.col("edit_distance") <= max_distance)
        .select("id_a", "id_b", "edit_distance")
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Snapshot diff: classify every key as added / removed /
    changed between two table versions (rows equal on all
    ``compare_cols`` are dropped). One full-outer hash join on the
    key; the comparison is a codegen conjunction with null-safe
    equality (``eqNullSafe``), so NULL -> value transitions count as
    changes. The data-ops primitive behind incremental validation
    and CDC backfills.
    """
    # Explicit presence markers — a present row whose compare cols
    # are all NULL must still count as present.
    o = old.select(
        F.col(key_col),
        F.lit(True).alias("_old_present"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        F.col(key_col),
        F.lit(True).alias("_new_present"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    j = o.join(n, key_col, "full_outer")
    all_equal = None
    for c in compare_cols:
        eq = F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        all_equal = eq if all_equal is None else all_equal & eq
    status = (
        F.when(F.col("_old_present").isNull(), F.lit("added"))
        .when(F.col("_new_present").isNull(), F.lit("removed"))
        .when(~all_equal, F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status") != "same")
        .select(
            key_col,
            "status",
            *[f"old_{c}" for c in compare_cols],
            *[f"new_{c}" for c in compare_cols],
        )
    )
