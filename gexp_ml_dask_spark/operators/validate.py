"""Declarative data-quality constraints (SURVEY.md §2.4 family,
[mandate]) — the Deequ/Great-Expectations-shaped validation gate a
production pipeline runs before training: assert schema-level facts
(nullability, ranges, accepted values, key uniqueness, referential
integrity) and get back one small report row per check.

Scale shape: every check reduces to either a conditional aggregate
over one scan (null/range/set checks share a single pass via one
combined aggregate), a keyed count for uniqueness, or a left-anti
probe for referential integrity — no check ever materializes
violating ROWS (counts only), so the report is constant-sized
however large the fact table. Violation samples are a separate
explicit call in real deployments; here the count contract is what
the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gexp_ml_dask_spark.operators.physical import local_table


def _report_row(name: str, viol: Column) -> list[Column]:
    return [
        F.lit(name).alias("check"),
        viol.cast("long").alias("n_violations"),
        (viol == 0).alias("passed"),
    ]


def constraint_report(
    df: DataFrame,
    not_null: list[str] = (),
    non_negative: list[str] = (),
    ranges: dict[str, tuple[float, float]] | None = None,
    accepted: dict[str, list[str]] | None = None,
    unique: list[list[str]] | None = None,
    foreign_keys: list[tuple[list[str], DataFrame, list[str]]] | None = None,
) -> DataFrame:
    """Run the declared constraints and return one row per check:
    (check, n_violations, passed).

    * ``not_null`` / ``non_negative`` / ``ranges`` / ``accepted``:
      row-level predicates — ALL of them fold into ONE conditional
      aggregate over ONE scan of ``df``. NULL is a violation for
      every value-shaped check (``non_negative`` / ``ranges`` /
      ``accepted``): a NULL price is not evidence of a non-negative
      price.
    * ``unique``: per key-tuple, rows beyond the first are
      violations (duplicate mass, counted via one keyed agg).
    * ``foreign_keys``: (child_cols, parent_df, parent_cols) —
      child rows with no parent, one left-anti hash join each.
      Null child keys are orphans by this definition (the anti-join
      never matches them); the SQL twin states that explicitly —
      bare NOT IN would silently skip them via three-valued logic.

    The report unions constant-sized 1-row aggregates; Catalyst runs
    the row-level block as a single pass with map-side partials.
    """
    ranges = ranges or {}
    accepted = accepted or {}
    unique = unique or []
    foreign_keys = foreign_keys or []
    if not any(
        [not_null, non_negative, ranges, accepted, unique, foreign_keys]
    ):
        raise ValueError("constraint_report: no checks declared")

    agg_cols = []
    names = []
    for c in not_null:
        names.append(f"not_null({c})")
        agg_cols.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)))
    for c in non_negative:
        names.append(f"non_negative({c})")
        # NULL counts as a violation, consistently with ranges and
        # accepted_values (otherwise `NULL < 0 IS NULL -> otherwise(0)`
        # would read a table of NULL prices as fully non-negative)
        agg_cols.append(
            F.sum(F.when(F.col(c).isNull() | (F.col(c) < 0), 1).otherwise(0))
        )
    for c, (lo, hi) in sorted(ranges.items()):
        names.append(f"range({c},[{lo},{hi}])")
        agg_cols.append(
            F.sum(
                F.when(
                    F.col(c).isNull()
                    | (F.col(c) < lo)
                    | (F.col(c) > hi),
                    1,
                ).otherwise(0)
            )
        )
    for c, vals in sorted(accepted.items()):
        names.append(f"accepted_values({c})")
        agg_cols.append(
            F.sum(
                F.when(
                    F.col(c).isNull() | ~F.col(c).isin(list(vals)), 1
                ).otherwise(0)
            )
        )

    report = None
    if agg_cols:
        one_pass = df.agg(
            *[a.alias(f"_v{i}") for i, a in enumerate(agg_cols)]
        )
        for i, name in enumerate(names):
            row = one_pass.select(
                *_report_row(name, F.coalesce(F.col(f"_v{i}"), F.lit(0)))
            )
            report = row if report is None else report.unionByName(row)

    for cols in unique:
        dup_mass = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(
                F.coalesce(
                    F.sum(F.col("_n") - 1), F.lit(0)
                ).alias("_v")
            )
        )
        row = dup_mass.select(
            *_report_row("unique(" + ",".join(cols) + ")", F.col("_v"))
        )
        report = row if report is None else report.unionByName(row)

    for child_cols, parent, parent_cols in foreign_keys:
        orphans = (
            df.select(*child_cols)
            .join(
                parent.select(
                    *[
                        F.col(p).alias(c)
                        for c, p in zip(child_cols, parent_cols)
                    ]
                ).distinct(),
                list(child_cols),
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("_v"))
        )
        row = orphans.select(
            *_report_row(
                "foreign_key(" + ",".join(child_cols) + ")", F.col("_v")
            )
        )
        report = row if report is None else report.unionByName(row)

    return report


def psi_drift(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    n_bins: int = 10,
    bin_width: float = 50.0,
    clamp: float = 1e-6,
) -> DataFrame:
    """OP-AGG-19 (distribution-drift gate) — Population Stability
    Index of ``value_col`` per ``key_col`` between the first and
    second half of the time range (expected vs actual period):
    psi = Σ_bins (p_b - p_a) · ln(p_b / p_a). The standard
    is-this-feature-drifting pre-flight before a model refresh
    (psi < 0.1 stable, > 0.25 drifted).

    Plan: the epoch midpoint is a 2-scalar estimator-fit collect
    planted as a literal; ONE conditional hash agg over the fact
    builds both periods' histograms (fixed equal-width bins, clamped
    floor — op_agg_13_histogram's binning); the key×bin grid comes
    from a row-local sequence explode (never a cross join); and the
    PSI fold runs over the grid-sized table. Proportions clamp at
    ``clamp`` so empty bins stay defined (a bin empty on BOTH sides
    contributes exactly 0).

    Returns (key_col, n_before BIGINT, n_after BIGINT, psi@6dp).

    Finite-values contract (round-7 edge sweep): NULL / NaN / ±inf
    values carry no bin — they are excluded from both periods'
    histograms (engines disagree on where greatest/least/floor land
    non-finite inputs, so any other choice is engine-dependent).
    """
    v = F.col(value_col)
    df = df.filter(
        v.isNotNull() & ~F.isnan(v) & (F.abs(v) < F.lit(float("inf")))
    )
    ev = df.select(
        key_col,
        F.col(ts_col).cast("double").alias("ep"),
        F.least(
            F.greatest(F.floor(F.col(value_col) / bin_width), F.lit(0)),
            F.lit(n_bins - 1),
        )
        .cast("long")
        .alias("bin"),
    )
    lo, hi = ev.agg(F.min("ep"), F.max("ep")).first()
    if lo is None or hi is None:
        # Empty input (or all-NULL timestamps): no epochs to split —
        # return the empty result with the contract schema instead of
        # raising TypeError on (None + None) / 2.
        key_type = dict(ev.dtypes)[key_col]
        return local_table(
            ev.sparkSession,
            [],
            f"{key_col} {key_type}, n_before bigint, n_after bigint, psi double",
        )
    mid = (lo + hi) / 2.0
    c = ev.groupBy(key_col, "bin").agg(
        F.sum(F.when(F.col("ep") < mid, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("ep") >= mid, 1).otherwise(0)).alias("n_b"),
    )
    grid = (
        ev.select(key_col)
        .distinct()
        .select(
            key_col,
            F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
        )
        .withColumn("bin", F.col("bin").cast("long"))
    )
    f = grid.join(c, [key_col, "bin"], "left").select(
        key_col,
        "bin",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    t = f.groupBy(key_col).agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    pa = F.greatest(
        F.coalesce(F.try_divide(F.col("n_a"), F.col("ta")), F.lit(0.0)),
        F.lit(clamp),
    )
    pb = F.greatest(
        F.coalesce(F.try_divide(F.col("n_b"), F.col("tb")), F.lit(0.0)),
        F.lit(clamp),
    )
    return (
        f.join(F.broadcast(t), key_col)
        .groupBy(key_col, "ta", "tb")
        .agg(F.round(F.sum((pb - pa) * F.log(pb / pa)), 6).alias("psi"))
        .select(
            key_col,
            F.col("ta").cast("long").alias("n_before"),
            F.col("tb").cast("long").alias("n_after"),
            "psi",
        )
    )
