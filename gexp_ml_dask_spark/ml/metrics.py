"""Scoring metrics (SURVEY.md §2.10, OP-ML-10).

Pure-SQL implementations (usable as oracle checks) plus MLlib
evaluator wrappers for Vector-based pipelines. The two isotonic
calibrators run the one PAVA fit,
:func:`gexp_ml_dask_spark.worker.isotonic_fit`, inside their
``applyInPandas`` closures; cloudpickle ships it to the workers by
value (README design rule 12).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gexp_ml_dask_spark.worker import isotonic_fit


def accuracy_df(pred: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> DataFrame:
    """accuracy = mean(pred == label) (dask_ml accuracy_score,
    functions/dask_pipeline.py:100). 1-row DataFrame."""
    return pred.agg(
        F.avg((F.col(pred_col) == F.col(label_col)).cast("double")).alias("accuracy")
    )


def r2_score_df(pred: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> DataFrame:
    """r² = 1 - SSE/SST (dask_ml r2_score, functions/
    dask_pipeline.py:102). Single aggregate pass: SSE and the pieces
    of SST (sum, sum of squares, count) in one shuffle, no second
    scan for the label mean."""
    y = F.col(label_col)
    yhat = F.col(pred_col)
    stats = pred.agg(
        F.sum((y - yhat) * (y - yhat)).alias("sse"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.count(F.lit(1)).alias("n"),
    )
    sst = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return stats.select(
        (F.lit(1.0) - F.try_divide(F.col("sse"), sst)).alias("r2")
    )


def accuracy(pred: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> float:
    return accuracy_df(pred, label_col, pred_col).collect()[0]["accuracy"]


def r2_score(pred: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> float:
    return r2_score_df(pred, label_col, pred_col).collect()[0]["r2"]


def isotonic_calibrate(
    scored: DataFrame,
    group_col: str = "model",
    score_col: str = "score",
    label_col: str = "y",
    id_col: str = "sample_id",
) -> DataFrame:
    """OP-ML-10 (isotonic calibration) — per-group pool-adjacent-
    violators regression of binary labels on scores: the standard
    probability-calibration step after model scoring (the monotone
    big sibling of the binned calibration query). PAVA is inherently
    SEQUENTIAL per group — the textbook case for
    ``groupBy().applyInPandas`` (a whole group in one pandas frame),
    the one Pandas-UDF surface nothing else in the engine needed.

    Determinism contract: rows are ordered by (score, id); block
    POOLING decisions compare integer cross-products
    (s1*c2 > s2*c1), never floats, so the block structure is exact;
    only the final fitted value rounds (6dp). The DuckDB oracle
    computes the identical fit by a DIFFERENT algorithm entirely —
    the minimax characterization fit(i) = max_{j<=i} min_{k>=i}
    avg(y[j..k]) as two window passes over the pair table — so the
    value-oracle match is an algebraic-theorem check, not an
    implementation echo.

    Scale: state is one group per pandas frame (Arrow-batched);
    groups are model-sized. A single astronomically large group
    would need the O(n) streaming PAVA over mapInPandas with carry —
    not needed while calibration sets fit a task (they do: they are
    eval-set-sized)."""
    schema = (
        f"{id_col} long, {group_col} long, {score_col} double, "
        f"{label_col} long, calibrated double"
    )

    def fit(pdf):
        pdf = pdf.sort_values([score_col, id_col]).reset_index(drop=True)
        pdf["calibrated"] = isotonic_fit(pdf[label_col].to_numpy())
        return pdf[[id_col, group_col, score_col, label_col, "calibrated"]]

    return scored.groupBy(group_col).applyInPandas(fit, schema)


def isotonic_fit_apply(
    train: DataFrame,
    serve: DataFrame,
    group_col: str = "model",
    score_col: str = "score",
    label_col: str = "y",
    id_col: str = "sample_id",
) -> DataFrame:
    """OP-ML-10 (isotonic TRAIN/SERVE split) — fit the PAVA
    calibrator on a labeled train split and apply it as a step
    function to an unlabeled serve split, per group, in ONE
    cogrouped pass: ``train.groupBy(g).cogroup(serve.groupBy(g))
    .applyInPandas`` (both sides of a key arrive in the same pandas
    call — the API surface for fit-here/apply-there patterns that
    plain applyInPandas can't express without a join-and-carry).

    Step-function contract (deterministic, engine-replayable):
    the fitted value at serve score x is the fit of the LAST train
    row (in (score, id) order) with score <= x; scores below the
    train minimum clamp to the leftmost fit; groups with no train
    rows yield NULL. The DuckDB oracle replays this with a
    completely different mechanism — the minimax-characterization
    fit reduced to one step row per distinct score, then an ASOF
    JOIN — so the match is again a theorem-plus-contract check.

    Returns (id, group, score, calibrated)."""
    out_cols = [id_col, group_col, score_col, "calibrated"]
    schema = (
        f"{id_col} long, {group_col} long, {score_col} double, "
        "calibrated double"
    )

    def fn(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if rpdf.empty:
            return pd.DataFrame({c: [] for c in out_cols})
        out = rpdf[[id_col, group_col, score_col]].copy()
        if lpdf.empty:
            # SQL NULL, not NaN: a nullable Float64 with a null mask
            # surfaces as NULL through Arrow, matching the docstring
            # contract and the DuckDB ASOF oracle's no-train-rows row
            out["calibrated"] = pd.array([None] * len(out), dtype="Float64")
            return out[out_cols]
        l = lpdf.sort_values([score_col, id_col]).reset_index(drop=True)
        l["fit"] = isotonic_fit(l[label_col].to_numpy())
        step = l.groupby(score_col, as_index=False).last()
        ts = step[score_col].to_numpy()
        tf = step["fit"].to_numpy()
        idx = np.searchsorted(ts, out[score_col].to_numpy(), side="right") - 1
        out["calibrated"] = np.where(idx >= 0, tf[np.clip(idx, 0, None)], tf[0])
        return out[out_cols]

    return (
        train.groupBy(group_col)
        .cogroup(serve.groupBy(group_col))
        .applyInPandas(fn, schema)
    )
