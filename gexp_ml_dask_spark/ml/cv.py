"""Parallel k-fold cross-validation (SURVEY.md §2.10, OP-ML-06).

The reference builds one ``dask.delayed`` fit+score pair per fold
and evaluates all folds in a single scheduler call
(functions/dask_cv.py:41-68). The Spark analogue: a seeded fold
column on the persisted training set, then k independent Spark fit
jobs submitted concurrently from a driver thread pool — Spark's
scheduler interleaves their stages exactly like Dask interleaved the
fold tasks. MLlib's own ``CrossValidator(parallelism=k)`` is the
library twin; this module exists because the reference hand-rolls
folds (and we need per-fold scores, which CrossValidator hides).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_fold(df: DataFrame, k: int = 10, seed: int = 42) -> DataFrame:
    """Assign a fold 0..k-1 per row (KFold(shuffle=True, seed),
    functions/dask_cv.py:56-57). ``rand(seed)*k`` gives multinomial
    fold sizes (± a few rows) without any global sort — at 100 TB a
    row_number-balanced assignment would funnel through one
    partition; statistical balance is what CV needs."""
    return df.withColumn(
        "fold", (F.rand(seed) * k).cast("int").cast("long")
    )


def with_fold_hash(
    df: DataFrame, k: int = 10, key_col: str = "sample_id", seed: int = 42
) -> DataFrame:
    """Fold assignment as a pure function of the row KEY (seeded md5
    mod k) — unlike ``rand(seed)``, membership does not change with
    the physical partition layout, so folds are reproducible across
    scale factors, cluster sizes, and engines (oracle-checkable).
    Same multinomial size balance, same single narrow projection."""
    from gexp_ml_dask_spark.ml.pipeline import hash_bucket

    return df.withColumn("fold", hash_bucket(key_col, seed, k))


def cross_validate(
    folded: DataFrame,
    fit_fn,
    score_fn,
    k: int = 10,
    parallelism: int = 4,
) -> list[float]:
    """OP-ML-06 — k-fold CV with concurrently-submitted fold jobs.

    ``folded`` carries the ``fold`` column of :func:`with_fold`;
    fold ``i`` trains on the rows of every other fold and scores on
    its own. ``fit_fn(train_df) -> model``; ``score_fn(model,
    test_df) -> float``. The caller persists ``folded`` once, so every
    fold filter reads the cached partitions (the reference persists
    X_train for the same reason, dask_pipeline.py:61-74), and keeps
    it until everything else that reads it has finished.
    """

    def run_fold(i: int) -> float:
        train = folded.filter(F.col("fold") != i)
        test = folded.filter(F.col("fold") == i)
        model = fit_fn(train)
        return score_fn(model, test)

    with ThreadPoolExecutor(max_workers=parallelism) as pool:
        return list(pool.map(run_fold, range(k)))


def cv_summary(scores: list[float]) -> tuple[float, float]:
    """Fold-score summary: (mean, var) — NB the reference names the
    second value std but computes np.var (dask_pipeline.py:94);
    variance kept for parity."""
    n = len(scores)
    mean = sum(scores) / n
    var = sum((s - mean) ** 2 for s in scores) / n
    return mean, var


def with_stratified_fold(
    df: DataFrame,
    k: int = 10,
    class_col: str = "event_type",
    key_col: str = "event_id",
    seed: int = 42,
) -> DataFrame:
    """EXACT stratified k-fold assignment: within each class, rows
    are ranked by their seeded md5 (a deterministic shuffle) and
    dealt round-robin — every class splits |c|/k ± 1 across folds,
    the guarantee sklearn's StratifiedKFold gives and plain
    multinomial hashing only approximates. One window shuffle on the
    class key; membership is a pure function of (class ranks, seed),
    so it is oracle-checkable row-for-row."""
    from pyspark.sql import Window

    from gexp_ml_dask_spark.ml.pipeline import hash_bucket

    h = hash_bucket(key_col, seed, 1_000_000_000)
    w = Window.partitionBy(class_col).orderBy(h.asc(), F.col(key_col).asc())
    return df.withColumn(
        "fold", ((F.row_number().over(w) - 1) % k).cast("long")
    )
