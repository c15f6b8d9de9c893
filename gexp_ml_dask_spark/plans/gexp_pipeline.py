"""The flagship end-to-end workload: the reference's dask_pipeline
(functions/dask_pipeline.py:124-157) re-expressed Spark-first.

Stages (reference line refs inline):
  load (long form)            dask_load_data        :17-27
  UQ normalize                feature_preprocessing :30-32
  stat-threshold filter       :36-41  (Dask variant: stats computed
                              POST-normalization; the eager twin
                              disagrees — nondask_pipeline.py:25-26 —
                              SURVEY.md §3.2 picks the Dask spec)
  log2(x+1)                   :43
  assemble vectors + labels   df_to_array :48-52 (keyed join, not
                              positional chunks)
  split/encode/scale          pre_ml_processing :55-76
  k-fold CV + eval fit/score  dask_default_xgboost_pipeline :79-104

Persist points. The reference persists its sample matrix once and
reuses it (dask_pipeline.py:61-74, SURVEY.md §4); Spark re-runs a
lazy plan for every action, so the port fixes two points:

- The labeled per-sample table (vectors joined to labels) is built
  ONCE by :func:`labeled_samples`, an eager local checkpoint, and it
  is the only reader of the preprocess -> assemble lineage: the dense
  assemble needs no gene-dim collect, so that lineage runs once,
  inside the checkpoint, and the filtered long table is not
  persisted. Label encoding, the split, the scaler fit, the train
  persist and the eval scoring all read the checkpoint, and every
  read of the split (the scaler fit, the cached train set) sees the
  same rows. The UQ step's own persists (the zero-gene-filtered
  table and the symmetrized factors) are released as soon as the
  checkpoint exists.
- The scaled train set is persisted eagerly ONCE, with its CV fold
  column (:func:`~gexp_ml_dask_spark.ml.cv.with_fold`): the k fold
  fits filter it, and the eval fit reads it whole (the model uses
  only its features and label columns). The eval fit runs on its own
  thread beside the fold fits, and the set is released once both the
  eval fit and the folds have finished, before the eval score. The
  test set is scored once and is not persisted.

Nothing the pipeline persists outlives the call.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gexp_ml_dask_spark.ml.cv import cross_validate, cv_summary, with_fold
from gexp_ml_dask_spark.ml.metrics import accuracy, r2_score
from gexp_ml_dask_spark.ml.models import make_classifier, make_regressor
from gexp_ml_dask_spark.ml.normalization import upper_quartile_transform
from gexp_ml_dask_spark.ml.pipeline import (
    assemble_vectors,
    encode_labels,
    fit_standard_scaler,
    train_test_split,
)
from gexp_ml_dask_spark.operators.filters import stat_threshold_filter
from gexp_ml_dask_spark.operators.physical import persist_df, unpersist_df
from gexp_ml_dask_spark.operators.scalars import log2_plus_one


def feature_preprocessing(
    gexp: DataFrame, persisted: list[DataFrame] | None = None
) -> DataFrame:
    """UQ normalize -> mean/var quantile threshold -> log2(x+1)
    (functions/dask_pipeline.py:30-45), one lazy long-form plan.

    The UQ step persists two frames the plan reads; a ``persisted``
    list receives them (see :func:`~gexp_ml_dask_spark.ml.
    normalization.upper_quartile_transform`) so the caller can
    release them once the plan has been materialized."""
    normalized = upper_quartile_transform(gexp, persisted=persisted)
    filtered = stat_threshold_filter(normalized, q=0.25)
    return log2_plus_one(filtered, "value")


def labeled_samples(preprocessed: DataFrame, labels: DataFrame) -> DataFrame:
    """The labeled per-sample table: one feature vector per sample
    joined to its label, materialized once as a local checkpoint.

    A checkpoint, not a persist: ``randomSplit`` membership depends
    on the partition layout (see :func:`~gexp_ml_dask_spark.ml.
    pipeline.train_test_split`). The checkpoint runs the plan as an
    ordinary query and keeps the layout AQE gave it, so a seeded
    split selects the same rows as a split of the lazy plan; a
    persisted shuffle output keeps its un-coalesced width and splits
    differently. ``unpersist`` does not release the checkpoint's
    blocks: Spark's ContextCleaner frees them once the returned
    DataFrame is garbage-collected."""
    vectors = assemble_vectors(preprocessed)
    return vectors.join(F.broadcast(labels), "sample_id").localCheckpoint(eager=True)


def gexp_pipeline(
    gexp: DataFrame,
    labels: DataFrame,
    task: str = "classification",
    k_folds: int = 10,
    seed: int = 42,
    cv_parallelism: int = 4,
    fit_partitions: int | None = None,
) -> tuple[float, float, float]:
    """Full pipeline -> (mean_cv_score, var_cv_score, eval_score),
    the reference's return contract (dask_pipeline.py:157).

    ``labels``: (sample_id, label) with STRING labels for
    classification, DOUBLE for regression.

    ``fit_partitions``: repartition the scaled train set, the fit
    input, to this many partitions before model fitting (the test
    set is scored once and keeps the labeled table's layout; an
    accuracy does not depend on it, an r² only in its last digits,
    through the order of its sums). The assembled-vector table has
    one row per SAMPLE — thousands of rows, not billions —
    while the upstream long-form shuffles run at full width; leaving
    the fit input at shuffle-partition width makes every MLlib
    tree-iteration job pay ~32 near-empty tasks × dozens of jobs ×
    k folds of pure scheduler dispatch (measured at the reference's
    n=1205 x f=500 grid cell on sf0.1: whole pipeline 201 s ->
    43.6 s with 8 right-sized partitions + parallelism 10; the CV10
    phase alone was 73.5 s at 32-wide). The reference's own
    `repartition(partition_size='64MB')` (dask_pipeline.py:41) is
    the same lever.
    """
    task = task.lower()
    if task not in ("classification", "regression"):
        raise ValueError("Invalid ML task!")

    uq_persisted: list[DataFrame] = []
    try:
        preprocessed = feature_preprocessing(gexp, persisted=uq_persisted)
        data = labeled_samples(preprocessed, labels)
    finally:
        for df in uq_persisted:
            unpersist_df(df)

    if task == "classification":
        data, _ = encode_labels(data, "label", "label_idx")
        label_col = "label_idx"
    else:
        data = data.withColumn("label", F.col("label").cast("double"))
        label_col = "label"

    train, test = train_test_split(data, test_size=0.3, seed=seed)

    try:
        scaler = fit_standard_scaler(train, "features", "features_scaled")
    except Exception as exc:
        # MLlib's Summarizer raises a bare "Nothing has been added to
        # this summarizer" IllegalArgumentException when the training
        # set is empty. The one way a non-empty gexp input gets here
        # is the UQ degenerate case: a matrix >75% zeros makes every
        # per-sample upper quartile 0, symmetrize_factors maps the 0
        # factor to scaling_factor 0, every value scales to 0, and the
        # stat-threshold filter then keeps 0 genes. Diagnose on the
        # error path only — the happy path pays no extra action.
        if train.isEmpty():
            n_genes = (
                preprocessed.select("gene_id").distinct().count()
            )
            raise ValueError(
                "gexp_pipeline: training set is empty after "
                f"preprocessing ({n_genes} genes survived the "
                "stat-threshold filter). With 0 surviving genes the "
                "usual cause is a sparse matrix (>75% zeros): every "
                "per-sample upper quartile is then 0, UQ scales all "
                "values to 0, and the mean/variance filter drops "
                "everything. The UQ contract needs >25% nonzero "
                "values per sample — densify or pre-filter the input."
            ) from exc
        raise
    train, test = scaler.transform(train), scaler.transform(test)
    if fit_partitions:
        train = train.repartition(fit_partitions)
    train = persist_df(with_fold(train, k_folds, seed), eager=True)

    if task == "classification":
        make_model = lambda: make_classifier("features_scaled", label_col, seed)  # noqa: E731
        score = lambda m, df: accuracy(  # noqa: E731
            m.transform(df), label_col, "prediction"
        )
    else:
        make_model = lambda: make_regressor("features_scaled", label_col, seed)  # noqa: E731
        score = lambda m, df: r2_score(  # noqa: E731
            m.transform(df), label_col, "prediction"
        )

    def fit(df: DataFrame):
        # copy() drops the training summary. A binary random-forest
        # summary holds the SparkSession, which the scoring UDF then
        # ships to every task, and once the session has run an
        # observe() its ObservationManager makes that fail with "Task
        # not serializable".
        return make_model().fit(df).copy()

    try:
        # Leaving the with block waits for the eval fit, also when a
        # fold raises, so the unpersist never races a running fit.
        with ThreadPoolExecutor(max_workers=1) as pool:
            eval_fit = pool.submit(fit, train)
            cv_scores = cross_validate(
                train,
                fit_fn=fit,
                score_fn=score,
                k=k_folds,
                parallelism=cv_parallelism,
            )
            eval_model = eval_fit.result()
    finally:
        unpersist_df(train)
    mean_cv, var_cv = cv_summary(cv_scores)
    return mean_cv, var_cv, score(eval_model, test)
