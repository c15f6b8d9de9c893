"""Model wrappers (SURVEY.md §2.10, OP-ML-07/08/09).

The reference trains XGBoost (functions/dask_pipeline.py:79-104) and
LightGBM (cluster_default_benchmark.py:137-143). Both map onto MLlib
here: RandomForest for multiclass classification (MLlib's
GBTClassifier is binary-only), GBTRegressor for regression, and
OneVsRest over GBTClassifier for the LightGBM variant.
``CLASSIFIER_ENGINE`` and ``LIGHTGBM_ENGINE`` are the provenance
literals OP-ML-07/08 stamp on their outputs.
"""

from __future__ import annotations

CLASSIFIER_ENGINE = "mllib.random_forest"
LIGHTGBM_ENGINE = "mllib.onevsrest_gbt"


def make_classifier(
    features_col: str = "features",
    label_col: str = "label_idx",
    seed: int = 42,
):
    """OP-ML-07 (classification): the XGBClassifier twin, MLlib's
    RandomForest (multiclass-capable, GBDT-family)."""
    from pyspark.ml.classification import RandomForestClassifier

    return RandomForestClassifier(
        featuresCol=features_col, labelCol=label_col, seed=seed, numTrees=50
    )


def make_regressor(
    features_col: str = "features",
    label_col: str = "label",
    seed: int = 42,
):
    """OP-ML-07 (regression): the XGBRegressor twin, MLlib's
    GBTRegressor."""
    from pyspark.ml.regression import GBTRegressor

    return GBTRegressor(featuresCol=features_col, labelCol=label_col, seed=seed)


def make_lightgbm_classifier(
    features_col: str = "features",
    label_col: str = "label_idx",
    seed: int = 42,
    max_iter: int = 10,
):
    """OP-ML-08 — LightGBM variant (`cluster_default_benchmark.py:
    137-143,210-216` DaskLGBMClassifier/LGBMClassifier): OneVsRest
    over MLlib's binary GBTClassifier — a true gradient-boosted-tree
    multiclass path, unlike the RandomForest stand-in used for
    OP-ML-07."""
    from pyspark.ml.classification import GBTClassifier, OneVsRest

    gbt = GBTClassifier(
        featuresCol=features_col,
        labelCol=label_col,
        seed=seed,
        maxIter=max_iter,
    )
    return OneVsRest(classifier=gbt, featuresCol=features_col, labelCol=label_col)


def make_hpo_classifier(
    features_col: str = "features",
    label_col: str = "label_idx",
    n_folds: int = 2,
    parallelism: int = 4,
    seed: int = 42,
    n_iter: int = 20,
):
    """OP-ML-09 — linear-model HPO with honest RandomizedSearchCV
    semantics: the reference samples ``n_iter=100`` points from
    CONTINUOUS distributions (functions/dask_pipeline.py:107-120 —
    RandomizedSearchCV over SGDClassifier alpha/l1_ratio), not a
    fixed grid. Here ``n_iter`` (default 20, the container-budget
    scaling of the reference's 100) points are drawn from a seeded
    log-uniform over regParam ∈ [1e-4, 1e1] and a seeded uniform
    over elasticNetParam ∈ [0, 1] — sampling happens driver-side
    with ``random.Random(seed)``, so the search is reproducible
    bit-for-bit, then the sampled points run as a ParamGrid under
    CrossValidator(numFolds, parallelism): MLlib evaluates the
    sampled params concurrently the way dask_ml did."""
    import math
    import random

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator

    lr = LogisticRegression(featuresCol=features_col, labelCol=label_col)
    rng = random.Random(seed)
    lo, hi = math.log(1e-4), math.log(1e1)
    # a ParamGrid IS a list of {Param: value} maps — build the
    # sampled points directly instead of a cartesian GridBuilder
    grid = [
        {
            lr.regParam: math.exp(rng.uniform(lo, hi)),
            lr.elasticNetParam: rng.uniform(0.0, 1.0),
        }
        for _ in range(n_iter)
    ]
    evaluator = MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="accuracy"
    )
    return CrossValidator(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=n_folds,
        parallelism=parallelism,
        seed=seed,
    )
