"""Model wrappers (SURVEY.md §2.10, OP-ML-07/08/09).

The reference trains XGBoost (functions/dask_pipeline.py:79-104) and
LightGBM (cluster_default_benchmark.py:137-143). Both map onto MLlib
here: RandomForest for multiclass classification (MLlib's
GBTClassifier is binary-only), GBTRegressor for regression, and
OneVsRest over GBTClassifier for the LightGBM variant.
``CLASSIFIER_ENGINE`` and ``LIGHTGBM_ENGINE`` are the provenance
literals OP-ML-07/08 stamp on their outputs.

The three tree-ensemble factories return their PySpark estimator
with one change: the fitted model reads ``trees`` afresh on each
access (:func:`_plain_trees`). PySpark 4 declares ``trees`` a
``functools.cached_property``, and every ``JavaModel.__init__`` lists
``Params.params`` by reading each attribute of ``dir(self)`` that is
not a plain ``property``; a ``cached_property`` is not one. So every
fit built a Python ``DecisionTree*Model`` (each with
``_create_params_from_java``) for every tree, whether or not anyone
asked for the trees. Measured on a warm 50-tree forest fit (140 rows
x 100 features, ``local[4]``, 4-vCPU VM): 51 ``JavaModel`` inits and
3.3k-5.5k Py4J commands per fit, against 1 and ~360 with plain
``trees``, and a median fit of 1.36 s against 1.16 s. That time is
driver work, which the concurrent CV fold fits queue for.
"""

from __future__ import annotations

import functools

CLASSIFIER_ENGINE = "mllib.random_forest"
LIGHTGBM_ENGINE = "mllib.onevsrest_gbt"


@functools.cache
def _plain_trees(estimator_cls: type, model_cls: type) -> type:
    """``estimator_cls`` whose ``fit`` returns a ``model_cls`` with
    ``trees`` as a plain, uncached ``property`` over PySpark's own
    getter, which ``Params.params`` skips (see the module docstring).
    Both subclasses keep their parent's name, so uids read as before;
    ``model.trees`` still returns the per-tree models when asked."""
    model = type(
        model_cls.__name__,
        (model_cls,),
        {"trees": property(model_cls.__dict__["trees"].func)},
    )
    return type(
        estimator_cls.__name__,
        (estimator_cls,),
        {"_create_model": lambda self, java_model: model(java_model)},
    )


def make_classifier(
    features_col: str = "features",
    label_col: str = "label_idx",
    seed: int = 42,
):
    """OP-ML-07 (classification): the XGBClassifier twin, MLlib's
    RandomForest (multiclass-capable, GBDT-family)."""
    from pyspark.ml.classification import (
        RandomForestClassificationModel,
        RandomForestClassifier,
    )

    return _plain_trees(RandomForestClassifier, RandomForestClassificationModel)(
        featuresCol=features_col, labelCol=label_col, seed=seed, numTrees=50
    )


def make_regressor(
    features_col: str = "features",
    label_col: str = "label",
    seed: int = 42,
):
    """OP-ML-07 (regression): the XGBRegressor twin, MLlib's
    GBTRegressor."""
    from pyspark.ml.regression import GBTRegressionModel, GBTRegressor

    return _plain_trees(GBTRegressor, GBTRegressionModel)(
        featuresCol=features_col, labelCol=label_col, seed=seed
    )


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
    from pyspark.ml.classification import (
        GBTClassificationModel,
        GBTClassifier,
        OneVsRest,
    )

    gbt = _plain_trees(GBTClassifier, GBTClassificationModel)(
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
