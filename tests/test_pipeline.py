"""End-to-end gexp pipeline tests (OP-ML-03..11) — statistical
checks, as the reference's own cross-framework-agreement strategy
prescribes for seeded-RNG ops (SURVEY.md §5.2): split proportions,
fold balance, learnability above baseline.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def make_gexp(spark, n=80, f=24, seed=7):
    """Synthetic long-form gexp with a planted class signal: genes
    g0..g7 are shifted up for class B. Returns (gexp, labels_cls,
    labels_reg)."""
    rng = np.random.default_rng(seed)
    classes = rng.choice(["A", "B"], size=n, p=[0.5, 0.5])
    rows = []
    for s in range(n):
        shift = 3.0 if classes[s] == "B" else 0.0
        for g in range(f):
            base = rng.lognormal(2.0, 0.5)
            if g < 8:
                base *= np.exp(shift * 0.5)
            rows.append((s, f"g{g:03d}", float(base)))
    gexp = spark.createDataFrame(
        rows, "sample_id long, gene_id string, value double"
    )
    labels_cls = spark.createDataFrame(
        [(s, str(classes[s])) for s in range(n)], "sample_id long, label string"
    )
    # regression target: linear in the mean of the signal genes + noise
    sig = {s: np.mean([r[2] for r in rows if r[0] == s and r[1] < "g008"]) for s in range(n)}
    labels_reg = spark.createDataFrame(
        [(s, float(np.log1p(sig[s]) * 2.0 + rng.normal(0, 0.1))) for s in range(n)],
        "sample_id long, label double",
    )
    return gexp, labels_cls, labels_reg


@pytest.fixture(scope="module")
def gexp_data(spark):
    return make_gexp(spark)


def test_split_proportions(spark, gexp_data):
    from gexp_ml_dask_spark.ml.pipeline import train_test_split

    gexp, labels, _ = gexp_data
    train, test = train_test_split(labels, test_size=0.3, seed=42)
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == labels.count()
    assert 0.5 < n_train / labels.count() < 0.9  # ~0.7 ± randomSplit noise


def test_fold_balance(spark, gexp_data):
    from gexp_ml_dask_spark.ml.cv import with_fold

    _, labels, _ = gexp_data
    folds = with_fold(labels, k=4, seed=42).groupBy("fold").count().collect()
    assert len(folds) == 4
    sizes = [r["count"] for r in folds]
    assert sum(sizes) == labels.count()
    assert min(sizes) > 0


def test_stratified_sample_exact(spark, gexp_data):
    from gexp_ml_dask_spark.ml.pipeline import stratified_sample

    _, labels, _ = gexp_data
    counts = {r["label"]: r["count"] for r in labels.groupBy("label").count().collect()}
    n = 40
    sampled = stratified_sample(labels, n, "label", seed=42)
    got = {r["label"]: r["count"] for r in sampled.groupBy("label").count().collect()}
    total = sum(counts.values())
    for label, c in counts.items():
        assert got.get(label, 0) == int(round(c * n / total)), label


def test_assemble_vectors_dense_layout(spark, gexp_data):
    from gexp_ml_dask_spark.ml.pipeline import assemble_vectors

    gexp, _, _ = gexp_data
    vecs = assemble_vectors(gexp).collect()
    assert len(vecs) == 80
    assert all(len(r["features"]) == 24 for r in vecs)
    # layout check: gene g000's value for sample 0 is vector slot 0
    v0 = [r for r in vecs if r["sample_id"] == 0][0]["features"]
    want = gexp.filter(
        (F.col("sample_id") == 0) & (F.col("gene_id") == "g000")
    ).collect()[0]["value"]
    assert v0[0] == pytest.approx(want)


def test_assemble_vectors_sparse_ragged(spark, gexp_data):
    from gexp_ml_dask_spark.ml.pipeline import assemble_vectors

    gexp, _, _ = gexp_data
    ragged = gexp.filter(F.col("value") > 5.0)  # drop rows -> ragged
    vecs = assemble_vectors(ragged, dense=False).collect()
    assert len(vecs) == ragged.select("sample_id").distinct().count()
    assert all(len(r["features"]) == 24 for r in vecs)


def test_classification_pipeline_learns(spark, gexp_data):
    from gexp_ml_dask_spark.plans import gexp_pipeline

    gexp, labels, _ = gexp_data
    mean_cv, var_cv, eval_score = gexp_pipeline(
        gexp, labels, "classification", k_folds=3, cv_parallelism=3
    )
    majority = max(
        r["count"] for r in labels.groupBy("label").count().collect()
    ) / labels.count()
    assert eval_score > majority - 0.1, (eval_score, majority)
    assert mean_cv > majority - 0.1
    assert var_cv >= 0.0


def test_regression_pipeline_learns(spark, gexp_data):
    from gexp_ml_dask_spark.plans import gexp_pipeline

    gexp, _, labels_reg = gexp_data
    mean_cv, var_cv, eval_score = gexp_pipeline(
        gexp, labels_reg, "regression", k_folds=3, cv_parallelism=3
    )
    assert eval_score > 0.0  # beats predicting the mean
    assert var_cv >= 0.0


def test_invalid_task_raises(spark, gexp_data):
    from gexp_ml_dask_spark.plans import gexp_pipeline

    gexp, labels, _ = gexp_data
    with pytest.raises(ValueError, match="Invalid ML task"):
        gexp_pipeline(gexp, labels, "clustering")


def test_sparse_degenerate_input_fails_fast(spark, gexp_data):
    """A matrix >75% zeros makes every per-sample q75 = 0: UQ scales
    everything to 0 and the stat filter keeps 0 genes. The pipeline
    must raise an actionable ValueError, not MLlib's bare
    'Nothing has been added to this summarizer' (found by the sf1
    f=20000 wide-cell bench, which folds 6M fact rows into 24M
    cells)."""
    from gexp_ml_dask_spark.plans import gexp_pipeline

    gexp, labels, _ = gexp_data
    # Scattered zeros: every sample keeps 1/6 of its genes nonzero
    # (q75 = 0), but every gene is nonzero for SOME sample (so
    # drop_zero_genes — the edgeR all-zero-gene rule — removes
    # nothing and the degenerate q75 path is actually reached).
    gidx = F.substring("gene_id", 2, 3).cast("int")
    sparse = gexp.withColumn(
        "value",
        F.when(
            (F.col("sample_id") + gidx) % 6 == 0, F.col("value")
        ).otherwise(F.lit(0.0)),
    )
    with pytest.raises(ValueError, match="upper quartile"):
        gexp_pipeline(
            sparse, labels, "classification", k_folds=3, cv_parallelism=3
        )


def _ids(df):
    return sorted(r["sample_id"] for r in df.select("sample_id").collect())


def _pipeline_module():
    # The module, not the function of the same name that
    # ``gexp_ml_dask_spark.plans`` exports.
    import importlib

    return importlib.import_module("gexp_ml_dask_spark.plans.gexp_pipeline")


def test_classification_pipeline_exact_scores(spark, gexp_data):
    """Pinned result of the benchmark's pipeline arguments on the
    fixture: building the labeled table once must not move a score.

    The session runs an ``observe()`` first: from then on a fitted
    model that keeps its training summary drags the SparkSession into
    its scoring tasks and fails with "Task not serializable"."""
    from pyspark.sql import Observation

    from gexp_ml_dask_spark.plans import gexp_pipeline

    spark.range(3).observe(Observation(), F.count(F.lit(1)).alias("n")).collect()
    gexp, labels, _ = gexp_data
    got = gexp_pipeline(
        gexp, labels, "classification", k_folds=3, cv_parallelism=3, fit_partitions=4
    )
    assert got == (0.9848484848484849, 0.00045913682277318554, 1.0)


def test_labeled_samples_split_matches_lazy_plan(spark, gexp_data):
    """``randomSplit`` membership follows the partition layout. The
    materialized labeled table must split into the same rows as the
    lazy join it replaces (a ``persist`` keeps the un-coalesced
    shuffle width and does not)."""
    from gexp_ml_dask_spark.ml.pipeline import assemble_vectors, train_test_split
    from gexp_ml_dask_spark.plans.gexp_pipeline import (
        feature_preprocessing,
        labeled_samples,
    )

    gexp, labels, _ = gexp_data
    pre = feature_preprocessing(gexp)
    lazy = assemble_vectors(pre).join(F.broadcast(labels), "sample_id")
    table = labeled_samples(pre, labels)
    for want, got in zip(
        train_test_split(lazy, seed=42), train_test_split(table, seed=42)
    ):
        assert _ids(got) == _ids(want)
    spark.catalog.clearCache()


def test_pipeline_scaler_fits_on_model_train_rows(spark, gexp_data, monkeypatch):
    """Default path (no ``fit_partitions``): the scaler fits on exactly
    the rows the CV and the eval model train on, and the eval score
    comes from the other rows only."""
    gp = _pipeline_module()
    gexp, labels, _ = gexp_data
    seen = {}
    scaler, cv, metric = gp.fit_standard_scaler, gp.cross_validate, gp.accuracy

    def record_scaler(train, *args, **kwargs):
        seen["scaler"] = _ids(train)
        return scaler(train, *args, **kwargs)

    def record_cv(train, **kwargs):
        seen["train"] = _ids(train)
        return cv(train, **kwargs)

    def record_metric(pred, *args, **kwargs):
        # The eval score is the last call, after the CV folds.
        seen["scored"] = _ids(pred)
        return metric(pred, *args, **kwargs)

    monkeypatch.setattr(gp, "fit_standard_scaler", record_scaler)
    monkeypatch.setattr(gp, "cross_validate", record_cv)
    monkeypatch.setattr(gp, "accuracy", record_metric)
    gp.gexp_pipeline(gexp, labels, "classification", k_folds=3, cv_parallelism=3)

    assert seen["scaler"] == seen["train"]
    assert not set(seen["scored"]) & set(seen["train"])
    assert sorted(seen["train"] + seen["scored"]) == _ids(labels)


def _record_persists(frame_cls, monkeypatch) -> list:
    """Every frame ``persist`` is called on from now on, in order."""
    handles = []
    persist = frame_cls.persist

    def record(self, *args, **kwargs):
        handles.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", record)
    return handles


def _assert_released(handles) -> None:
    from pyspark.storagelevel import StorageLevel

    assert [h.is_cached for h in handles] == [False] * len(handles)
    assert [h.storageLevel for h in handles] == [StorageLevel.NONE] * len(handles)


def test_pipeline_releases_its_persists(spark, gexp_data, monkeypatch):
    """The pipeline persists exactly three frames — the UQ step's
    zero-gene-filtered table and symmetrized factors, and the scaled
    train set with its fold column, which the CV folds and the eval
    fit share — and every one is uncached when the call returns."""
    gp = _pipeline_module()
    gexp, labels, _ = gexp_data
    handles = _record_persists(type(gexp), monkeypatch)
    gp.gexp_pipeline(gexp, labels, "classification", k_folds=3, cv_parallelism=3)

    # kept + factors (UQ), then the fold-tagged train set
    assert len(handles) == 3
    assert "fold" in handles[-1].columns
    _assert_released(handles)


@pytest.mark.parametrize("failing", ["eval_fit", "fold_fit"])
def test_pipeline_fit_failure_propagates_and_releases(
    spark, gexp_data, monkeypatch, failing
):
    """A fit that raises — the eval fit, which runs on its own thread
    beside the folds, or every fold fit — surfaces from
    ``gexp_pipeline``, and every frame the run persisted is uncached
    afterwards."""
    gp = _pipeline_module()
    gexp, labels, _ = gexp_data
    handles = _record_persists(type(gexp), monkeypatch)
    make_classifier = gp.make_classifier

    class Boom(RuntimeError):
        pass

    class Estimator:
        def __init__(self, *args):
            self.inner = make_classifier(*args)

        def fit(self, df):
            # The eval fit reads the persisted frame itself; a fold
            # fit reads a filter of it.
            whole = any(df is h for h in handles)
            if whole == (failing == "eval_fit"):
                raise Boom(failing)
            return self.inner.fit(df)

    monkeypatch.setattr(gp, "make_classifier", Estimator)
    with pytest.raises(Boom, match=failing):
        gp.gexp_pipeline(gexp, labels, "classification", k_folds=3, cv_parallelism=3)
    assert len(handles) == 3
    _assert_released(handles)


def test_gexp_pipeline_and_ops_build_no_python_rdd(spark, gexp_data, monkeypatch):
    """Neither benchmark workload parallelizes a Python list: the
    pipeline (dense assemble, no driver-built gene dim) and the
    queries whose driver-built tables go through ``local_table`` (the
    union-find result behind ``op_llm_02_dup_clusters``, the mixture
    weights behind ``op_llm_08_curation_pipeline``, the BPE merge
    table behind both ``op_llm_04_bpe_*`` queries)."""
    from pyspark import SparkContext

    from gexp_ml_dask_spark.plans import gexp_pipeline
    from gexp_ml_dask_spark.queries import QUERIES
    from tests.conftest import SF_ORACLE

    gexp, labels, _ = gexp_data

    def refuse(self, *args, **kwargs):
        raise AssertionError("SparkContext.parallelize called")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    mean_cv, _, eval_score = gexp_pipeline(
        gexp, labels, "classification", k_folds=3, cv_parallelism=3
    )
    assert 0.0 <= mean_cv <= 1.0 and 0.0 <= eval_score <= 1.0
    for name in (
        "op_llm_02_dup_clusters",
        "op_llm_08_curation_pipeline",
        "op_llm_04_bpe_tokenize",
        "op_llm_04_bpe_merges",
    ):
        assert QUERIES[name](spark, SF_ORACLE).count() > 0, name


def test_assemble_vectors_dense_matches_sparse(spark, gexp_data):
    """The dense path (per-sample sort by gene id) gives every sample
    the same vector as the sparse path (broadcast gene dim), and both
    stated rules hold: NULL gene ids are dropped and duplicate
    (sample, gene) pairs are summed."""
    from gexp_ml_dask_spark.ml.pipeline import assemble_vectors

    gexp, _, _ = gexp_data

    def vectors(df, **kwargs):
        return {
            r["sample_id"]: r["features"].toArray().tolist()
            for r in assemble_vectors(df, **kwargs).collect()
        }

    dense = vectors(gexp)
    assert len(dense) == 80
    assert dense == vectors(gexp, dense=False)

    edge = spark.createDataFrame(
        [
            (0, "g1", 1.0),
            (0, "g0", 2.0),
            (0, None, 9.0),
            (0, "g1", 0.5),
            (1, "g0", 3.0),
            (1, None, 5.0),
            (1, "g1", 4.0),
        ],
        "sample_id long, gene_id string, value double",
    )
    assert vectors(edge) == {0: [2.0, 1.5], 1: [3.0, 4.0]}


def test_hash_split_is_partition_layout_stable(spark):
    """The property that motivates hash_split over randomSplit:
    membership is a pure function of (key, seed), so re-partitioning
    the input (different scan splits, AQE, another cluster) must not
    move any row between train and test."""
    from gexp_ml_dask_spark.ml.pipeline import hash_split

    df = spark.range(2000).withColumnRenamed("id", "sample_id")
    t1, e1 = hash_split(df, 0.3, "sample_id", seed=42)
    t2, e2 = hash_split(df.repartition(7), 0.3, "sample_id", seed=42)
    ids = lambda d: {r[0] for r in d.select("sample_id").collect()}
    assert ids(t1) == ids(t2)
    assert ids(e1) == ids(e2)
    assert ids(t1).isdisjoint(ids(e1))
    assert len(ids(t1)) + len(ids(e1)) == 2000
    # ~70/30 within multinomial tolerance
    assert 0.65 < len(ids(t1)) / 2000 < 0.75


def test_with_fold_hash_stable_and_balanced(spark):
    from gexp_ml_dask_spark.ml.cv import with_fold_hash

    df = spark.range(2000).withColumnRenamed("id", "sample_id")
    f1 = {r[0]: r[1] for r in with_fold_hash(df, 10).select("sample_id", "fold").collect()}
    f2 = {
        r[0]: r[1]
        for r in with_fold_hash(df.repartition(5), 10)
        .select("sample_id", "fold")
        .collect()
    }
    assert f1 == f2
    sizes = [list(f1.values()).count(i) for i in range(10)]
    assert min(sizes) > 100  # multinomial balance around 200


def test_incremental_fit_matches_closed_form_and_converges(spark):
    """OP-ML-12: the per-epoch partial-fit loop must reproduce the
    deterministic full-batch GD trajectory exactly (each epoch is
    algebra on (n, Sxx, Sxy)), and with enough epochs approach the
    least-squares optimum Sxy/Sxx."""
    from gexp_ml_dask_spark.ml.incremental import incremental_linear_fit

    rng = np.random.default_rng(11)
    x = rng.uniform(1, 10, size=500)
    y = 3.0 * x + rng.normal(0, 0.5, size=500)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )

    n, sxx, sxy = len(x), float(np.sum(x * x)), float(np.sum(x * y))
    lr, epochs = 1e-3, 5
    w_ref = 0.0
    for _ in range(epochs):
        w_ref -= lr * 2.0 * (sxx * w_ref - sxy) / n

    state = incremental_linear_fit(df, "x", "y", lr=lr, epochs=epochs)
    assert state["n"] == n
    assert abs(state["w"] - w_ref) < 1e-9

    # long-run convergence to the least-squares optimum
    state2 = incremental_linear_fit(df, "x", "y", lr=5e-3, epochs=60)
    assert abs(state2["w"] - sxy / sxx) < 1e-6


def test_approx_distinct_error_bound(spark):
    """OP-AGG-12: HLL++ per-key estimate within 5% of exact at
    rsd=0.02, and the DataSketches-HLL partition sketches must merge
    to the same estimate as one whole-table sketch (mergeability is
    what makes sketches the 100 TB distinct-count path)."""
    from gexp_ml_dask_spark.operators.aggregates import (
        approx_distinct_by,
        hll_sketches_by,
        hll_union_estimate,
    )
    from gexp_ml_dask_spark.sources.readers import load_events
    from tests.conftest import SF_ORACLE

    events = load_events(spark, SF_ORACLE)
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["approx_distinct"]
        for r in approx_distinct_by(
            events, "event_type", "user_id", rsd=0.02
        ).collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(1, 0.05 * n), (k, n, approx[k])

    # mergeability: per-half sketches unioned == whole-table sketch
    halves = events.withColumn("half", (F.col("event_id") % 2).cast("int"))
    by_half = (
        halves.groupBy("event_type", "half")
        .agg(F.hll_sketch_agg(F.col("user_id"), F.lit(12)).alias("sketch"))
    )
    merged = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_union_estimate(by_half, "event_type").collect()
    }
    whole = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_union_estimate(
            hll_sketches_by(events, "event_type", "user_id"), "event_type"
        ).collect()
    }
    assert merged == whole


def test_model_backend_gate(spark):
    """OP-ML-07/08 backends (VERDICT r3 #8): the provenance literal
    each query stamps in its ``engine`` column must name the
    estimator its factory returns — RandomForest for OP-ML-07,
    OneVsRest over GBT for OP-ML-08."""
    from gexp_ml_dask_spark.ml.models import (
        CLASSIFIER_ENGINE,
        LIGHTGBM_ENGINE,
        make_classifier,
        make_lightgbm_classifier,
    )

    from pyspark.ml.classification import (
        GBTClassifier,
        OneVsRest,
        RandomForestClassifier,
    )

    assert CLASSIFIER_ENGINE == "mllib.random_forest"
    assert isinstance(make_classifier(), RandomForestClassifier)
    assert LIGHTGBM_ENGINE == "mllib.onevsrest_gbt"
    lgbm = make_lightgbm_classifier()
    assert isinstance(lgbm, OneVsRest)
    assert isinstance(lgbm.getClassifier(), GBTClassifier)


def test_tree_ensembles_skip_per_tree_wrappers(spark):
    """PySpark 4 caches ``trees`` in a ``cached_property``, and every
    ``JavaModel.__init__`` fills it (``Params.params`` reads each
    attribute of ``dir(self)`` that is not a plain property), building
    one Python model per tree on every fit. The factories' fitted
    models — the forest, the boosted regressor and each per-class
    boosted classifier of the LightGBM variant — must not have built
    them, and must still list every tree when asked."""
    from pyspark.ml.linalg import Vectors

    from gexp_ml_dask_spark.ml.models import (
        make_classifier,
        make_lightgbm_classifier,
        make_regressor,
    )

    df = spark.createDataFrame(
        [
            (Vectors.dense([float(i % 5), float(i % 3)]), float(i % 3), float(i))
            for i in range(60)
        ],
        ["features", "label_idx", "label"],
    )
    lgbm = make_lightgbm_classifier(max_iter=3).fit(df)
    fitted = [
        (make_classifier().fit(df), 50),
        (make_regressor().fit(df), 20),
        *((m, 3) for m in lgbm.models),
    ]
    assert len(fitted) == 5
    for model, n_trees in fitted:
        assert "trees" not in vars(model), type(model)
        assert len(model.trees) == n_trees == model.getNumTrees
        assert model.trees[0].numNodes >= 1


def test_mad_outlier_stats_golden(spark):
    """Hand-computed golden numerics for mad_outlier_stats
    (OP-AGG-16 twin): gA = [1,2,3,4,100] -> med 3, devs [2,1,0,1,97],
    MAD 1, threshold 5.1891 -> exactly the 97 row is an outlier.
    gB = [5,5,5,7] -> med 5, devs [0,0,0,2], MAD (percentile 0.5 of
    [0,0,0,2]) = 0 -> division-free contract: only dev > 0 rows
    count, so exactly one outlier. gC constant -> MAD 0, 0 outliers."""
    from gexp_ml_dask_spark.operators.aggregates import mad_outlier_stats

    rows = (
        [("gA", v) for v in [1.0, 2.0, 3.0, 4.0, 100.0]]
        + [("gB", v) for v in [5.0, 5.0, 5.0, 7.0]]
        + [("gC", v) for v in [9.0, 9.0, 9.0]]
    )
    df = spark.createDataFrame(rows, "gene_id string, value double")
    got = {
        r["gene_id"]: (r["med"], r["mad"], r["n_outliers"])
        for r in mad_outlier_stats(df, "gene_id", "value").collect()
    }
    assert got["gA"] == (3.0, 1.0, 1)
    assert got["gB"] == (5.0, 0.0, 1)
    assert got["gC"] == (9.0, 0.0, 0)


def test_bench_pipeline_cell_smoke(spark, tmp_path):
    """The driver runs bench.py every round; this smoke-runs its
    pipeline-grid cell machinery end-to-end at toy scale (both
    tasks) so a broken prep/label path can never first surface in
    the driver's recorded run."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import prep_pipeline_cell

    from gexp_ml_dask_spark.plans.gexp_pipeline import gexp_pipeline
    from tests.conftest import SF_SMOKE

    for task in ("classification", "regression"):
        out = str(tmp_path / task)
        prep_pipeline_cell(spark, SF_SMOKE, 40, 30, out, task)
        gexp = spark.read.parquet(f"{out}/gexp")
        labels = spark.read.parquet(f"{out}/labels")
        assert gexp.count() == 40 * 30
        assert labels.count() == 40
        mean_cv, var_cv, ev = gexp_pipeline(
            gexp,
            labels,
            task=task,
            k_folds=3,
            seed=42,
            cv_parallelism=3,
            fit_partitions=4,
        )
        assert var_cv >= 0.0
        if task == "classification":
            assert 0.0 <= ev <= 1.0
        else:
            assert ev <= 1.0  # r² upper bound; toy cells may not learn


def test_psi_drift_invariants(spark):
    """psi_drift exact-zero mirror invariant: when every (key, bin)
    count is identical in both halves of the time range, every
    clamped proportion pair is equal and psi is exactly 0. A shifted
    second half must score strictly positive."""
    from datetime import datetime

    from gexp_ml_dask_spark.operators.validate import psi_drift

    t_a = datetime(2024, 1, 1)
    t_b = datetime(2024, 1, 9)
    mirrored = [
        ("k1", float(v), t)
        for v in (10, 60, 110, 260, 420)
        for t in (t_a, t_b)
    ]
    df = spark.createDataFrame(
        mirrored, "event_type string, value double, ts timestamp"
    )
    row = psi_drift(df).collect()[0]
    assert row["n_before"] == 5 and row["n_after"] == 5
    assert row["psi"] == 0.0

    shifted = [("k1", 10.0, t_a)] * 5 + [("k1", 470.0, t_b)] * 5
    df2 = spark.createDataFrame(
        shifted, "event_type string, value double, ts timestamp"
    )
    assert psi_drift(df2).collect()[0]["psi"] > 1.0

    # Empty input: no epochs to split — must return the empty
    # contract-schema frame, not TypeError on (None + None) / 2.
    empty = spark.createDataFrame(
        [], "event_type string, value double, ts timestamp"
    )
    out = psi_drift(empty)
    assert out.columns == ["event_type", "n_before", "n_after", "psi"]
    assert out.count() == 0
