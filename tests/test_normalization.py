"""Golden-numerics tests for the UQ/TMM normalizers (OP-ML-01/02).

The expected values come from an INDEPENDENT eager pandas/numpy
implementation of the reference's documented semantics
(feature_selection_and_normalization.py — per-sample q/sum factors,
geometric-mean symmetrization; TMM pseudoreference, ratio +
absolute-expression kernels, global nanquantile trims, masked
trimmed mean). The reference itself verified these against the
edgeR/davetang worked example; this fixture plays the same role:
small enough to hand-check, with an all-zero gene and a
zero-in-some-samples gene to hit the filter branches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

# 4 samples × 6 genes; g0 all-zero, g1 zero in half the samples.
MAT = pd.DataFrame(
    {
        "g0": [0.0, 0.0, 0.0, 0.0],
        "g1": [0.0, 3.0, 0.0, 6.0],
        "g2": [10.0, 20.0, 15.0, 30.0],
        "g3": [100.0, 200.0, 150.0, 300.0],
        "g4": [50.0, 25.0, 75.0, 100.0],
        "g5": [5.0, 8.0, 12.0, 2.0],
    },
    index=[0, 1, 2, 3],
)


def eager_uq_factors(mat: pd.DataFrame, q: float = 0.75) -> pd.Series:
    kept = mat.loc[:, mat.mean(axis=0) > 0.0]
    nf = kept.quantile(q, axis=1) / kept.sum(axis=1)
    safe = np.where(nf.values == 0.0, 1.0, nf.values)
    return nf / np.exp(np.mean(np.log(safe)))


def eager_tmm_factors(
    mat: pd.DataFrame, lr_trim: float = 0.3, ae_trim: float = 0.05
) -> pd.Series:
    kept = mat.loc[:, (mat != 0).any(axis=0)]

    def col_ref(col: pd.Series) -> float:
        pos = col[col > 0]
        return pos.quantile(0.75) / col.sum()

    ref = kept.apply(col_ref, axis=0)
    ref_total = ref.sum()

    lr = pd.DataFrame(np.nan, index=kept.index, columns=kept.columns)
    ae = pd.DataFrame(np.nan, index=kept.index, columns=kept.columns)
    for s in kept.index:
        row = kept.loc[s]
        pos_total = row[row > 0].sum()
        row_total = row.sum()
        for g in kept.columns:
            v = row[g]
            if v > 0:
                lr.loc[s, g] = (pos_total - v) / (pos_total * v)
            if v > 0 and ref[g] > 0:
                num = np.log2(v / row_total)
                den = np.log2(ref[g] / ref_total)
                if den == 0:
                    den = 1.0
                ae.loc[s, g] = (num / den) / 2.0

    lr = lr.replace([np.inf, -np.inf], np.nan)
    ae = ae.replace([np.inf, -np.inf], np.nan)
    lr_lo, lr_hi = np.nanquantile(lr.values, [lr_trim, 1 - lr_trim])
    ae_lo, ae_hi = np.nanquantile(ae.values, [ae_trim, 1 - ae_trim])
    t_lr = lr[(lr > lr_lo) & (lr < lr_hi)]
    t_ae = ae[(ae > ae_lo) & (ae < ae_hi)]
    nf = ((t_lr * t_ae) / t_lr).mean(axis=1)
    safe = np.where(nf.values == 0.0, 1.0, nf.values)
    return nf / np.exp(np.mean(np.log(safe)))


def to_long(spark, mat: pd.DataFrame):
    rows = [
        (int(s), g, float(mat.loc[s, g]))
        for s in mat.index
        for g in mat.columns
    ]
    return spark.createDataFrame(rows, "sample_id long, gene_id string, value double")


@pytest.fixture(scope="module")
def long_df(spark):
    return to_long(spark, MAT)


def test_uq_factors_golden(spark, long_df):
    from gexp_ml_dask_spark.ml.normalization import upper_quartile_factors

    got = {
        r["sample_id"]: r["scaling_factor"]
        for r in upper_quartile_factors(long_df).collect()
    }
    want = eager_uq_factors(MAT)
    assert set(got) == set(want.index)
    for s in want.index:
        assert got[s] == pytest.approx(want[s], abs=1e-12), f"sample {s}"


def test_uq_factors_multiply_to_one(spark, long_df):
    from gexp_ml_dask_spark.ml.normalization import upper_quartile_factors

    factors = [
        r["scaling_factor"] for r in upper_quartile_factors(long_df).collect()
    ]
    assert np.prod(factors) == pytest.approx(1.0, abs=1e-9)


def test_uq_transform_golden(spark, long_df):
    from gexp_ml_dask_spark.ml.normalization import upper_quartile_transform

    sf = eager_uq_factors(MAT)
    kept = MAT.loc[:, MAT.mean(axis=0) > 0.0]
    want = kept.multiply(sf, axis=0)

    out = upper_quartile_transform(long_df).collect()
    assert len(out) == want.size
    for r in out:
        assert r["value"] == pytest.approx(
            want.loc[r["sample_id"], r["gene_id"]], abs=1e-12
        ), (r["sample_id"], r["gene_id"])


def test_uq_transform_preserves_zero_pattern(spark, long_df):
    from gexp_ml_dask_spark.ml.normalization import upper_quartile_transform

    out = upper_quartile_transform(long_df).collect()
    for r in out:
        orig = MAT.loc[r["sample_id"], r["gene_id"]]
        assert (r["value"] == 0.0) == (orig == 0.0)


def test_tmm_factors_golden(spark, long_df):
    from gexp_ml_dask_spark.ml.normalization import tmm_factors

    got = {
        r["sample_id"]: r["scaling_factor"] for r in tmm_factors(long_df).collect()
    }
    want = eager_tmm_factors(MAT)
    assert set(got) == set(want.index)
    for s in want.index:
        assert got[s] == pytest.approx(want[s], abs=1e-10), f"sample {s}"


def test_tmm_trim_quantize_matches_default_off_boundary(spark, long_df):
    """trim_quantize=6 only changes trim membership for kernel
    values within 5e-7 of a global bound; the golden fixture has
    none, so quantized and reference-parity factors must agree to
    the same tolerance as the golden test. (The parameter exists for
    the cross-engine sf10 boundary — BASELINE.md round 5: raw-double
    thresholds flip million-row tie-runs between JVM and C libm.)"""
    from gexp_ml_dask_spark.ml.normalization import tmm_factors

    base = {
        r["sample_id"]: r["scaling_factor"]
        for r in tmm_factors(long_df).collect()
    }
    q6 = {
        r["sample_id"]: r["scaling_factor"]
        for r in tmm_factors(long_df, trim_quantize=6).collect()
    }
    assert set(base) == set(q6)
    for s in base:
        assert q6[s] == pytest.approx(base[s], abs=1e-10), f"sample {s}"


def test_estimator_api(spark, long_df):
    from gexp_ml_dask_spark.ml.estimators import (
        TMMNormalizer,
        UpperQuartileNormalizer,
    )

    uq_model = UpperQuartileNormalizer().fit(long_df)
    out = uq_model.transform(long_df)
    assert out.columns == ["sample_id", "gene_id", "value"]
    assert out.count() == 24  # transform keeps all input rows

    tmm_model = TMMNormalizer().fit(long_df)
    want = eager_tmm_factors(MAT)
    got = {
        r["sample_id"]: r["scaling_factor"] for r in tmm_model.factors.collect()
    }
    for s in want.index:
        assert got[s] == pytest.approx(want[s], abs=1e-10)


@pytest.mark.parametrize("estimator", ["UpperQuartileNormalizer", "TMMNormalizer"])
def test_estimator_fit_leaves_only_its_factors_cached(
    spark, long_df, monkeypatch, estimator
):
    """Of every frame a fit persists, only the factor table the model
    reads stays cached; intermediates (TMM's kernel matrix ``mat``)
    and second copies of the factors are not left behind."""
    from gexp_ml_dask_spark.ml import estimators

    frame_cls = type(long_df)
    handles = []
    persist = frame_cls.persist

    def record(self, *args, **kwargs):
        handles.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", record)
    model = getattr(estimators, estimator)().fit(long_df)
    assert model.transform(long_df).count() == 24

    cached = [h for h in handles if h.is_cached]
    assert len(cached) == 1, [h.columns for h in cached]
    assert set(cached[0].columns) <= set(model.factors.columns)
    cached[0].unpersist()


def test_random_matrices_uq_property(spark):
    """Property: for strictly-positive matrices, UQ factors multiply
    to 1 and transform preserves per-gene value ordering."""
    rng = np.random.default_rng(42)
    for trial in range(3):
        mat = pd.DataFrame(
            rng.lognormal(2.0, 1.0, size=(6, 8)),
            index=range(6),
            columns=[f"g{i}" for i in range(8)],
        )
        long_df = to_long(spark, mat)
        from gexp_ml_dask_spark.ml.normalization import upper_quartile_factors

        factors = [
            r["scaling_factor"] for r in upper_quartile_factors(long_df).collect()
        ]
        assert np.prod(factors) == pytest.approx(1.0, rel=1e-9), f"trial {trial}"
        want = eager_uq_factors(mat)
        got = {
            r["sample_id"]: r["scaling_factor"]
            for r in upper_quartile_factors(long_df).collect()
        }
        for s in want.index:
            assert got[s] == pytest.approx(want[s], abs=1e-12)
