"""``pyspark.ml`` Estimator/Model wrappers for the normalizers.

The reference implements UpperQuartile/TMM as sklearn
``BaseEstimator, TransformerMixin`` subclasses (feature_selection_
and_normalization.py:8,34,61); the direct Spark idiom is an
``Estimator`` whose ``_fit`` learns the per-sample factor table and
returns a ``Model`` whose ``transform`` applies the broadcast
scaling join. The factor table is persisted on fit (by
``symmetrize_factors``, which collects its geomean from it) — it is
reused by every downstream transform, mirroring the reference's
``.persist()`` on fit products (fsn.py:47-48). A fit leaves nothing
else cached.
"""

from __future__ import annotations

from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame

from gexp_ml_dask_spark.ml.normalization import (
    tmm_factors,
    upper_quartile_factors,
)
from gexp_ml_dask_spark.operators.joins import scale_rows


class _LongFormParams(Params):
    sampleCol = Param(
        Params._dummy(), "sampleCol", "sample id column", TypeConverters.toString
    )
    geneCol = Param(
        Params._dummy(), "geneCol", "gene/feature id column", TypeConverters.toString
    )
    valueCol = Param(
        Params._dummy(), "valueCol", "expression value column", TypeConverters.toString
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(sampleCol="sample_id", geneCol="gene_id", valueCol="value")


class _NormalizerModel(Model, _LongFormParams):
    """Holds the fitted (sample_id, scaling_factor) table; transform
    is the broadcast scaling join (OP-JOIN-01)."""

    def __init__(self, factors: DataFrame | None = None) -> None:
        super().__init__()
        self.factors = factors

    def _transform(self, dataset: DataFrame) -> DataFrame:
        return scale_rows(
            dataset,
            self.factors,
            sample_col=self.getOrDefault(self.sampleCol),
            value_col=self.getOrDefault(self.valueCol),
            factor_col="scaling_factor",
        )


class UpperQuartileNormalizerModel(_NormalizerModel):
    pass


class UpperQuartileNormalizer(Estimator, _LongFormParams):
    """OP-ML-01 — UpperQuartile normalization on the long form
    (reference: feature_selection_and_normalization.py:8-31).

    fit: drop all-zero genes, per-sample quantile(q)/sum, symmetrize
    to multiply to ~1. transform: row-scale by sample factor.
    """

    q = Param(Params._dummy(), "q", "upper quantile", TypeConverters.toFloat)

    def __init__(
        self,
        q: float = 0.75,
        sampleCol: str = "sample_id",
        geneCol: str = "gene_id",
        valueCol: str = "value",
    ) -> None:
        super().__init__()
        self._setDefault(q=0.75)
        self._set(q=q, sampleCol=sampleCol, geneCol=geneCol, valueCol=valueCol)

    def _fit(self, dataset: DataFrame) -> UpperQuartileNormalizerModel:
        factors = upper_quartile_factors(
            dataset,
            q=self.getOrDefault(self.q),
            sample_col=self.getOrDefault(self.sampleCol),
            gene_col=self.getOrDefault(self.geneCol),
            value_col=self.getOrDefault(self.valueCol),
        )
        model = UpperQuartileNormalizerModel(factors)
        return self._copyValues(model)


class TMMNormalizerModel(_NormalizerModel):
    pass


class TMMNormalizer(Estimator, _LongFormParams):
    """OP-ML-02 — TMM normalization on the long form (reference:
    feature_selection_and_normalization.py:61-115)."""

    logRatioTrim = Param(
        Params._dummy(), "logRatioTrim", "two-sided ratio trim", TypeConverters.toFloat
    )
    absExprTrim = Param(
        Params._dummy(),
        "absExprTrim",
        "two-sided absolute-expression trim",
        TypeConverters.toFloat,
    )

    def __init__(
        self,
        logRatioTrim: float = 0.3,
        absExprTrim: float = 0.05,
        sampleCol: str = "sample_id",
        geneCol: str = "gene_id",
        valueCol: str = "value",
    ) -> None:
        super().__init__()
        self._setDefault(logRatioTrim=0.3, absExprTrim=0.05)
        self._set(
            logRatioTrim=logRatioTrim,
            absExprTrim=absExprTrim,
            sampleCol=sampleCol,
            geneCol=geneCol,
            valueCol=valueCol,
        )

    def _fit(self, dataset: DataFrame) -> TMMNormalizerModel:
        factors = tmm_factors(
            dataset,
            log_ratio_trim=self.getOrDefault(self.logRatioTrim),
            abs_expr_trim=self.getOrDefault(self.absExprTrim),
            sample_col=self.getOrDefault(self.sampleCol),
            gene_col=self.getOrDefault(self.geneCol),
            value_col=self.getOrDefault(self.valueCol),
        )
        model = TMMNormalizerModel(factors)
        return self._copyValues(model)
