"""Empty-input contract sweep across the operator library.

Three of the four round-4 ADVICE findings were the same defect class:
a fit-time ``collect``/``first`` on an EMPTY input feeding ``None``
into Python arithmetic and dying with a bare ``TypeError`` several
expressions later (psi_drift, the bench regression-cell prep), or an
MLlib internals error (the f=20k pipeline cell). This sweep pins the
contract for every library family: an empty-but-correctly-typed
input must either

  * return an empty DataFrame with the operator's normal schema, or
  * return a well-defined scalar/state (None / 0 / initial state), or
  * raise ``ValueError`` with an actionable message —

never ``TypeError`` / ``IndexError`` / a Py4J internals error.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

GEXP_SCHEMA = "sample_id long, gene_id string, value double"
DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def empty(spark, schema):
    return spark.createDataFrame([], schema)


def assert_empty_frame(df, min_cols=1):
    assert df.count() == 0
    assert len(df.columns) >= min_cols


def test_filters_empty(spark):
    from gexp_ml_dask_spark.operators.filters import (
        drop_zero_genes,
        stat_threshold_filter,
    )

    g = empty(spark, GEXP_SCHEMA)
    assert_empty_frame(drop_zero_genes(g))
    assert_empty_frame(stat_threshold_filter(g, q=0.25))


def test_uq_tmm_factors_empty(spark):
    from gexp_ml_dask_spark.ml.normalization import (
        tmm_factors,
        upper_quartile_factors,
        upper_quartile_transform,
    )

    g = empty(spark, GEXP_SCHEMA)
    assert_empty_frame(upper_quartile_factors(g))
    assert_empty_frame(upper_quartile_transform(g))
    assert_empty_frame(tmm_factors(g))


def test_exact_quantiles_empty(spark):
    from gexp_ml_dask_spark.operators.aggregates import (
        collect_exact_quantiles,
    )

    g = empty(spark, GEXP_SCHEMA)
    out = collect_exact_quantiles(g, {"value": [0.25, 0.75]})
    assert out == {"value": [None, None]}


def test_windows_empty(spark):
    from gexp_ml_dask_spark.operators.windows import (
        moving_average,
        rolling_percentile,
    )

    ev = empty(spark, EVENTS_SCHEMA)
    assert_empty_frame(moving_average(ev))
    assert_empty_frame(rolling_percentile(ev))


def test_global_rank_empty(spark):
    from gexp_ml_dask_spark.operators.sorts import global_rank

    ev = empty(spark, EVENTS_SCHEMA)
    out = global_rank(ev, "value", tie_col="event_id")
    assert out.count() == 0


def test_asof_and_salted_join_empty(spark):
    from gexp_ml_dask_spark.operators.joins import asof_join, salted_join

    ev = empty(spark, EVENTS_SCHEMA)
    dim = empty(spark, "user_id long, w double")
    assert_empty_frame(
        asof_join(
            ev.select("user_id", "ts", "event_id", "value"),
            ev.select("user_id", "ts", "event_id", F.col("value").alias("v2")),
            on="user_id",
        )
    )
    assert_empty_frame(
        salted_join(
            ev.select(F.col("user_id").alias("key"), "value"),
            dim.select(F.col("user_id").alias("key"), "w"),
            "key",
        )
    )


def test_psi_drift_and_constraints_empty(spark):
    from gexp_ml_dask_spark.operators.validate import psi_drift

    ev = empty(spark, "event_type string, value double, ts timestamp")
    out = psi_drift(ev)
    assert out.columns == ["event_type", "n_before", "n_after", "psi"]
    assert out.count() == 0


def test_dedup_empty(spark):
    from gexp_ml_dask_spark.llm import dedup

    d = empty(spark, DOCS_SCHEMA)
    assert_empty_frame(dedup.exact_dedup(d))
    assert_empty_frame(dedup.minhash_lsh_pairs(d))
    # every exact pair form: (id_a, id_b, score) with no rows
    for form in (
        "ngram_jaccard_pairs",
        "ngram_jaccard_pairs_prefix",
        "containment_pairs",
        "containment_pairs_prefix",
        "tf_cosine_pairs",
        "tf_cosine_pairs_prefix",
    ):
        assert_empty_frame(getattr(dedup, form)(d), min_cols=3)


def test_text_ops_empty(spark):
    from gexp_ml_dask_spark.llm.text import tfidf_top_terms

    d = empty(spark, DOCS_SCHEMA)
    assert_empty_frame(tfidf_top_terms(d))


def test_bpe_empty_and_short_training(spark):
    """BPE on an empty corpus, with k=0, and on a corpus fully merged
    before round k: the merge table keeps its schema and holds only
    the merges that exist; token counts fall back to characters when
    nothing is merged."""
    from gexp_ml_dask_spark.llm.text import bpe_merges, bpe_token_counts

    cols = ["merge_rank", "left_sym", "right_sym", "pair_count"]
    d = empty(spark, DOCS_SCHEMA)
    m = bpe_merges(d, k=3)
    assert m.columns == cols and m.count() == 0
    assert_empty_frame(bpe_token_counts(d, k=3), min_cols=3)

    texts = ["ab ab abc", "cab"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    m0 = bpe_merges(docs, k=0)
    assert m0.columns == cols and m0.count() == 0
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(docs, k=0).collect()
    }
    assert got == {0: (3, 7), 1: (1, 3)}

    ab = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    assert [tuple(r) for r in bpe_merges(ab, k=5).collect()] == [
        (1, "a", "b", 2)
    ]
    assert [
        (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(ab, k=5).collect()
    ] == [(2, 2)]


def test_knn_empty_corpus_and_queries(spark):
    from gexp_ml_dask_spark.llm.similarity import knn_bruteforce

    emb = empty(spark, EMB_SCHEMA)
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    assert_empty_frame(knn_bruteforce(emb, q, k=5))


def test_incremental_fit_empty(spark):
    from gexp_ml_dask_spark.ml.incremental import incremental_linear_fit

    df = empty(spark, "x double, y double")
    state = incremental_linear_fit(df, "x", "y")
    assert state["n"] == 0.0


def test_metrics_empty(spark):
    from gexp_ml_dask_spark.ml.metrics import accuracy_df

    pred = empty(spark, "label double, prediction double")
    row = accuracy_df(pred, "label", "prediction").collect()[0]
    # Well-defined empty contract: NULL accuracy, never a crash.
    assert row["accuracy"] is None


def test_gexp_pipeline_empty_raises_value_error(spark):
    from gexp_ml_dask_spark.plans import gexp_pipeline

    g = empty(spark, GEXP_SCHEMA)
    labels = empty(spark, "sample_id long, label string")
    with pytest.raises(ValueError):
        gexp_pipeline(g, labels, "classification", k_folds=2, cv_parallelism=2)
