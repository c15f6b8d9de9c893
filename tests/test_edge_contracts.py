"""Pins for the adversarial-data contracts from the round-7 edge
sweep (tools/edge_fixture.py + oracle_sweep on the edge twin).

Each test here is a distilled repro of a real cross-engine
divergence or crash the edge fixture surfaced:

- a corrupt timestamp (epoch-0 / year-2100) turned the resample
  gap-fill spine into a single |span|-sized sequence() array and
  OOM'd the vanilla 1g JVM;
- NULL text fell through split/greatest/concat_ws null-swallowing
  into the shingle set {''} and inverted-joined NULL-text docs
  against EMPTY-text docs as jaccard-1.0 pairs (Spark only);
- invalid vectors (NULL, NaN element, ragged, zero-norm) crashed
  the DuckDB oracle while Spark silently null-dropped them, and a
  NaN element leaked through quantize's coalesce into an ANSI
  CAST_OVERFLOW;
- a plain equi-join on a group key silently dropped the NULL group
  a GROUP BY had produced (hll_merge composite);
- engines disagree on where floor/greatest/least/percentile land
  NULL/NaN/±inf, so histogram/PSI/quantile ops declare a
  finite-values contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

NAN = float("nan")
INF = float("inf")

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMB_SCHEMA = "vec_id long, embedding array<double>, label int"
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


# ---------------------------------------------------------------- resample
def _mk_events(spark, rows):
    import datetime as dt

    return spark.createDataFrame(
        [
            (i, dt.datetime.utcfromtimestamp(ts), u, "click", 1.0, None)
            for i, (ts, u) in enumerate(rows)
        ],
        EVENTS_SCHEMA,
    )


def test_resample_guard_names_offending_key(spark):
    from gexp_ml_dask_spark.streaming.windows import resample_events

    ev = _mk_events(spark, [(0, 7), (600 * 2_000, 7), (0, 8)])
    # the cap is enforced lazily in-plan (assert_true), so building
    # the plan never runs a job; the triggering ACTION fails with a
    # message naming the key and its bucket count
    df = resample_events(ev, bucket_s=600, max_buckets_per_key=1000)
    with pytest.raises(Exception, match=r"max_buckets_per_key.*7="):
        df.count()


def test_resample_chunked_spine_exact_across_chunk_boundary(spark):
    from gexp_ml_dask_spark.streaming.windows import (
        _SPINE_CHUNK,
        resample_events,
    )

    # span = _SPINE_CHUNK + 3 buckets: crosses one chunk boundary;
    # events only at the endpoints, so all interior buckets are
    # gap-filled. The chunked two-level spine must produce exactly
    # span rows with n=0 everywhere except the two endpoint buckets.
    span = _SPINE_CHUNK + 3
    ev = _mk_events(spark, [(0, 1), (600 * (span - 1), 1)])
    out = resample_events(ev, bucket_s=600, max_buckets_per_key=None)
    rows = out.collect()
    assert len(rows) == span
    buckets = sorted(r["bucket_start"] for r in rows)
    assert buckets == [600 * i for i in range(span)]  # no dup, no gap
    filled = {r["bucket_start"]: r["n"] for r in rows}
    assert filled[0] == 1 and filled[600 * (span - 1)] == 1
    assert sum(r["n"] for r in rows) == 2


# ------------------------------------------------------------- NULL text
# Expected pairs over docs 1 and 3 (empty text) and 2 (NULL text). The
# two EMPTY docs pair under the set measures (identical degenerate
# shingle set {''}); TF-cosine drops empty tokens, so they have no
# vector and pair with nothing. The NULL doc never pairs.
_NULL_TEXT_PAIRS = {
    "ngram_jaccard_pairs": {(1, 3)},
    "ngram_jaccard_pairs_prefix": {(1, 3)},
    "containment_pairs": {(1, 3)},
    "containment_pairs_prefix": {(1, 3)},
    "tf_cosine_pairs": set(),
    "tf_cosine_pairs_prefix": set(),
}


@pytest.mark.parametrize("form", list(_NULL_TEXT_PAIRS))
def test_null_text_doc_is_absent_from_shingle_pairs(spark, form):
    from gexp_ml_dask_spark.llm import dedup

    docs = spark.createDataFrame(
        [
            (1, "", "en", "s", 0),
            (2, None, "en", "s", None),
            (3, "", "en", "s", 0),
        ],
        DOCS_SCHEMA,
    )
    pairs = getattr(dedup, form)(docs, threshold=0.0).collect()
    ids = {i for r in pairs for i in (r["id_a"], r["id_b"])}
    assert 2 not in ids
    assert {(r["id_a"], r["id_b"]) for r in pairs} == _NULL_TEXT_PAIRS[form]


def test_null_text_excluded_from_token_ops(spark):
    from gexp_ml_dask_spark.llm.text import (
        chunk_documents,
        fingerprints,
        language_id,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat", "en", "s", 11), (2, None, "en", "s", None)],
        DOCS_SCHEMA,
    )
    for fn in (language_id, fingerprints, chunk_documents):
        ids = {r["doc_id"] for r in fn(docs).collect()}
        assert ids == {1}, fn.__name__


def _ref_token_ngrams(text, n):
    """Pure-Python token n-grams: split on single spaces, join every
    run of n consecutive tokens; none for NULL or < n tokens."""
    toks = [] if text is None else text.split(" ")
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _ref_shingles(text, n):
    """Pure-Python shingles: the distinct token n-grams in first-seen
    order; a text with fewer than n tokens is one shingle of all its
    tokens; NULL for a NULL text."""
    if text is None:
        return None
    toks = text.split(" ")
    grams = [" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)]
    return list(dict.fromkeys(grams))


def _ngram_texts(n):
    """NULL, empty, one-token, exactly-n-token, doubled-space,
    leading/trailing-space and long (repeating) texts."""
    return [
        None,
        "",
        "one",
        " ".join(f"t{i}" for i in range(n)),
        "a  b c   d e",
        " lead and trail ",
        " ".join(f"w{i % 7}" for i in range(200)),
    ]


@pytest.mark.parametrize("n", [2, 3, 5])
def test_token_ngrams_matches_python_reference(spark, n):
    """``text.token_ngrams`` (the one n-gram rule of the text, dedup
    and curation operators) equals the Python reference on NULL,
    empty, one-token, exactly-n-token, doubled-space and long texts."""
    from gexp_ml_dask_spark.llm.text import token_ngrams

    texts = _ngram_texts(n)
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = {
        r["id"]: r["g"]
        for r in df.select("id", token_ngrams("text", n).alias("g")).collect()
    }
    for i, text in enumerate(texts):
        assert got[i] == _ref_token_ngrams(text, n), (n, text)


@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingles_matches_python_reference(spark, n):
    """``dedup.shingles`` keeps its own contract on top of the shared
    n-gram rule: distinct grams in first-seen order, one whole-text
    shingle below n tokens (so ``""`` gives ``[""]``), NULL for NULL."""
    from gexp_ml_dask_spark.llm.dedup import shingles

    texts = _ngram_texts(n)
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = {
        r["id"]: r["g"]
        for r in df.select("id", shingles("text", n).alias("g")).collect()
    }
    for i, text in enumerate(texts):
        assert got[i] == _ref_shingles(text, n), (n, text)


# --------------------------------------------------------- vector validity
def _mk_emb(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),  # valid
        (2, [0.9, 0.1, 0.0], 0),  # valid
        (3, None, 0),  # NULL vector
        (4, [NAN, 1.0, 1.0], 0),  # NaN element
        (5, [INF, 1.0, 1.0], 0),  # inf element
        (6, [0.0, 0.0, 0.0], 0),  # zero norm
        (7, [1.0, 0.0], 0),  # ragged (dim 2)
    ]
    return spark.createDataFrame(rows, EMB_SCHEMA)


def test_invalid_vectors_excluded_from_brute_pairs(spark):
    from gexp_ml_dask_spark.llm.dedup import embedding_neardup_pairs

    pairs = embedding_neardup_pairs(
        _mk_emb(spark), threshold=-1.0, method="brute"
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_invalid_vectors_excluded_from_knn(spark):
    from gexp_ml_dask_spark.llm.similarity import (
        knn_bruteforce,
        knn_bruteforce_pandas,
    )

    emb = _mk_emb(spark)
    q = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for fn in (knn_bruteforce, knn_bruteforce_pandas):
        got = fn(emb, q, k=10).collect()
        assert {r["vec_id"] for r in got} == {2}, fn.__name__


def test_pandas_knn_rejects_mixed_dim_queries(spark):
    from gexp_ml_dask_spark.llm.similarity import knn_bruteforce_pandas

    emb = _mk_emb(spark)
    q = emb.filter(F.col("vec_id").isin(1, 7)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="share one dimension"):
        knn_bruteforce_pandas(emb, q, k=2)


def test_pandas_knn_empty_query_set_returns_empty(spark):
    """ADVICE r7: an all-invalid query set (NULL/NaN/ragged) must
    yield an EMPTY result, not an AxisError from norm on a (0,)
    matrix."""
    from gexp_ml_dask_spark.llm.similarity import knn_bruteforce_pandas

    emb = _mk_emb(spark)
    q = spark.createDataFrame(
        [(1, None), (2, [float("nan"), 1.0, 1.0])],
        "query_id long, embedding array<double>",
    )
    out = knn_bruteforce_pandas(emb, q, k=3)
    assert out.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert out.count() == 0


def test_incremental_fit_integer_typed_columns(spark):
    """ADVICE r7: integer-typed x/y must fit (cast-before-isnan) —
    F.isnan on an int column is a DATATYPE_MISMATCH under ANSI."""
    from gexp_ml_dask_spark.ml.incremental import incremental_linear_fit

    df = spark.createDataFrame(
        [(1, 2), (2, 4), (3, 6)], "x int, y bigint"
    )
    state = incremental_linear_fit(df, "x", "y", lr=1e-3, epochs=8)
    assert state["n"] == 3.0
    assert 0 < state["w"] < 2.5  # heading toward the true slope 2


def test_quantize_contract(spark):
    from gexp_ml_dask_spark.llm.similarity import quantize_embeddings

    out = {
        r["vec_id"]: r
        for r in quantize_embeddings(_mk_emb(spark)).collect()
    }
    # NULL / NaN / inf vectors excluded; zero vector stays total
    assert set(out) == {1, 2, 6, 7}
    assert out[6]["scale"] == 0.0 and out[6]["qvec"] == [0, 0, 0]
    assert out[7]["qvec"] == [127, 0]  # ragged quantizes row-locally


def test_random_projection_magnitude_bound(spark):
    from gexp_ml_dask_spark.llm.similarity import random_projection

    rows = [
        (1, [1.0] * 64, 0),
        (2, [1e20] * 64, 0),  # finite but over the 6dp-exact bound
    ]
    emb = spark.createDataFrame(rows, EMB_SCHEMA)
    assert {
        r["vec_id"] for r in random_projection(emb, k=2).collect()
    } == {1}


# ---------------------------------------------------- group-key NULL join
def test_hll_merge_keeps_null_group(spark):
    import __spark_entry__ as entry
    import datetime as dt

    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1), 10, "click", 1.0, None),
            (2, dt.datetime(2024, 1, 2), 11, None, 1.0, None),
            (3, dt.datetime(2024, 1, 3), 12, None, 1.0, None),
        ],
        EVENTS_SCHEMA,
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        out = entry.queries()["op_agg_12_hll_merge"](spark, d).collect()
    got = {r["event_type"]: r["n_exact"] for r in out}
    assert got == {"click": 1, None: 2}


# ------------------------------------------------- finite-values contract
def test_histogram_psi_quantile_exclude_nonfinite(spark):
    import __spark_entry__ as entry
    import datetime as dt
    import tempfile

    rows = [
        (1, dt.datetime(2024, 1, 1), 1, "click", 10.0, None),
        (2, dt.datetime(2024, 1, 2), 2, "click", 60.0, None),
        (3, dt.datetime(2024, 1, 3), 3, "click", None, None),
        (4, dt.datetime(2024, 1, 4), 4, "click", NAN, None),
        (5, dt.datetime(2024, 1, 5), 5, "click", INF, None),
    ]
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        qs = entry.queries()
        hist = qs["op_agg_13_histogram"](spark, d).collect()
        assert sorted((r["bin"], r["n"]) for r in hist) == [(0, 1), (1, 1)]
        psi = qs["op_agg_19_psi_drift"](spark, d).collect()
        assert [(r["n_before"], r["n_after"]) for r in psi] == [(1, 1)]
        qsk = qs["op_agg_12_quantile_sketch"](spark, d).collect()
        assert len(qsk) == 1 and qsk[0]["p95_exact"] <= 60.0


# ------------------------------------------------ malformed JSON props
def test_variant_and_json_extract_survive_malformed_props(spark):
    import __spark_entry__ as entry
    import datetime as dt
    import tempfile

    rows = [
        (1, dt.datetime(2024, 1, 1), 1, "click", 1.0, '{"k": 7}'),
        (2, dt.datetime(2024, 1, 2), 2, "click", 1.0, "{bad json"),
        (3, dt.datetime(2024, 1, 3), 3, "click", 1.0, ""),
        (4, dt.datetime(2024, 1, 4), 4, "click", 1.0, None),
    ]
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        qs = entry.queries()
        var = {
            r["event_id"]: r["k"]
            for r in qs["op_scl_07_variant"](spark, d).collect()
        }
        assert var == {1: 7, 2: None, 3: None, 4: None}
        jx = qs["op_scl_07_json_extract"](spark, d).collect()
        assert len(jx) == 1 and jx[0]["n"] == 4 and jx[0]["mean_k"] == 7.0


# --------------------------------------------------- ordering contracts
def test_ntile_null_values_bucket_last(spark):
    from gexp_ml_dask_spark.operators.windows import ntile_in_key
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1 + i), 1, "click", v, None)
        for i, v in enumerate([5.0, None, 1.0, 3.0])
    ]
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)
    out = {r["event_id"]: r["decile"] for r in ntile_in_key(ev, n=4).collect()}
    # ascending NULLS LAST: 1.0 < 3.0 < 5.0 < NULL
    assert out == {2: 1, 3: 2, 0: 3, 1: 4}


def test_rolling_percentile_excludes_nonfinite(spark):
    from gexp_ml_dask_spark.operators.windows import rolling_percentile
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1 + i), 1, "click", v, None)
        for i, v in enumerate([1.0, NAN, INF, None, 2.0])
    ]
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)
    out = rolling_percentile(ev, q=0.95, frame_rows=5).collect()
    assert {r["event_id"] for r in out} == {0, 4}
    assert all(r["rolling_p"] is not None for r in out)


# -------------------------------------------------- complete-rows fit
def test_incremental_fit_complete_rows_contract(spark):
    from gexp_ml_dask_spark.ml.incremental import incremental_linear_fit

    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (None, 9.0), (NAN, 1.0), (1e9, 1.0)],
        "x double, y double",
    )
    state = incremental_linear_fit(df, "x", "y", lr=1e-4, epochs=2)
    assert state["n"] == 2.0  # NULL, NaN, and over-magnitude rows excluded
    assert abs(state["w"]) < 10  # convergent on the sane rows


# ------------------------------------------- watermark epoch-0 sentinel
def test_watermark_dedup_epoch_zero_contract(spark):
    import __spark_entry__ as entry
    import datetime as dt
    import tempfile

    rows = [
        (1, dt.datetime(1970, 1, 1), 1, "click", 1.0, None),  # sentinel
        (2, dt.datetime(2024, 1, 1), 2, "click", 1.0, None),
        (3, dt.datetime(2024, 1, 2), 3, "click", 1.0, None),
    ]
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        got = entry.queries()["op_llm_05_watermark_dedup"](spark, d).collect()
    # the epoch-0 sentinel is out of contract on BOTH sides; the rest
    # deduplicate exactly once
    assert sorted(r["event_id"] for r in got) == [2, 3]


# ---------------------------------------------------------------- UQ factors
def test_all_zero_sample_gets_null_uq_factor(spark):
    """A sample whose values are all 0 has quantile/sum = 0/0: its
    norm and scaling factors are NULL (the oracles' ``nullif(sum, 0)``),
    not an ANSI DIVIDE_BY_ZERO, and the geomean skips it, so every
    other sample's factors are the ones computed without it."""
    from gexp_ml_dask_spark.operators.aggregates import (
        per_sample_uq_factor,
        symmetrize_factors,
    )

    rows = [
        (s, g, float((s * 7 + g * 3) % 11 + 1)) for s in (1, 2, 3) for g in range(8)
    ]
    zero = [(4, g, 0.0) for g in range(8)]
    schema = "sample_id long, gene_id long, value double"

    def factors(data):
        gexp = spark.createDataFrame(data, schema)
        sym = symmetrize_factors(per_sample_uq_factor(gexp)).collect()
        return {r["sample_id"]: (r["norm_factor"], r["scaling_factor"]) for r in sym}

    base = factors(rows)
    got = factors(rows + zero)
    assert got[4] == (None, None)
    assert {s: got[s] for s in base} == base
