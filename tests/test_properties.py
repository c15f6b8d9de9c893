"""Property-based normalizer invariants (SURVEY.md §5.2).

The reference's normalizers carry algebraic contracts stated in their
own comments ("adjusted to multiply to 1",
feature_selection_and_normalization.py:23-24); hypothesis drives them
over arbitrary well-formed matrices instead of one fixture.

Examples are kept small (Spark round-trip per example) and deadlines
disabled — JVM latency is not a property failure.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

pytestmark = pytest.mark.filterwarnings("ignore::ResourceWarning")


def matrix_strategy(min_n=2, max_n=5, min_f=2, max_f=6):
    """Small dense positive matrices as (n, f, values) — positive
    values keep every per-sample factor finite and nonzero, the
    domain the multiply-to-1 contract speaks about."""
    return st.integers(min_n, max_n).flatmap(
        lambda n: st.integers(min_f, max_f).flatmap(
            lambda f: st.lists(
                st.floats(0.1, 100.0, allow_nan=False, allow_infinity=False),
                min_size=n * f,
                max_size=n * f,
            ).map(lambda vals: (n, f, vals))
        )
    )


def to_long(spark, n, f, vals):
    rows = [
        (s, f"g{g}", float(vals[s * f + g])) for s in range(n) for g in range(f)
    ]
    return spark.createDataFrame(
        rows, "sample_id long, gene_id string, value double"
    )


@settings(max_examples=8, deadline=None)
@given(matrix_strategy())
def test_uq_factors_multiply_to_one(spark, data):
    """Symmetrized UQ factors multiply to ~1 (fsn.py:23-24)."""
    from gexp_ml_dask_spark.ml.normalization import upper_quartile_factors

    n, f, vals = data
    factors = upper_quartile_factors(to_long(spark, n, f, vals)).collect()
    assert len(factors) == n
    log_sum = sum(math.log(r["scaling_factor"]) for r in factors)
    assert abs(log_sum) < 1e-9


@settings(max_examples=8, deadline=None)
@given(matrix_strategy())
def test_row_scaling_preserves_zero_pattern(spark, data):
    """scale_rows multiplies — zeros stay zero, nonzeros stay
    nonzero (positive factor)."""
    from gexp_ml_dask_spark.ml.normalization import upper_quartile_transform

    n, f, vals = data
    # plant a zero per sample (not a whole zero gene, which would be
    # dropped by OP-FIL-01)
    vals = list(vals)
    if f >= 2:
        for s in range(n):
            vals[s * f + (s % f)] = 0.0
    g = to_long(spark, n, f, vals)
    out = upper_quartile_transform(g).collect()
    before = {
        (r["sample_id"], r["gene_id"]): r["value"] for r in g.collect()
    }
    for r in out:
        src = before[(r["sample_id"], r["gene_id"])]
        if src == 0.0:
            assert r["value"] == 0.0
        else:
            assert r["value"] != 0.0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(0.0, 1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=50,
    )
)
def test_log2_plus_one_nonnegative(spark, xs):
    """log2(x+1) >= 0 for x >= 0 (the reference applies it to FPKM
    values, which are nonnegative; dask_pipeline.py:43)."""
    from gexp_ml_dask_spark.operators.scalars import log2_plus_one

    df = spark.createDataFrame([(float(x),) for x in xs], "value double")
    out = log2_plus_one(df, "value").collect()
    assert all(r["value"] >= 0.0 for r in out)


@given(
    st.lists(
        st.floats(-1e9, 1e9, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=60,
    ),
    st.lists(st.floats(0.0, 1.0), min_size=1, max_size=4),
)
@settings(max_examples=10, deadline=None)
def test_bracketed_quantiles_match_percentile(spark, xs, qs):
    """collect_exact_quantiles (the driver-scalar fit path: sketch →
    rank bracket → interpolate) must be bit-identical to Spark's
    exact Percentile for arbitrary value/quantile sets."""
    from gexp_ml_dask_spark.operators.aggregates import (
        collect_exact_quantiles,
        percentile,
    )

    df = spark.createDataFrame([(float(x),) for x in xs], "v double")
    got = collect_exact_quantiles(df, {"v": qs})["v"]
    want = list(
        df.agg(percentile("v", list(qs)).alias("p")).collect()[0]["p"]
    )
    assert got == want


def test_bracketed_quantiles_nulls_and_empty(spark):
    from gexp_ml_dask_spark.operators.aggregates import collect_exact_quantiles

    df = spark.createDataFrame(
        [(1.0, None), (2.0, None), (None, None)], "a double, b double"
    )
    out = collect_exact_quantiles(df, {"a": [0.5], "b": [0.5, 0.9]})
    assert out["a"] == [1.5]
    assert out["b"] == [None, None]


@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),
            st.floats(-1e9, 1e9, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=60,
    ),
    st.floats(0.0, 1.0),
)
@settings(max_examples=10, deadline=None)
def test_grouped_percentile_matches_percentile(spark, rows, q):
    """grouped_percentile (sort_array + two-sided lerp, the
    many-groups form) must be bit-identical to Spark's Percentile
    per group."""
    from gexp_ml_dask_spark.operators.aggregates import grouped_percentile

    df = spark.createDataFrame(
        [(int(g), float(v)) for g, v in rows], "g int, v double"
    )
    got = {
        r["g"]: r["p"]
        for r in df.groupBy("g")
        .agg(grouped_percentile("v", q).alias("p"))
        .collect()
    }
    want = {
        r["g"]: r["p"]
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.lit(q)).alias("p"))
        .collect()
    }
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),
            st.one_of(
                st.none(),
                st.floats(-1e9, 1e9, allow_nan=False, allow_infinity=False),
            ),
        ),
        min_size=1,
        max_size=60,
    ),
    st.floats(0.0, 1.0),
)
@settings(max_examples=10, deadline=None)
def test_sorted_group_quantile_matches_percentile(spark, rows, q):
    """sorted_group_quantile (shuffle-sort + rank pick, the
    many-tiny-groups scale form) must be bit-identical to Spark's
    Percentile per group, including null handling, and its
    extra_aggs must see the same rows as a plain groupBy. The
    quantile is compared exactly; the companion sum only to relative
    tolerance — it accumulates in sorted order rather than scan
    order, and float addition is not associative (plain groupBy's
    order isn't canonical either: it varies with partitioning)."""
    import math

    from gexp_ml_dask_spark.operators.aggregates import sorted_group_quantile

    df = spark.createDataFrame(
        [(int(g), None if v is None else float(v)) for g, v in rows],
        "g int, v double",
    )
    out = {
        r["g"]: (r["p"], r["s"])
        for r in sorted_group_quantile(
            df, "g", "v", q, extra_aggs={"s": F.sum("v")}, out_col="p"
        ).collect()
    }
    want = {
        r["g"]: (r["p"], r["s"], r["sa"])
        for r in df.groupBy("g")
        .agg(
            F.percentile("v", F.lit(q)).alias("p"),
            F.sum("v").alias("s"),
            F.sum(F.abs("v")).alias("sa"),
        )
        .collect()
    }
    assert out.keys() == want.keys()
    for g in want:
        wp, ws, sumabs = want[g]
        op_, os_ = out[g]
        assert op_ == wp, f"quantile mismatch for group {g}"
        if ws is None or os_ is None:
            assert ws == os_
        else:
            # error of a reordered float sum is bounded by
            # n*eps*sum(|v|), not by eps*|sum| (cancellation)
            assert math.isclose(os_, ws, rel_tol=0.0, abs_tol=1e-10 * sumabs)


def test_sorted_group_quantile_masked_value(spark):
    """A masked value expression (positive-only, as TMM uses) ranks
    nulls last and excludes them from the count — same as
    Percentile over the masked column."""
    from gexp_ml_dask_spark.operators.aggregates import sorted_group_quantile

    df = spark.createDataFrame(
        [(1, -2.0), (1, 1.0), (1, 3.0), (2, -1.0), (2, -5.0)],
        "g int, v double",
    )
    masked = F.when(F.col("v") > 0, F.col("v"))
    got = {
        r["g"]: r["p"]
        for r in sorted_group_quantile(df, "g", masked, 0.5, out_col="p").collect()
    }
    assert got == {1: 2.0, 2: None}


@given(
    st.lists(
        st.lists(
            st.text(
                alphabet="abcdefgh", min_size=1, max_size=4
            ),
            min_size=1,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=10, deadline=None)
def test_md5_minhash_matches_python_reference(spark, texts):
    """The md5_32 MinHash family is defined as
    min(h1 + (i+1)*h2) over distinct 3-gram shingles, h1/h2 the two
    leading 32-bit words of md5(shingle ':seed') — locked here
    against a pure-Python reimplementation so the contract holds
    independent of any SQL engine."""
    import hashlib

    from gexp_ml_dask_spark.llm.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(docs, n_hashes=6, hasher="md5_32").collect()
    }

    def py_shingles(text, n=3):
        toks = text.split(" ")
        grams = [
            " ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)
        ]
        return list(dict.fromkeys(grams))

    for i, t in enumerate(texts):
        hs = []
        for sh in py_shingles(t):
            d = hashlib.md5(f"{sh}:42".encode()).hexdigest()
            hs.append((int(d[:8], 16), int(d[8:16], 16)))
        want = [min(h1 + (k + 1) * h2 for h1, h2 in hs) for k in range(6)]
        assert got[i] == want, f"doc {i}: {got[i]} != {want}"


def test_md5_hyperplanes_deterministic_and_mixed_sign():
    """Hyperplane components are a pure function of the seed, lie in
    [-1, 1), and a 64-dim family is not sign-degenerate (the reason
    the family maps to [-1,1) rather than [0,1))."""
    from gexp_ml_dask_spark.llm.similarity import md5_hyperplanes

    a = md5_hyperplanes(4, 64, 42)
    b = md5_hyperplanes(4, 64, 42)
    assert a == b
    assert md5_hyperplanes(4, 64, 43) != a
    comps = [x for plane in a for x in plane]
    assert all(-1.0 <= x < 1.0 for x in comps)
    assert any(x < 0 for x in comps) and any(x > 0 for x in comps)


def events_strategy(max_users=3, max_events=14):
    """Small event sets (user, ts_seconds, value) with deliberate
    timestamp TIES — the tie-break path is where as-of/range kernels
    usually break."""
    return st.lists(
        st.tuples(
            st.integers(0, max_users - 1),
            st.integers(0, 20),  # coarse seconds => frequent ties
            st.floats(-5, 5, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=max_events,
    )


def _events_df(spark, rows):
    import datetime as dt

    data = [
        (
            i,
            r[0],
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=r[1]),
            float(r[2]),
        )
        for i, r in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, value double"
    )


@settings(max_examples=10, deadline=None)
@given(events_strategy(), events_strategy())
def test_asof_join_matches_naive(spark, left_rows, right_rows):
    """asof_join == the naive per-row argmax over right rows with
    (user match, ts <= left.ts), ties by larger event_id."""
    from gexp_ml_dask_spark.operators.joins import asof_join

    left = _events_df(spark, left_rows)
    # offset right ids so tie-break ordering is observable
    right = _events_df(spark, right_rows).withColumn(
        "event_id", F.col("event_id") + 1000
    )
    got = {
        r["event_id"]: (r["asof_value"], r["asof_event_id"])
        for r in asof_join(
            left, right, on="user_id", ts_col="ts",
            tiebreak="event_id", right_cols=["value", "event_id"],
        ).collect()
    }

    lrows = left.collect()
    rrows = right.collect()
    for lr in lrows:
        cands = [
            rr
            for rr in rrows
            if rr["user_id"] == lr["user_id"] and rr["ts"] <= lr["ts"]
        ]
        want = (None, None)
        if cands:
            best = max(cands, key=lambda rr: (rr["ts"], rr["event_id"]))
            want = (best["value"], best["event_id"])
        assert got[lr["event_id"]] == want, (lr, want, got[lr["event_id"]])


@settings(max_examples=10, deadline=None)
@given(events_strategy(), events_strategy())
def test_banded_range_join_matches_naive(spark, left_rows, right_rows):
    """banded_range_join == the naive inequality join
    left.ts - band <= right.ts < left.ts, regardless of how the band
    straddles bucket boundaries."""
    from gexp_ml_dask_spark.operators.joins import banded_range_join

    band = 5.0
    left = _events_df(spark, left_rows)
    right = _events_df(spark, right_rows).withColumn(
        "event_id", F.col("event_id") + 1000
    )
    got = sorted(
        (r["event_id"], r["r_event_id"])
        for r in banded_range_join(
            left, right, on="user_id", band_seconds=band
        ).collect()
    )
    want = sorted(
        (lr["event_id"], rr["event_id"])
        for lr in left.collect()
        for rr in right.collect()
        if rr["user_id"] == lr["user_id"]
        and lr["ts"].timestamp() - band
        <= rr["ts"].timestamp()
        < lr["ts"].timestamp()
    )
    assert got == want


def _py_morton(a: int, b: int) -> int:
    out = 0
    for i in range(32):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    # BIGINT is signed: bit 31 of b lands on the sign bit.
    return out - (1 << 64) if out >= 1 << 63 else out


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**32 - 1),
            st.integers(min_value=0, max_value=2**32 - 1),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=20, deadline=None)
def test_morton_code_matches_python_reference(spark, pairs):
    """OP-PHY-05: the codegen bit-interleave must equal the
    bit-by-bit Python definition for any 32-bit inputs, and be
    strictly monotone in either coordinate with the other fixed."""
    from gexp_ml_dask_spark.operators.physical import morton_code

    df = spark.createDataFrame(pairs, "a LONG, b LONG")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", morton_code("a", "b").alias("z")).collect()
    }
    for (a, b), z in got.items():
        assert z == _py_morton(a, b)


def test_morton_code_monotone_in_each_coordinate(spark):
    from gexp_ml_dask_spark.operators.physical import morton_code

    rows = [(a, 7) for a in range(64)] + [(5, b) for b in range(64) if b != 7]
    df = spark.createDataFrame(rows, "a LONG, b LONG")
    out = df.select("a", "b", morton_code("a", "b").alias("z")).collect()
    fixed_b = sorted((r["a"], r["z"]) for r in out if r["b"] == 7 and r["a"] < 64)
    assert all(z1 < z2 for (_, z1), (_, z2) in zip(fixed_b, fixed_b[1:]))
    fixed_a = sorted((r["b"], r["z"]) for r in out if r["a"] == 5)
    assert all(z1 < z2 for (_, z1), (_, z2) in zip(fixed_a, fixed_a[1:]))


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=15, deadline=None)
def test_dup_ngram_spans_match_naive(spark, texts):
    """op_llm_02_dup_ngram_spans vs a direct Python evaluation of
    the same contract (cross-doc repeated 3-grams, union-of-interval
    coverage)."""
    from gexp_ml_dask_spark.llm.dedup import duplicate_ngram_spans

    n = 3
    docs = [(i, t) for i, t in enumerate(texts)]
    toks = {i: t.split(" ") for i, t in docs}
    grams: dict[int, list[tuple[int, str]]] = {}
    for i, tk in toks.items():
        grams[i] = [
            (p, " ".join(tk[p : p + n])) for p in range(len(tk) - n + 1)
        ]
    owners: dict[str, set[int]] = {}
    for i, gs in grams.items():
        for _, g in gs:
            owners.setdefault(g, set()).add(i)
    expected = {}
    for i, tk in toks.items():
        spans = [
            (p + 1, p + n) for p, g in grams[i] if len(owners[g]) > 1
        ]
        covered, hi = 0, 0
        for s, e in sorted(spans):
            covered += max(0, e - max(s - 1, hi))
            hi = max(hi, e)
        expected[i] = (len(tk), len(spans), covered)

    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_ngrams"], r["n_dup_tokens"])
        for r in duplicate_ngram_spans(df, n=n).collect()
    }
    assert out == expected


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=15, deadline=None)
def test_remove_dup_spans_match_naive(spark, texts):
    """op_llm_02_remove_dup_spans vs a direct Python evaluation of
    the keep rule: every cross-doc repeated 3-gram span is cut from
    all but the minimum-id owner; surviving tokens keep order."""
    from gexp_ml_dask_spark.llm.dedup import remove_duplicate_spans

    n = 3
    docs = [(i, t) for i, t in enumerate(texts)]
    toks = {i: t.split(" ") for i, t in docs}
    owners: dict[str, set[int]] = {}
    for i, tk in toks.items():
        for p in range(len(tk) - n + 1):
            owners.setdefault(" ".join(tk[p : p + n]), set()).add(i)
    expected = {}
    for i, tk in toks.items():
        covered: set[int] = set()
        for p in range(len(tk) - n + 1):
            own = owners[" ".join(tk[p : p + n])]
            if len(own) > 1 and i != min(own):
                covered.update(range(p + 1, p + n + 1))  # 1-based
        kept = [t for j, t in enumerate(tk, 1) if j not in covered]
        expected[i] = (" ".join(kept), len(tk), len(tk) - len(kept))

    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed_tokens"])
        for r in remove_duplicate_spans(df, n=n).collect()
    }
    assert out == expected


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(
    names=st.lists(
        st.text(alphabet="abc d", min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    )
)
@settings(max_examples=15, deadline=None)
def test_fuzzy_join_matches_naive_within_block(spark, names):
    """fuzzy_join must return exactly the naive all-pairs result
    RESTRICTED to its blocking contract (same first token, length
    within d) — the block is the declared recall boundary, the
    Levenshtein verify must be exact inside it."""
    from gexp_ml_dask_spark.operators.joins import fuzzy_join

    d = 2
    rows = [(i, n) for i, n in enumerate(names)]
    expected = set()
    for i, a in rows:
        for j, b in rows:
            if i < j and a.split(" ")[0] == b.split(" ")[0] and abs(
                len(a) - len(b)
            ) <= d and _py_lev(a, b) <= d:
                expected.add((i, j, _py_lev(a, b)))

    df = spark.createDataFrame(rows, "p_partkey LONG, p_name STRING")
    got = {
        (r["id_a"], r["id_b"], r["edit_distance"])
        for r in fuzzy_join(df, df, "p_name", max_distance=d).collect()
    }
    assert got == expected


def test_ewma_matches_python_reference(spark):
    """ewma_in_key vs a direct Python evaluation of the truncated
    weighted mean over the last `depth` observations."""
    import datetime

    from gexp_ml_dask_spark.operators.windows import ewma_in_key

    rows = [
        (i, 1, datetime.datetime(2024, 1, 1, 0, 0, i), float(v))
        for i, v in enumerate([5, 1, 4, 4, 9, 2, 7, 3, 8, 6])
    ]
    df = spark.createDataFrame(rows, "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE")
    out = {
        r["event_id"]: r["ewma"]
        for r in ewma_in_key(df, alpha=0.5, depth=4).collect()
    }
    vals = [v for *_, v in rows]
    for t in range(len(vals)):
        window = vals[max(0, t - 3) : t + 1][::-1]  # newest first
        num = sum(v * 0.5**j for j, v in enumerate(window))
        den = sum(0.5**j for j in range(len(window)))
        assert abs(out[t] - round(num / den, 6)) < 1e-9, (t, out[t], num / den)


def test_quantile_norm_equalizes_sample_distributions(spark):
    """After quantile normalization, every full-length sample must
    carry the IDENTICAL multiset of values (the defining property of
    the method)."""
    from gexp_ml_dask_spark.ml.normalization import quantile_normalize

    rows = []
    import random

    rnd = random.Random(7)
    for s in range(5):
        for g in range(12):
            rows.append((s, f"g{g}", rnd.uniform(0, 100)))
    df = spark.createDataFrame(rows, "sample_id LONG, gene_id STRING, value DOUBLE")
    out = quantile_normalize(df).collect()
    by_sample = {}
    for r in out:
        by_sample.setdefault(r["sample_id"], []).append(r["value_qn"])
    dists = [tuple(sorted(v)) for v in by_sample.values()]
    assert len(set(dists)) == 1


def corpus_strategy(max_docs=8):
    """Tiny corpora over a SMALL token vocabulary, so shared shingles
    (and hot shingles) are common — the adversarial regime for the
    prefix filter's losslessness claim."""
    token = st.sampled_from(["a", "b", "c", "dd", "ee"])
    text = st.lists(token, min_size=3, max_size=9).map(" ".join)
    return st.lists(text, min_size=2, max_size=max_docs)


@settings(max_examples=10, deadline=None)
@given(corpus_strategy(), st.sampled_from([0.3, 0.5, 0.8]))
def test_prefix_jaccard_lossless_property(spark, texts, threshold):
    """ngram_jaccard_pairs_prefix must return the IDENTICAL pair set
    (ids and rounded jaccard) as the inverted-index join on ANY
    corpus at ANY threshold — losslessness is a theorem (AllPairs
    prefix filtering), so a single counterexample is a bug."""
    from gexp_ml_dask_spark.llm.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    inv = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, threshold=threshold, n=2).collect()
    }
    pre = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs_prefix(
            docs, threshold=threshold, n=2
        ).collect()
    }
    assert inv == pre, (threshold, texts, inv ^ pre)


def py_tf_cosine_pairs(texts, threshold):
    """Pure-Python TF-cosine pairs of ``enumerate(texts)`` under the
    engine's admission rule: term frequencies over single-space
    tokens (empty tokens dropped), cosine = dot / (|a| * |b|), kept
    when round(cosine, 6) >= threshold. Rounding is half-up on the
    shortest decimal form of the double, as Spark's ``round`` does."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    tfs = [Counter(t for t in text.split(" ") if t) for text in texts]
    norms = [math.sqrt(sum(w * w for w in tf.values())) for tf in tfs]
    out = set()
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            dot = sum(w * tfs[j][t] for t, w in tfs[i].items() if t in tfs[j])
            if not dot:
                continue
            cos = float(
                Decimal(repr(dot / (norms[i] * norms[j]))).quantize(
                    Decimal("1e-6"), ROUND_HALF_UP
                )
            )
            if cos >= threshold:
                out.add((i, j, cos))
    return out


@settings(max_examples=10, deadline=None)
@given(corpus_strategy(), st.sampled_from([0.5, 0.7, 0.9]))
def test_prefix_tf_cosine_lossless_property(spark, texts, threshold):
    """tf_cosine_pairs_prefix must return the IDENTICAL row set (ids
    and rounded cosine) as the inverted-index join on ANY corpus at
    ANY threshold — the Cauchy-Schwarz L2-prefix bound is a theorem,
    so a single counterexample is a bug. The tiny shared vocabulary
    is the adversarial regime (every posting hot, long prefixes).
    Both sparse forms run on the shared pair core, so a pure-Python
    reference (:func:`py_tf_cosine_pairs`) is the third side."""
    from gexp_ml_dask_spark.llm.dedup import (
        tf_cosine_pairs,
        tf_cosine_pairs_prefix,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    inv = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in tf_cosine_pairs(docs, threshold=threshold).collect()
    }
    pre = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in tf_cosine_pairs_prefix(docs, threshold=threshold).collect()
    }
    assert inv == pre, (threshold, texts, inv ^ pre)
    ref = py_tf_cosine_pairs(texts, threshold)
    assert inv == ref, (threshold, texts, inv ^ ref)


@settings(max_examples=10, deadline=None)
@given(corpus_strategy(), st.sampled_from([0.5, 0.7, 0.9]))
def test_prefix_containment_lossless_property(spark, texts, threshold):
    """containment_pairs_prefix must return the IDENTICAL pair set as
    the inverted-index join on ANY corpus at ANY threshold — the
    size-oriented prefix bound (overlap >= t*min forces a match in
    the smaller doc's own prefix) is a theorem."""
    from gexp_ml_dask_spark.llm.dedup import (
        containment_pairs,
        containment_pairs_prefix,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    inv = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_pairs(docs, threshold=threshold, n=2).collect()
    }
    pre = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_pairs_prefix(
            docs, threshold=threshold, n=2
        ).collect()
    }
    assert inv == pre, (threshold, texts, inv ^ pre)


@given(
    keys=st.lists(
        st.one_of(st.none(), st.integers(min_value=0, max_value=12)),
        min_size=1,
        max_size=200,
    )
)
@settings(max_examples=10, deadline=None)
def test_global_rank_matches_naive_window(spark, keys):
    """global_rank (bucketed two-action form) must equal the naive
    single-partition Window.orderBy row_number exactly — including
    heavy ties that straddle percentile boundaries and NULL keys —
    in both directions."""
    from pyspark.sql import Window

    from gexp_ml_dask_spark.operators.sorts import global_rank

    rows = [(i, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "id LONG, k LONG")
    for desc in (False, True):
        order = F.col("k").desc() if desc else F.col("k").asc()
        naive = {
            r["id"]: r["r"]
            for r in df.withColumn(
                "r", F.row_number().over(Window.orderBy(order, F.col("id")))
            ).collect()
        }
        got = {
            r["id"]: r["rank"]
            for r in global_rank(
                df, "k", "id", descending=desc, n_buckets=4
            ).collect()
        }
        assert got == naive, desc


def test_global_rank_all_tied_nan_and_null(spark):
    """The degenerate frames: every key equal (heavy-tie regime — the
    equality slot must sub-bucket without breaking exactness), plus a
    mix of NaN and NULL keys whose placement must match Spark's
    window defaults (asc: NULL first / NaN last; desc: NaN first /
    NULL last)."""
    from pyspark.sql import Window

    from gexp_ml_dask_spark.operators.sorts import global_rank

    tied = spark.createDataFrame(
        [(i, 2048.0) for i in range(500)], "id LONG, k DOUBLE"
    )
    mixed = spark.createDataFrame(
        [
            (1, 5.0),
            (2, None),
            (3, float("nan")),
            (4, 1.0),
            (5, None),
            (6, float("nan")),
            (7, 9.0),
        ],
        "id LONG, k DOUBLE",
    )
    for df in (tied, mixed):
        for desc in (False, True):
            order = F.col("k").desc() if desc else F.col("k").asc()
            naive = {
                r["id"]: r["r"]
                for r in df.withColumn(
                    "r",
                    F.row_number().over(Window.orderBy(order, F.col("id"))),
                ).collect()
            }
            got = {
                r["id"]: r["rank"]
                for r in global_rank(
                    df, "k", "id", descending=desc, n_buckets=4
                ).collect()
            }
            assert got == naive, (desc, df is tied)


def test_global_rank_total_col_equals_max_rank(spark):
    """``total_col`` carries the frame's max rank on every row, and
    the ranks are the same as without it, in both directions, with
    NULL and NaN keys and ties."""
    from gexp_ml_dask_spark.operators.sorts import global_rank

    keys = [None, float("nan"), 1.0, 1.0, 2.5, None, 7.0, 1.0, 3.0, 2.5]
    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys * 20)], "id LONG, k DOUBLE"
    )
    for desc in (False, True):
        plain = {
            r["id"]: r["rank"]
            for r in global_rank(df, "k", "id", descending=desc, n_buckets=4)
            .collect()
        }
        rows = global_rank(
            df, "k", "id", descending=desc, n_buckets=4, total_col="n"
        ).collect()
        assert {r["id"]: r["rank"] for r in rows} == plain, desc
        assert {r["n"] for r in rows} == {max(plain.values())}, desc
        assert max(plain.values()) == len(keys) * 20


def test_global_rank_plan_has_no_global_window(spark):
    """The physical plan must not contain a window with an empty
    partition spec (the single-task funnel global_rank exists to
    avoid)."""
    from gexp_ml_dask_spark.operators.sorts import global_rank

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    plan = (
        global_rank(df, "k", "id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        # Window [exprs], [partition spec], [order spec] — partition
        # spec must be non-empty
        assert m.group(1).strip() != "", plan


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 9),
    st.integers(1, 9),
    st.sampled_from([1, 3, 4]),
    st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_any_shape_and_filters(h, w, ch, seed):
    """decode(encode(arr)) == arr for arbitrary small images across
    gray/RGB/RGBA with a per-row filter pattern derived from the
    seed — the pure-Python property twin of the spec-conformance
    test (no Spark session, so examples are cheap)."""
    import numpy as np

    from gexp_ml_dask_spark.llm.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
    filters = [(seed + r * 7) % 5 for r in range(h)]
    got = decode_png(encode_png(arr, row_filters=filters))
    assert got.shape == arr.shape
    assert (got == arr).all()


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(
            lambda t: t[0] != t[1]
        ),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    st.integers(1, 4),
)
def test_pagerank_matches_numpy_on_random_graphs(spark, raw_edges, n_iter):
    """pagerank == the NumPy power-iteration closed form on arbitrary
    small graphs (after symmetrize + dedup), for any iteration count:
    the relational dataflow (edge join -> partial sum -> node left
    join) must be EXACTLY the textbook recurrence, and total mass
    must stay 1 (symmetric graphs have no dangling leak)."""
    import numpy as np

    from gexp_ml_dask_spark.operators.graph import pagerank

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges})
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["pr"]
        for r in pagerank(df, n_iter=n_iter).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-9

    nodes = sorted(got)
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for a, b in edges:
        A[idx[b], idx[a]] = 1.0
        A[idx[a], idx[b]] = 1.0
    P = A / A.sum(axis=0)
    r = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(n_iter):
        r = 0.15 / len(nodes) + 0.85 * (P @ r)
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-12


def bpe_corpus_strategy(max_docs=5):
    """Corpora over a 2-letter alphabet so repeated symbols and
    tied pair counts are COMMON — the adversarial regime for greedy
    leftmost merge semantics and the deterministic tie-break."""
    word = st.text(alphabet="ab", min_size=1, max_size=6)
    text = st.lists(word, min_size=1, max_size=6).map(" ".join)
    return st.lists(text, min_size=1, max_size=max_docs)


@settings(max_examples=8, deadline=None)
@given(bpe_corpus_strategy(), st.sampled_from([1, 3]))
def test_bpe_matches_reference_on_random_corpora(spark, texts, k):
    """bpe_merges and bpe_token_counts equal the plain-Python
    Sennrich trainer on ANY corpus — including all-repeat words
    ('aaaaaa'), tie-heavy pair tables, and merged symbols that chain
    across rounds. The delimiter-replace merge is a semantics claim,
    so one counterexample is a bug."""
    from gexp_ml_dask_spark.llm.text import bpe_merges, bpe_token_counts
    from tests.test_llm_ops import _reference_bpe

    wc: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                wc[w] = wc.get(w, 0) + 1
    if not wc:
        return
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want, ref_enc = _reference_bpe(wc, k)
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_merges(docs, k=k).orderBy("merge_rank").collect()
    ]
    assert got == want, (got, want)

    ref_len = {"".join(syms): len(syms) for syms in ref_enc}
    expected = {
        i: (
            sum(1 for w in t.split(" ") if w),
            sum(ref_len[w] for w in t.split(" ") if w),
        )
        for i, t in enumerate(texts)
    }
    got_tok = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(docs, k=k).collect()
    }
    assert got_tok == expected, (got_tok, expected)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 1), min_size=1, max_size=12),
    st.lists(st.integers(0, 1), min_size=1, max_size=12),
)
def test_isotonic_pava_equals_minimax_property(spark, ys_a, ys_b):
    """PAVA (the engine's applyInPandas path) equals the minimax
    characterization fit(i) = max_{j<=i} min_{k>=i} avg(y[j..k]) —
    the theorem the DuckDB oracle relies on — for arbitrary binary
    label sequences across two groups."""
    from gexp_ml_dask_spark.ml.metrics import isotonic_calibrate

    rows = [
        (i, g, float(i), y)
        for g, ys in enumerate([ys_a, ys_b])
        for i, y in enumerate(ys)
    ]
    df = spark.createDataFrame(
        rows, "sample_id long, model long, score double, y long"
    )
    got = {
        (r["model"], r["sample_id"]): r["calibrated"]
        for r in isotonic_calibrate(df).collect()
    }
    for g, ys in enumerate([ys_a, ys_b]):
        n = len(ys)
        for i in range(n):
            fit = max(
                min(
                    sum(ys[j : kk + 1]) / (kk - j + 1)
                    for kk in range(i, n)
                )
                for j in range(i + 1)
            )
            assert abs(got[(g, i)] - round(fit, 6)) < 1e-9, (g, i)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-8, 8), st.integers(-8, 8)
        ),
        min_size=3,
        max_size=14,
        unique=True,
    ),
    st.sampled_from([2, 3]),
)
def test_kmeans_matches_reference_on_random_clouds(spark, pts, k):
    """kmeans_lloyd equals the id-tracking NumPy Lloyd loop under the
    identical quantization contract on arbitrary integer point sets —
    including tie-heavy distances (integer grids make exact distance
    ties COMMON, exercising the cluster-id tie-break) and
    empty-cluster dropout."""
    import numpy as np

    from gexp_ml_dask_spark.llm.similarity import kmeans_lloyd

    if len(pts) < k:
        return
    vecs = np.array(pts, dtype=float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_lloyd(df, k=k, n_iter=2).collect()
    }

    cent = {c: vecs[c].copy() for c in range(k)}  # ids 0..k-1 init
    assign = {}
    for _ in range(2):
        assign = {}
        for i, v in enumerate(vecs):
            best = min(
                (round(float(((v - cv) ** 2).sum()), 6), c)
                for c, cv in cent.items()
            )
            assign[i] = best  # (dist, cluster) with id tie-break
        new_cent = {}
        for c in set(c for _, c in assign.values()):
            members = [vecs[i] for i, (_, ci) in assign.items() if ci == c]
            new_cent[c] = np.round(np.mean(members, axis=0), 6)
        cent = new_cent
    for i in range(len(vecs)):
        d, c = assign[i]
        assert got[i] == (c, d), (i, got[i], (c, d))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-9, 9), st.integers(-9, 9), st.integers(-9, 9)),
        min_size=3,
        max_size=12,
        unique=True,
    )
)
def test_pca_power_matches_reference_on_random_clouds(spark, pts):
    """pca_power_top_component equals the NumPy power loop under the
    identical quantization contract on arbitrary integer clouds —
    degenerate shapes included (collinear points, zero-variance
    dims)."""
    import numpy as np

    from gexp_ml_dask_spark.llm.similarity import pca_power_top_component

    vecs = np.array(pts, dtype=float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["pos"]: r["loading"]
        for r in pca_power_top_component(df, n_iter=3).collect()
    }
    X = vecs - vecs.mean(axis=0)
    C = np.round(X.T @ X, 6)
    v = np.array([1.0, 0.0, 0.0])
    for _ in range(3):
        w = np.round(C @ v, 6)
        nrm = round(float(np.sqrt((w * w).sum())), 6)
        if nrm == 0:
            v = np.full(3, np.nan)
            break
        v = np.round(w / nrm, 6)
    for p in range(3):
        if np.isnan(v[p]):
            assert got[p] is None or np.isnan(got[p]), (p, got[p])
        else:
            assert got[p] is not None and abs(got[p] - v[p]) < 1e-9, (
                p, got[p], v[p],
            )


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=16,
    ),
    st.sampled_from([1, 3]),
)
def test_lpa_matches_reference_on_random_graphs(spark, raw_edges, n_iter):
    """Synchronous LPA equals the plain-Python round-by-round loop
    (majority neighbor label from the PREVIOUS round, ties to the
    smaller label) on arbitrary small graphs — including oscillating
    bipartite shapes, which both must replay identically."""
    from gexp_ml_dask_spark.operators.graph import (
        label_propagation_communities,
    )

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges})
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["community"]
        for r in label_propagation_communities(df, n_iter=n_iter).collect()
    }

    nbrs: dict[int, list[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    lab = {n: n for n in nbrs}
    for _ in range(n_iter):
        new = {}
        for n, ns in nbrs.items():
            counts: dict[int, int] = {}
            for m in ns:
                counts[lab[m]] = counts.get(lab[m], 0) + 1
            new[n] = min(counts, key=lambda c: (-counts[c], c))
        lab = new
    assert got == lab, (got, lab)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(1, 5)),   # l_orderkey
            st.integers(1, 3),                          # l_linenumber
            st.floats(-10, 10, allow_nan=False),        # price
            st.one_of(st.none(), st.floats(-1, 2, allow_nan=False)),  # disc
            st.sampled_from(["A", "N", "R", "X"]),      # flag
        ),
        min_size=1,
        max_size=20,
    )
)
def test_constraint_report_matches_pandas_counts(spark, rows):
    """constraint_report equals plain-pandas violation counting on
    arbitrary dirty tables — nulls, duplicates, orphans, off-range
    and off-list values in every combination."""
    import pandas as pd

    from gexp_ml_dask_spark.operators.validate import constraint_report

    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_extendedprice double, "
        "l_discount double, l_returnflag string",
    )
    parents = spark.createDataFrame([(1,), (2,), (3,)], "o_orderkey long")
    got = {
        r["check"]: r["n_violations"]
        for r in constraint_report(
            df,
            not_null=["l_orderkey"],
            non_negative=["l_extendedprice"],
            ranges={"l_discount": (0.0, 1.0)},
            accepted={"l_returnflag": ["A", "N", "R"]},
            unique=[["l_orderkey", "l_linenumber"]],
            foreign_keys=[(["l_orderkey"], parents, ["o_orderkey"])],
        ).collect()
    }
    pdf = pd.DataFrame(
        rows,
        columns=[
            "l_orderkey", "l_linenumber", "l_extendedprice",
            "l_discount", "l_returnflag",
        ],
    )
    assert got["not_null(l_orderkey)"] == int(pdf.l_orderkey.isna().sum())
    assert got["non_negative(l_extendedprice)"] == int(
        (pdf.l_extendedprice.isna() | (pdf.l_extendedprice < 0)).sum()
    )
    assert got["range(l_discount,[0.0,1.0])"] == int(
        (pdf.l_discount.isna() | (pdf.l_discount < 0) | (pdf.l_discount > 1)).sum()
    )
    assert got["accepted_values(l_returnflag)"] == int(
        (~pdf.l_returnflag.isin(["A", "N", "R"])).sum()
    )
    dup = pdf.groupby(
        ["l_orderkey", "l_linenumber"], dropna=False
    ).size()
    assert got["unique(l_orderkey,l_linenumber)"] == int((dup - 1).sum())
    orphan = pdf.l_orderkey.isna() | ~pdf.l_orderkey.isin([1, 2, 3])
    assert got["foreign_key(l_orderkey)"] == int(orphan.sum())


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 27)),  # (user, day)
        min_size=1,
        max_size=24,
    )
)
def test_cohort_retention_matches_pandas(spark, visits):
    """cohort_retention equals a plain-pandas cohort rollup on
    arbitrary (user, day) activity sets — offset-0 retention is
    always 1.0, counts partition each user's active weeks."""
    import datetime as dt

    from gexp_ml_dask_spark.operators.aggregates import cohort_retention

    base = dt.datetime(2024, 1, 1)  # a Monday
    rows = [
        (i, u, base + dt.timedelta(days=d, hours=1))
        for i, (u, d) in enumerate(visits)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    got = {
        (r["cohort_week"], r["week_offset"]): (r["n_users"], r["retention"])
        for r in cohort_retention(df).collect()
    }

    weeks: dict[int, set[int]] = {}
    for u, d in visits:
        weeks.setdefault(u, set()).add(d // 7)
    cohort = {u: min(ws) for u, ws in weeks.items()}
    sizes: dict[int, int] = {}
    for u, c in cohort.items():
        sizes[c] = sizes.get(c, 0) + 1
    want: dict[tuple, set] = {}
    for u, ws in weeks.items():
        for w in ws:
            want.setdefault((cohort[u], w - cohort[u]), set()).add(u)
    for (c, k), users in want.items():
        cw = (base + dt.timedelta(weeks=c)).strftime("%Y-%m-%d")
        n, rate = got[(cw, k)]
        assert n == len(users), ((c, k), n, len(users))
        assert abs(rate - round(len(users) / sizes[c], 6)) < 1e-9
        if k == 0:
            assert rate == 1.0
    assert len(got) == len(want)


@settings(max_examples=8, deadline=None)
@given(
    build=st.lists(st.integers(0, 500), min_size=0, max_size=25),
    probe=st.lists(st.integers(0, 500), min_size=1, max_size=60),
)
def test_bloom_positions_never_false_negative(spark, build, probe):
    """Bloom pre-join contract (op_join_02_bloom_semi): a probe key
    that IS in the build set always has all k positions set — the
    one-sided-error theorem, over arbitrary key sets including
    duplicates, empty build sides, and full overlap."""
    from gexp_ml_dask_spark.queries import _BLOOM_M, _BLOOM_SEEDS, _bloom_pos

    bdf = spark.createDataFrame(
        [(int(k),) for k in build] or [(None,)], "k long"
    ).filter(F.col("k").isNotNull())
    pos = bdf.select(
        F.explode(
            F.array(
                *[_bloom_pos(F.col("k"), s, _BLOOM_M) for s in _BLOOM_SEEDS]
            )
        ).alias("pos")
    ).distinct()
    pdf = spark.createDataFrame([(int(k),) for k in probe], "k long")
    passed = pdf
    for i, s in enumerate(_BLOOM_SEEDS):
        passed = passed.withColumn(f"p{i}", _bloom_pos(F.col("k"), s, _BLOOM_M))
    for i in range(len(_BLOOM_SEEDS)):
        passed = passed.join(
            F.broadcast(pos), passed[f"p{i}"] == pos["pos"], "left_semi"
        )
    got = {r["k"] for r in passed.select("k").distinct().collect()}
    must_pass = set(probe) & set(build)
    assert must_pass <= got, sorted(must_pass - got)
