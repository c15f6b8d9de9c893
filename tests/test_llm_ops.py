"""Tests for the mandate LLM-pipeline operators (OP-LLM-01..08)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    # documents + planted exact/near duplicates so dedup has targets
    base = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    dup_exact = base.filter(F.col("doc_id") < 3).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    near = base.filter(F.col("doc_id").between(3, 5)).withColumn(
        "doc_id", F.col("doc_id") + 200000
    ).withColumn("text", F.concat(F.col("text"), F.lit(" zzz")))
    return base.union(dup_exact).union(near)


def test_exact_dedup_removes_planted_dups(spark, docs):
    from gexp_ml_dask_spark.llm.dedup import exact_dedup, exact_dedup_groups

    n_docs = docs.count()
    groups = exact_dedup_groups(docs)
    assert groups.filter(F.col("n") == 2).count() == 3  # the planted pairs
    deduped = exact_dedup(docs)
    assert deduped.count() == n_docs - 3
    # keep-first: originals (small ids) survive
    assert deduped.filter(F.col("doc_id") >= 100000).filter(
        F.col("doc_id") < 200000
    ).count() == 0


def test_ngram_jaccard_finds_planted_neardups(spark, docs):
    from gexp_ml_dask_spark.llm.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, threshold=0.8, n=3).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # each near-dup (text + ' zzz') must pair with its source at j>=0.8
    for doc_id in (3, 4, 5):
        assert (doc_id, doc_id + 200000) in found, (doc_id, sorted(found)[:5])
    # exact dups score 1.0
    exact = [r for r in pairs if r["id_b"] == r["id_a"] + 100000]
    assert all(r["jaccard"] == 1.0 for r in exact)


def test_minhash_lsh_finds_exact_dups(spark, docs):
    from gexp_ml_dask_spark.llm.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, threshold=0.7).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    for doc_id in (0, 1, 2):
        assert (doc_id, doc_id + 100000) in found


def test_simhash_exact_dups_collide(spark, docs):
    from gexp_ml_dask_spark.llm.dedup import simhash_dup_groups, simhash_signatures

    sigs = {
        r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()
    }
    for doc_id in (0, 1, 2):
        assert sigs[doc_id] == sigs[doc_id + 100000]
    groups = simhash_dup_groups(docs)
    assert groups.filter(F.col("n") >= 2).count() >= 3


def test_embedding_neardup_symmetric_block(spark):
    from gexp_ml_dask_spark.llm.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    pairs = embedding_neardup_pairs(emb, threshold=0.3, method="brute")
    rows = pairs.collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    blocked = embedding_neardup_pairs(
        emb, threshold=0.3, block_col="label", method="brute"
    )
    assert blocked.count() <= len(rows)


def test_embedding_neardup_lsh_subset_of_brute(spark):
    """The default (LSH-blocked) form returns a SUBSET of the exact
    brute pair set — identical (id, cosine) rows for every candidate
    it admits — and its candidate join is an equi join, not a
    nested loop over all pairs."""
    from gexp_ml_dask_spark.llm.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    brute = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_neardup_pairs(
            emb, threshold=0.3, method="brute"
        ).collect()
    }
    lsh_df = embedding_neardup_pairs(emb, threshold=0.3)  # default method
    lsh = {(r["id_a"], r["id_b"], r["cosine"]) for r in lsh_df.collect()}
    assert lsh <= brute
    assert len(lsh) > 0
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    with pytest.raises(ValueError):
        embedding_neardup_pairs(emb, method="bogus")


def test_knn_bruteforce_top1_is_most_similar(spark):
    from gexp_ml_dask_spark.llm.similarity import knn_bruteforce

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_bruteforce(emb, queries, k=5).collect()
    assert len(out) == 5
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == list(
        range(1, 6)
    )
    assert all(r["vec_id"] != 0 for r in out)
    cosines = [r["cosine"] for r in sorted(out, key=lambda r: r["rank"])]
    assert cosines == sorted(cosines, reverse=True)


def test_knn_lsh_recall_vs_bruteforce(spark):
    from gexp_ml_dask_spark.llm.similarity import knn_bruteforce, knn_lsh

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_bruteforce(emb, queries, k=5).collect()
    # Calibrated serving config (measured 2026-08-14 on this corpus):
    # 2 planes x 4 OR-combined tables -> recall 0.88 vs exact top-5
    # (2 planes/1 table measured 0.56; more planes shrink buckets
    # faster than extra tables recover: 3x4 -> 0.60, 4x8 -> 0.60).
    # The gate pins the config a user can actually rely on.
    approx = knn_lsh(emb, queries, k=5, n_planes=2, n_tables=4).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, recall
    # and every returned neighbor must share the query's bucket ->
    # correctness of rank ordering within candidates
    for r in approx:
        assert r["query_id"] != r["vec_id"]


def test_text_stats_sane(spark, docs):
    from gexp_ml_dask_spark.llm.text import text_stats

    stats = text_stats(docs)
    row = stats.filter(F.col("doc_id") == 0).collect()[0]
    text = docs.filter(F.col("doc_id") == 0).collect()[0]["text"]
    assert row["n_chars"] == len(text)
    assert row["n_tokens"] == len(text.split(" "))
    assert 0 <= row["stopword_ratio"] <= 1
    assert row["quality"] in (0.0, 0.5, 1.0)


def test_language_id_argmax(spark):
    data = [
        (1, "the a of and to the"),
        (2, "der die und das ein der"),
        (3, "el la de que los"),
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    from gexp_ml_dask_spark.llm.text import language_id

    got = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "es"}


def test_fingerprints_stable_and_dup_invariant(spark, docs):
    from gexp_ml_dask_spark.llm.text import fingerprints

    fps = {r["doc_id"]: (r["fp_min"], r["fp_max"]) for r in fingerprints(docs).collect()}
    for doc_id in (0, 1, 2):  # exact dup -> identical fingerprint
        assert fps[doc_id] == fps[doc_id + 100000]


def test_multimodal_plumbing(spark, docs):
    from gexp_ml_dask_spark.llm.multimodal import (
        decode_image,
        extract_features,
        media_from_documents,
        payload_stats,
    )

    media = media_from_documents(docs)
    assert set(media.columns) == {"asset_id", "modality", "payload", "mime_type", "meta"}
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == docs.count()
    assert all(len(r["features"]) == 8 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r["features"])
    # deterministic: same payload -> same features (the exact dups)
    by_id = {r["asset_id"]: r["features"] for r in feats}
    assert by_id[0] == by_id[100000]
    stats = payload_stats(media).collect()
    assert {r["modality"] for r in stats} == {"image", "audio", "video"}
    with pytest.raises(NotImplementedError):
        decode_image(b"bytes")


def test_media_transform_payload_semantics(spark, docs):
    from gexp_ml_dask_spark.llm.multimodal import (
        media_from_documents,
        resize_image,
        transform_payloads,
    )

    media = media_from_documents(docs)
    out = transform_payloads(media, width=8, height=4, frame_every_n=5)
    rows = out.collect()
    assert len(rows) == docs.count()
    orig = {r["asset_id"]: bytes(r["payload"]) for r in media.collect()}
    for r in rows:
        b_in = orig[r["asset_id"]]
        b_out = bytes(r["payload"])
        assert r["n_bytes_in"] == len(b_in)
        assert r["n_bytes_out"] == len(b_out)
        if r["modality"] == "image":
            # resized to exactly width*height bytes, cycled from input
            assert len(b_out) == 32
            assert b_out == (b_in * (32 // len(b_in) + 1))[:32]
        elif r["modality"] == "video":
            # every 5th byte sampled
            assert b_out == b_in[::5]
        else:
            assert b_out == b_in
    with pytest.raises(NotImplementedError):
        resize_image(b"bytes", 8, 8)


def test_knn_ivf_recall_vs_bruteforce(spark):
    """IVF at the calibrated serving config (8 cells, n_probe=5 —
    recalibrated 2026-08-15 after the published sf0.1 recall fell to
    0.765 at n_probe=4; n_probe=5 measured 0.975/0.90/0.875 across
    sf0.001/0.01/0.1) must recover >= 0.8 of the exact top-10; and
    every IVF hit must carry the same cosine the exact path
    computes."""
    from pyspark.sql import functions as F

    from gexp_ml_dask_spark.llm.similarity import knn_bruteforce, knn_ivf

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in knn_bruteforce(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in knn_ivf(emb, queries, k=10, n_cells=8, n_probe=5).collect()
    }
    hits = set(exact) & set(approx)
    assert len(hits) / len(exact) >= 0.8, (len(hits), len(exact))
    for key in hits:
        assert exact[key] == approx[key]


def test_knn_pandas_equals_jvm(spark):
    """The Arrow-vectorized scorer must produce the identical top-k
    (same rounded cosines, same tie-breaks) as the JVM fold."""
    from gexp_ml_dask_spark.llm.similarity import (
        knn_bruteforce,
        knn_bruteforce_pandas,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    jvm = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in knn_bruteforce(emb, queries, k=10).collect()
    }
    arrow = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in knn_bruteforce_pandas(emb, queries, k=10).collect()
    }
    assert jvm == arrow


def test_simhash_neardup_exact_recall_vs_bruteforce(spark, docs):
    """4 bands over 32 bits => pigeonhole guarantees every pair
    within hamming 3 shares a full band: the banded join must return
    EXACTLY the brute-force hamming<=3 pair set, with the right
    distances."""
    from gexp_ml_dask_spark.llm.dedup import (
        simhash_neardup_pairs,
        simhash_signatures,
    )

    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(docs, hasher="md5_32").collect()
    }
    ids = sorted(sigs)
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }

    banded = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(
            docs, max_hamming=3, hasher="md5_32"
        ).collect()
    }
    assert banded == brute


def test_knn_lsh_multi_table_recall_monotone(spark):
    """Extra hash tables OR-combine candidates: recall at n_tables=3
    must be >= recall at n_tables=1 (same seed family), and scored
    pairs stay deduplicated (one row per (query, neighbor))."""
    from gexp_ml_dask_spark.llm.similarity import knn_bruteforce, knn_lsh

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_bruteforce(emb, queries, k=5).collect()
    }

    def recall(n_tables):
        rows = knn_lsh(
            emb, queries, k=5, n_planes=2, n_tables=n_tables
        ).collect()
        pairs = [(r["query_id"], r["vec_id"]) for r in rows]
        assert len(pairs) == len(set(pairs))  # dedup before scoring
        return len(exact & set(pairs)) / len(exact)

    r1, r3 = recall(1), recall(3)
    assert r3 >= r1, (r1, r3)


def test_pack_sequences_greedy_fill(spark):
    from gexp_ml_dask_spark.llm.text import pack_sequences

    # doc i has i+1 tokens; budget 5; single shard
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i + 1)), "s") for i in range(5)],
        "doc_id long, text string, source string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["bin_id"])
        for r in pack_sequences(docs, token_budget=5).collect()
    }
    # prefixes: 0,1,3,6,10 -> bins 0,0,0,1,2
    assert out == {0: (1, 0), 1: (2, 0), 2: (3, 0), 3: (4, 1), 4: (5, 2)}

    # shards pack independently: same docs in two sources
    docs2 = spark.createDataFrame(
        [(i + 10 * s, " ".join(["w"] * 3), f"s{s}") for s in range(2) for i in range(4)],
        "doc_id long, text string, source string",
    )
    rows = pack_sequences(docs2, token_budget=6).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["source"], []).append((r["doc_id"], r["bin_id"]))
    for s, pairs in by_shard.items():
        # prefixes 0,3,6,9 -> bins 0,0,1,1 within EACH shard
        assert [b for _, b in sorted(pairs)] == [0, 0, 1, 1], (s, pairs)


def test_sample_mixture_deterministic_and_weighted(spark, docs):
    from gexp_ml_dask_spark.llm.mixture import sample_mixture

    base = docs.filter(F.col("doc_id") < 100000)  # originals only
    n_src = {
        r["source"]: r["n"]
        for r in base.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    weights = {"src0": 1.0, "src1": 0.5}
    out = sample_mixture(base, weights)
    rows = out.collect()
    # sources absent from the weights table are dropped entirely
    assert {r["source"] for r in rows} <= {"src0", "src1"}
    # rate 1.0 keeps every doc
    kept0 = sum(1 for r in rows if r["source"] == "src0")
    assert kept0 == n_src["src0"]
    # rate 0.5 keeps a strict, non-empty subset
    kept1 = sum(1 for r in rows if r["source"] == "src1")
    assert 0 < kept1 < n_src["src1"]
    # deterministic: same membership on re-run
    again = {r["doc_id"] for r in sample_mixture(base, weights).collect()}
    assert again == {r["doc_id"] for r in rows}


def _reference_bpe(word_counts: dict[str, int], k: int):
    """Plain-Python BPE trainer (Sennrich et al. 2016 pseudocode):
    greedy leftmost merge of the most frequent adjacent pair, ties
    broken lexicographically."""
    enc = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for rank in range(1, k + 1):
        counts: dict[tuple, int] = {}
        for syms, c in enc.items():
            for i in range(len(syms) - 1):
                counts[syms[i], syms[i + 1]] = (
                    counts.get((syms[i], syms[i + 1]), 0) + c
                )
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        merges.append((rank, best[0], best[1], counts[best]))
        new_enc: dict[tuple, int] = {}
        for syms, c in enc.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and (syms[i], syms[i + 1]) == best
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_enc[tuple(out)] = new_enc.get(tuple(out), 0) + c
        enc = new_enc
    return merges, enc


def test_bpe_merges_match_reference_trainer(spark):
    """The delimiter-encoded replace() merge equals the classic
    pseudocode trainer — including greedy leftmost semantics on
    repeated symbols ('aaaa' merges (a,a) twice, not three times)
    and cross-round merged-symbol growth."""
    from gexp_ml_dask_spark.llm.text import bpe_merges

    texts = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest",
        "widest widest aaaa aaaa banana",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    wc: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            wc[w] = wc.get(w, 0) + 1
    want, ref_enc = _reference_bpe(wc, 6)
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_merges(docs, k=6)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == want, (got, want)

    # tokenize path: per-doc counts under the k=6 tokenizer match
    # the reference final encoding applied word by word
    from gexp_ml_dask_spark.llm.text import bpe_token_counts

    ref_len = {"".join(syms): len(syms) for syms in ref_enc}
    expected = {
        i: (
            len(t.split(" ")),
            sum(ref_len[w] for w in t.split(" ")),
        )
        for i, t in enumerate(texts)
    }
    got_tok = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(docs, k=6).collect()
    }
    assert got_tok == expected, (got_tok, expected)
    # sanity: pair COUNTING is positional (3 per 'aaaa'), while the
    # MERGE application is greedy non-overlapping (aaaa -> aa aa) —
    # the standard BPE asymmetry both implementations must share
    r1 = {(p[1], p[2]): p[3] for p in want if p[0] == 1}
    if ("a", "a") in r1:
        assert r1[("a", "a")] == 6  # 3 positions x 2 'aaaa' words


def test_kmeans_lloyd_matches_numpy_reference(spark):
    """kmeans_lloyd equals a plain-NumPy Lloyd loop under the same
    quantized-determinism contract (round-6 distances and centroid
    means, lowest-id init, cluster-id tie-break) on a fixture with
    well-separated blobs — and every vector lands with its blob."""
    import numpy as np

    from gexp_ml_dask_spark.llm.similarity import kmeans_lloyd

    rng = np.random.RandomState(7)
    centers = np.array([[5.0, 0.0, 0.0], [0.0, 5.0, 0.0], [0.0, 0.0, 5.0]])
    vecs = np.vstack(
        [c + 0.1 * rng.randn(10, 3) for c in centers]
    )  # ids 0..9 blob0, 10..19 blob1, 20..29 blob2
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_lloyd(df, k=3, n_iter=3).collect()
    }

    cent = vecs[:3].copy()
    assign = None
    for _ in range(3):
        d = np.round(
            ((vecs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), 6
        )
        assign = d.argmin(axis=1)  # ties -> lowest cluster id, as argmin
        cent = np.array(
            [
                np.round(vecs[assign == c].mean(axis=0), 6)
                for c in range(3)
                if (assign == c).any()
            ]
        )
    for i in range(30):
        want_c = int(assign[i])
        want_d = float(d[i, want_c])
        assert got[i][0] == want_c, (i, got[i], want_c)
        assert abs(got[i][1] - want_d) < 1e-9
    # blob purity: all members of a blob share one cluster
    for blob in range(3):
        ids = range(blob * 10, blob * 10 + 10)
        assert len({got[i][0] for i in ids}) == 1


def test_constraint_report_counts_planted_violations(spark):
    """Every constraint kind counts its planted violations exactly:
    nulls, negatives, out-of-range, off-list values, duplicate keys,
    and FK orphans — and passes flip accordingly."""
    from gexp_ml_dask_spark.operators.validate import constraint_report

    rows = [
        (1, 1, 10.0, 0.1, "A"),
        (1, 1, -5.0, 0.2, "N"),    # dup key + negative price
        (2, 1, 7.0, 1.5, "R"),     # discount out of range
        (None, 1, 3.0, 0.0, "X"),  # null key + bad flag
        (9, 1, 2.0, 0.3, "A"),     # orphan order 9
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_extendedprice double, "
        "l_discount double, l_returnflag string",
    )
    parents = spark.createDataFrame(
        [(1,), (2,)], "o_orderkey long"
    )
    got = {
        r["check"]: (r["n_violations"], r["passed"])
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
    assert got["not_null(l_orderkey)"] == (1, False)
    assert got["non_negative(l_extendedprice)"] == (1, False)
    assert got["range(l_discount,[0.0,1.0])"] == (1, False)
    assert got["accepted_values(l_returnflag)"] == (1, False)
    assert got["unique(l_orderkey,l_linenumber)"] == (1, False)
    # orphans: order 9 AND the null key row (NOT IN semantics)
    assert got["foreign_key(l_orderkey)"] == (2, False)


def test_isotonic_pava_monotone_and_hand_case(spark):
    """PAVA output is non-decreasing in score order, preserves the
    group mean, and matches the hand-pooled blocks on the textbook
    violator sequence."""
    from gexp_ml_dask_spark.ml.metrics import isotonic_calibrate

    # y = [1,0,0,1,0,1,1] -> blocks: [1,0,0] -> 1/3 pooled with
    # leading 1? PAVA: 1;0 -> pool(1/2);0 -> pool(1/3); 1;0 ->
    # pool(1/2); 1; 1 -> fit [1/3,1/3,1/3,1/2,1/2,1,1]
    rows = [(i, 0, float(i), y) for i, y in enumerate([1, 0, 0, 1, 0, 1, 1])]
    df = spark.createDataFrame(
        rows, "sample_id long, model long, score double, y long"
    )
    got = {
        r["sample_id"]: r["calibrated"]
        for r in isotonic_calibrate(df).collect()
    }
    want = [1 / 3, 1 / 3, 1 / 3, 0.5, 0.5, 1.0, 1.0]
    for i in range(7):
        assert abs(got[i] - round(want[i], 6)) < 1e-9, (i, got[i])
    vals = [got[i] for i in range(7)]
    assert vals == sorted(vals)  # monotone
    assert abs(sum(vals) - sum(y for *_, y in rows)) < 1e-4  # mean-preserving


def test_isotonic_fit_apply_step_semantics(spark):
    """Cogrouped fit/apply: serve scores between train scores take
    the fit of the last train row <= x, below-minimum clamps to the
    leftmost fit, and groups with no train rows yield NULL."""
    import math

    from gexp_ml_dask_spark.ml.metrics import isotonic_fit_apply

    train = spark.createDataFrame(
        [(0, 0, 1.0, 0), (1, 0, 2.0, 1), (2, 0, 3.0, 1)],
        "sample_id long, model long, score double, y long",
    )
    serve = spark.createDataFrame(
        [
            (10, 0, 0.5),   # below min -> clamp to fit(1.0)
            (11, 0, 2.5),   # between 2.0 and 3.0 -> fit(2.0)
            (12, 0, 9.0),   # above max -> fit(3.0)
            (13, 7, 1.0),   # model with no train rows -> NULL
        ],
        "sample_id long, model long, score double",
    )
    got = {
        r["sample_id"]: r["calibrated"]
        for r in isotonic_fit_apply(train, serve).collect()
    }
    # PAVA on y=[0,1,1] is already monotone: fits [0, 1, 1]
    assert got[10] == 0.0 and got[11] == 1.0 and got[12] == 1.0
    assert got[13] is None or math.isnan(got[13])


def test_pca_power_matches_numpy_reference(spark):
    """pca_power_top_component equals a NumPy power loop under the
    identical quantization contract, and on an anisotropic cloud the
    learned loading aligns with the true dominant axis."""
    import numpy as np

    from gexp_ml_dask_spark.llm.similarity import pca_power_top_component

    rng = np.random.RandomState(3)
    # dominant variance along a fixed direction u
    u = np.array([0.6, 0.8, 0.0, 0.0])
    vecs = 5.0 * rng.randn(40, 1) * u + 0.2 * rng.randn(40, 4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["pos"]: r["loading"]
        for r in pca_power_top_component(df, n_iter=4).collect()
    }

    X = vecs - vecs.mean(axis=0)
    C = np.round(X.T @ X, 6)
    v = np.array([1.0, 0.0, 0.0, 0.0])
    for _ in range(4):
        w = np.round(C @ v, 6)
        v = np.round(w / np.round(np.sqrt((w * w).sum()), 6), 6)
    for p in range(4):
        assert abs(got[p] - v[p]) < 1e-9, (p, got[p], v[p])
    # alignment with the planted axis (up to sign)
    dot = abs(got[0] * u[0] + got[1] * u[1])
    assert dot > 0.99, got


def test_curation_funnel_partitions_the_corpus(spark):
    """The funnel is a PARTITION of the corpus: per-stage counts sum
    to the total document count, and the 'kept' stage equals
    curate_documents_max's output cardinality on the same inputs."""
    from gexp_ml_dask_spark.plans.curation import (
        curate_documents_max,
        curation_funnel,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    weights = {f"src{i}": (1.0 if i < 10 else 0.25) for i in range(20)}
    rows = {r["stage"]: r["n_docs"] for r in curation_funnel(docs, weights).collect()}
    assert sum(rows.values()) == docs.count()
    kept = rows.get("kept", 0)
    assert kept == curate_documents_max(docs, weights).count()
    assert rows.get("eval_holdout", 0) == docs.filter("doc_id % 20 = 0").count()
    spark.catalog.clearCache()


def test_nb_quality_separates_and_matches_closed_form(spark):
    """The NB scorer (a) reproduces the hand-computed Laplace LLR on
    a tiny corpus, including the unseen-token penalty, and (b)
    separates held-out docs written in the curated vs raw
    vocabulary."""
    import math

    from gexp_ml_dask_spark.llm.text import nb_quality_scores

    rows = [
        (1, "good fine", "pos_src"),
        (2, "bad ugly", "neg_src"),
        (3, "good good", "heldout"),   # curated vocab -> positive
        (4, "ugly novel", "heldout"),  # raw vocab + unseen token
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = {
        r["doc_id"]: r
        for r in nb_quality_scores(
            docs, pos_sources=["pos_src"], neg_sources=["neg_src"]
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # model: V=4, T_pos=T_neg=2, priors ln(1/1)=0
    # llr(good) = ln(2/6) - ln(1/6) = ln 2; llr(ugly) = -ln 2
    # unseen = ln(6) - ln(6) = 0
    ln2 = math.log(2.0)
    assert abs(out[3]["nb_score"] - 2 * ln2) < 2e-6
    assert abs(out[4]["nb_score"] - (-ln2 + 0.0)) < 2e-6
    assert out[1]["is_quality"] and out[3]["is_quality"]
    assert not out[2]["is_quality"] and not out[4]["is_quality"]
    assert out[3]["n_tokens"] == 2 and out[4]["n_tokens"] == 2


def test_temperature_weights_limits_and_algebra(spark, docs):
    """alpha=1 reproduces natural token-share sampling, alpha=0 is
    uniform over sources, and the default alpha=0.5 upweights small
    sources relative to their natural share (weights always sum to
    1, epochs_per_pass = weight * total / n_tokens)."""
    import math

    from gexp_ml_dask_spark.llm.mixture import temperature_weights

    base = docs.filter(F.col("doc_id") < 100000)
    nat = {
        r["source"]: (r["token_share"], r["weight"], r["epochs_per_pass"])
        for r in temperature_weights(base, alpha=1.0).collect()
    }
    for share, weight, _ in nat.values():
        assert abs(share - weight) < 2e-6  # alpha=1 == natural
    uni = {
        r["source"]: r["weight"]
        for r in temperature_weights(base, alpha=0.0).collect()
    }
    assert all(abs(w - 1.0 / len(uni)) < 2e-6 for w in uni.values())

    rows = temperature_weights(base, alpha=0.5).collect()
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    total = sum(r["n_tokens"] for r in rows)
    sq = sum(math.sqrt(r["n_tokens"]) for r in rows)
    for r in rows:
        want = math.sqrt(r["n_tokens"]) / sq
        assert abs(r["weight"] - want) < 2e-6
        assert (
            abs(r["epochs_per_pass"] - want * total / r["n_tokens"]) < 2e-6
        )
        # 0<alpha<1 compresses the spread: small sources move UP
        # toward uniform, large sources move DOWN
        if r["token_share"] < 1.0 / len(rows):
            assert r["weight"] >= r["token_share"] - 2e-6
        else:
            assert r["weight"] <= r["token_share"] + 2e-6


def test_upsample_mixture_copy_semantics(spark, docs):
    from gexp_ml_dask_spark.llm.mixture import upsample_mixture

    base = docs.filter(F.col("doc_id") < 100000)
    n0 = base.filter(F.col("source") == "src0").count()
    out = upsample_mixture(base, {"src0": 3.0, "src1": 1.5, "src2": 0.5})
    rows = out.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault((r["source"], r["doc_id"]), []).append(r["copy_id"])
    # integer rate: exactly 3 copies of every src0 doc, ids 1..3
    src0 = {k: v for k, v in per_doc.items() if k[0] == "src0"}
    assert len(src0) == n0
    assert all(sorted(v) == [1, 2, 3] for v in src0.values())
    # fractional part: src1 docs get 1 or 2 copies, both occurring
    counts1 = {len(v) for k, v in per_doc.items() if k[0] == "src1"}
    assert counts1 <= {1, 2} and 2 in counts1
    # rate < 1: strict subset, single copies
    assert all(v == [1] for k, v in per_doc.items() if k[0] == "src2")


def test_chunk_documents_overlap_and_coverage(spark):
    from gexp_ml_dask_spark.llm.text import chunk_documents

    words = [f"w{i}" for i in range(100)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, "short doc")],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=64, overlap=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r
    # 100 tokens, step 48 -> ceil((100-16)/48) = 2 chunks
    assert set(by_doc[1]) == {0, 1}
    c0, c1 = by_doc[1][0], by_doc[1][1]
    assert c0["chunk_text"].split(" ") == words[0:64]
    assert c1["chunk_text"].split(" ") == words[48:100]
    assert (c0["n_chunk_tokens"], c1["n_chunk_tokens"]) == (64, 52)
    # overlap: last 16 tokens of chunk 0 == first 16 of chunk 1
    assert c0["chunk_text"].split(" ")[-16:] == c1["chunk_text"].split(" ")[:16]
    # short doc -> one whole chunk
    assert set(by_doc[2]) == {0}
    assert by_doc[2][0]["chunk_text"] == "short doc"
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=16, overlap=16)


import pytest as _pytest


@_pytest.mark.parametrize("driver_threshold", [0, 200_000])
def test_connected_components_chain_star_singpair(spark, driver_threshold):
    """A 12-node chain (worst case for plain neighbor-min: needs
    pointer jumping), a star, and an isolated pair must each collapse
    to their min id — on BOTH the distributed loop (threshold=0) and
    the driver union-find fallback."""
    from gexp_ml_dask_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(100, 112)]
    star = [(50, x) for x in (51, 52, 53, 54)]
    pair = [(7, 3)]
    edges = spark.createDataFrame(
        chain + star + pair, "id_a long, id_b long"
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(
            edges, driver_threshold=driver_threshold
        ).collect()
    }
    want = {(i, 100) for i in range(100, 113)}
    want |= {(x, 50) for x in (50, 51, 52, 53, 54)}
    want |= {(3, 3), (7, 3)}
    assert got == want


def test_pagerank_star_plus_pair_closed_form(spark):
    """PageRank on a symmetrized star + isolated pair: mass is
    conserved (no dangling nodes on a symmetric graph), the hub
    ranks highest, and every rank matches the NumPy power-iteration
    closed form to float precision."""
    import numpy as np

    from gexp_ml_dask_spark.operators.graph import pagerank

    star = [(50, x) for x in (51, 52, 53, 54)]
    pair = [(7, 3)]
    edges = spark.createDataFrame(star + pair, "id_a long, id_b long")
    got = {r["node"]: r["pr"] for r in pagerank(edges, n_iter=3).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[50] == max(got.values())

    nodes = sorted(got)
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for a, b in star + pair:
        A[idx[b], idx[a]] = 1.0
        A[idx[a], idx[b]] = 1.0
    P = A / A.sum(axis=0)
    r = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(3):
        r = 0.15 / len(nodes) + 0.85 * (P @ r)
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-12


def test_connected_components_random_vs_union_find(spark):
    """Randomized cross-check against a driver-side union-find."""
    import random

    rng = random.Random(42)
    n = 60
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(45)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    want = {x: find(x) for x in touched}
    # union-find roots are not necessarily the min id; normalize
    by_root = {}
    for x, r in want.items():
        by_root.setdefault(find(r), []).append(x)
    want = {
        x: min(members)
        for root, members in by_root.items()
        for x in members
    }

    from gexp_ml_dask_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    for thr in (0, 200_000):
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, driver_threshold=thr).collect()
        }
        assert got == want
    assert got == want


def test_scrub_pii_rules(spark):
    from gexp_ml_dask_spark.llm.text import scrub_pii

    rows = [
        (1, "mail a@b.io and c.d+x@e-f.org now"),
        (2, "go to https://x.io/a?q=1 or http://y.z/b"),
        (3, "call 555-123-4567 and 800.555.1212 not 12-34"),
        (4, "clean text no pii"),
        (5, "url with mail https://u.io/a@b.com trailing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert out[1]["clean_text"] == "mail <EMAIL> and <EMAIL> now"
    assert out[1]["n_email"] == 2
    assert out[2]["clean_text"] == "go to <URL> or <URL>"
    assert out[2]["n_url"] == 2
    assert out[3]["clean_text"] == "call <PHONE> and <PHONE> not 12-34"
    assert out[3]["n_phone"] == 2
    assert out[4]["clean_text"] == "clean text no pii"
    assert (out[4]["n_url"], out[4]["n_email"], out[4]["n_phone"]) == (0, 0, 0)
    # URL rule runs first and consumes the embedded address
    assert out[5]["clean_text"] == "url with mail <URL> trailing"


def test_bigram_lm_scores_fluency_ordering(spark):
    """Documents made of corpus-frequent transitions must outscore
    documents with unique transitions; <2-token docs are absent."""
    from gexp_ml_dask_spark.llm.text import bigram_lm_scores

    rows = [
        (1, "a b a b a b"),      # a>b dominates the a-prefix
        (2, "a b a b"),
        (3, "a x a y a z"),      # rare continuations of the same prefix
        (4, "solo"),             # no bigram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    assert 4 not in out
    assert out[1]["n_bigrams"] == 5 and out[3]["n_bigrams"] == 5
    # corpus: C(a>b)=5, C(a>x)=C(a>y)=C(a>z)=1 over prefix a (8);
    # frequent transitions must outscore rare ones
    assert out[1]["avg_logp"] > out[3]["avg_logp"]
    import math
    assert abs(out[1]["avg_logp"] - round(3 / 5 * math.log(5 / 8), 6)) < 1e-9


def test_bigram_lm_scores_score_docs_matches_score_then_join(spark, docs):
    """Scoring a subset under the full corpus's model
    (``score_docs=``) returns the same rows as scoring the whole
    corpus and inner-joining the subset's ids."""
    from gexp_ml_dask_spark.llm.text import bigram_lm_scores

    subset = docs.filter(F.col("doc_id") % 3 == 0)
    cols = ["doc_id", "n_bigrams", "avg_logp"]
    direct = sorted(
        tuple(r)
        for r in bigram_lm_scores(docs, score_docs=subset).select(cols).collect()
    )
    joined = sorted(
        tuple(r)
        for r in bigram_lm_scores(docs)
        .join(subset.select("doc_id"), "doc_id")
        .select(cols)
        .collect()
    )
    assert direct == joined
    assert len(direct) > 10


def test_random_projection_linear_and_deterministic(spark):
    from gexp_ml_dask_spark.llm.similarity import random_projection

    rows = [
        (1, [1.0] * 64),
        (2, [2.0] * 64),   # 2x row 1 -> projections exactly 2x
        (3, [1.0] * 64),   # identical to row 1 -> identical output
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: [r[f"p{j}"] for j in range(8)] for r in
           random_projection(df).collect()}
    assert out[1] == out[3]
    for a, b in zip(out[1], out[2]):
        assert abs(b - 2 * a) < 2e-6   # 6dp rounding slack
    # distinct non-parallel inputs should not collapse
    assert out[1] != [0.0] * 8


def test_curation_full_gates_compose(spark, docs):
    """Extended curation output must be a subset of the basic
    pipeline's survivors filtered by the fluency gate, and dedup must
    run on SCRUBBED text."""
    from gexp_ml_dask_spark.plans.curation import (
        curate_documents,
        curate_documents_full,
    )

    weights = {"web": 1.0, "books": 1.0, "code": 1.0}
    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    weights = {s: 1.0 for s in srcs}
    full = curate_documents_full(
        docs, weights, min_quality=0.0, min_fluency=-1e9
    )
    basic = curate_documents(docs, weights, min_quality=0.0)
    # with gates disabled, both keep exactly the dedup survivors
    # (scrub is identity on this corpus)
    assert {r["doc_id"] for r in full.collect()} == {
        r["doc_id"] for r in basic.collect()
    }
    # tightening the fluency gate only removes rows
    tight = curate_documents_full(
        docs, weights, min_quality=0.0, min_fluency=-3.3
    )
    assert tight.count() < full.count()


def _pair_set(df):
    return {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }


def test_prefix_jaccard_identical_pairs(spark, docs):
    """The AllPairs prefix-filtered form must produce the IDENTICAL
    pair set (ids AND rounded jaccard) as the inverted-index join —
    losslessness is a theorem, so this is exact set equality, at two
    thresholds, on the corpus with planted exact + near duplicates.
    This is the parity the dedup.py docstrings cite."""
    from gexp_ml_dask_spark.llm.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    for t in (0.4, 0.8):
        inv = _pair_set(ngram_jaccard_pairs(docs, threshold=t, n=3))
        pre = _pair_set(ngram_jaccard_pairs_prefix(docs, threshold=t, n=3))
        assert inv == pre, (t, inv ^ pre)
    assert inv  # exact dups exist at 0.8, so the sets are non-trivial


@pytest.fixture(scope="module")
def hot_shingle_docs(spark):
    """Synthetic Zipf-ish corpus: EVERY doc opens with the same three
    tokens (one globally hot trigram shingle), near-dup pairs differ
    only in their final token, and the rest of each doc is unique.
    This is the regime where the unblocked inverted index goes
    quadratic and prefix filtering must still be lossless."""
    rows = []
    for i in range(40):
        tail = " ".join(f"tok{i}_{j}" for j in range(8))
        rows.append((i, f"the quick fox {tail} end{i}"))
        if i < 10:  # planted near-dup: same text, different last token
            rows.append((1000 + i, f"the quick fox {tail} alt{i}"))
    # one near-dup pair with odd/even ids (lands cross-block under
    # blk = doc_id % 2, so blocking provably drops it)
    rows.append((600, "the quick fox cross a b c d e f g end600"))
    rows.append((601, "the quick fox cross a b c d e f g alt600"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_prefix_jaccard_hot_shingle_lossless(spark, hot_shingle_docs):
    from gexp_ml_dask_spark.llm.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    inv = _pair_set(ngram_jaccard_pairs(hot_shingle_docs, threshold=0.5))
    pre = _pair_set(
        ngram_jaccard_pairs_prefix(hot_shingle_docs, threshold=0.5)
    )
    assert inv == pre, inv ^ pre
    found = {(a, b) for a, b, _ in pre}
    for i in range(10):  # every planted near-dup pair is recovered
        assert (i, 1000 + i) in found


def test_prefix_jaccard_block_col_forwarding(spark, hot_shingle_docs):
    """block_col composes identically in both physical forms: pairs
    restricted to the same blocking key, full-set jaccard."""
    from gexp_ml_dask_spark.llm.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    blocked = hot_shingle_docs.withColumn("blk", F.col("doc_id") % 2)
    inv = _pair_set(
        ngram_jaccard_pairs(blocked, threshold=0.5, block_col="blk")
    )
    pre = _pair_set(
        ngram_jaccard_pairs_prefix(blocked, threshold=0.5, block_col="blk")
    )
    assert inv == pre
    # blocking is a restriction of the unblocked pair set
    unblocked = _pair_set(ngram_jaccard_pairs(blocked, threshold=0.5))
    assert pre <= unblocked and len(pre) < len(unblocked)


def test_remove_dup_spans_keeps_canonical_copy(spark):
    """The planted 5-gram span must be CUT from the higher-id doc,
    kept verbatim in the minimum-id owner, and unrelated docs must
    pass through untouched."""
    from gexp_ml_dask_spark.llm.dedup import remove_duplicate_spans

    span = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"intro one two {span} tail one"),
            (2, f"other opening words {span} closing bit here"),
            (3, "completely unrelated text with enough tokens here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in remove_duplicate_spans(docs, n=5).collect()
    }
    assert span in out[1]["text_clean"]          # canonical keeps it
    assert out[1]["n_removed_tokens"] == 0
    assert span not in out[2]["text_clean"]      # duplicate cut
    assert out[2]["n_removed_tokens"] == 5
    assert out[2]["text_clean"] == "other opening words closing bit here"
    assert out[3]["text_clean"] == "completely unrelated text with enough tokens here"
    assert out[3]["n_removed_tokens"] == 0


def test_epoch_shuffle_is_permutation_and_seed_sensitive(spark):
    """Every doc gets exactly one (shard, pos) address, positions are
    dense per shard, and a different seed reorders the corpus."""
    from gexp_ml_dask_spark.llm.mixture import epoch_shuffle

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n = docs.count()
    out = epoch_shuffle(docs, seed=42, n_shards=8).collect()
    assert len(out) == n
    assert len({r["doc_id"] for r in out}) == n
    per_shard = {}
    for r in out:
        per_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
    for shard, poss in per_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    addr42 = {r["doc_id"]: (r["shard"], r["pos_in_shard"]) for r in out}
    addr43 = {
        r["doc_id"]: (r["shard"], r["pos_in_shard"])
        for r in epoch_shuffle(docs, seed=43, n_shards=8).collect()
    }
    assert addr42 != addr43


def test_balanced_shards_token_totals_even(spark):
    """Shard token totals must sit within a few percent of each other
    — the point of the snake; plain hash sharding gives no such
    bound."""
    from gexp_ml_dask_spark.llm.mixture import balanced_shards

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = balanced_shards(docs, n_shards=16).collect()
    assert len(out) == docs.count()
    totals = {}
    for r in out:
        totals[r["shard"]] = totals.get(r["shard"], 0) + r["n_tokens"]
    assert set(totals) == set(range(16))
    lo, hi = min(totals.values()), max(totals.values())
    assert hi - lo <= 0.05 * hi, totals


def test_prefix_tf_cosine_identical_pairs(spark, docs):
    """The L2-prefix-filtered TF cosine must produce the IDENTICAL
    row set (ids AND rounded cosine) as the inverted-index join —
    the Cauchy-Schwarz prefix bound is a theorem, so this is exact
    set equality at two thresholds. This is the parity the dedup.py
    docstrings cite."""
    from gexp_ml_dask_spark.llm.dedup import (
        tf_cosine_pairs,
        tf_cosine_pairs_prefix,
    )

    for t in (0.9, 0.7):
        inv = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in tf_cosine_pairs(docs, threshold=t).collect()
        }
        pre = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in tf_cosine_pairs_prefix(docs, threshold=t).collect()
        }
        assert inv == pre, (t, inv ^ pre)
    assert inv  # non-trivial at 0.7 on the planted-dup corpus


def test_prefix_tf_cosine_hot_vocab_lossless(spark, hot_shingle_docs):
    """Small shared vocabulary = every posting hot — the regime that
    GC-killed the unblocked join at sf0.1. The prefix index must
    still emit the identical pair set."""
    from gexp_ml_dask_spark.llm.dedup import (
        tf_cosine_pairs,
        tf_cosine_pairs_prefix,
    )

    inv = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in tf_cosine_pairs(hot_shingle_docs, threshold=0.8).collect()
    }
    pre = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in tf_cosine_pairs_prefix(
            hot_shingle_docs, threshold=0.8
        ).collect()
    }
    assert inv == pre and inv


def test_prefix_containment_identical_pairs(spark, docs, hot_shingle_docs):
    """The size-oriented prefix-filtered containment must produce the
    IDENTICAL pair set (ids AND rounded containment) as the
    inverted-index join on both the planted-dup corpus and the
    hot-shingle fixture — losslessness is a theorem."""
    from gexp_ml_dask_spark.llm.dedup import (
        containment_pairs,
        containment_pairs_prefix,
    )

    for frame in (docs, hot_shingle_docs):
        for t in (0.7, 0.9):
            inv = {
                (r["id_a"], r["id_b"], r["containment"])
                for r in containment_pairs(frame, threshold=t, n=3).collect()
            }
            pre = {
                (r["id_a"], r["id_b"], r["containment"])
                for r in containment_pairs_prefix(
                    frame, threshold=t, n=3
                ).collect()
            }
            assert inv == pre, (t, inv ^ pre)
    assert inv  # hot-shingle fixture has planted near-subsets


def test_contamination_hits_matches_decontaminate_filter(spark, docs):
    """On a unique-doc_id corpus the hits-only probe returns exactly
    the contaminated rows of the full operator: the same
    (doc_id, n_contaminated_ngrams) rows as
    ``decontaminate(...).filter("is_contaminated")``."""
    from gexp_ml_dask_spark.llm.dedup import (
        contamination_hits,
        decontaminate,
    )

    assert docs.select("doc_id").distinct().count() == docs.count()
    # the eval split's texts recur in the planted exact/near copies
    eval_docs = docs.filter(F.col("doc_id") < 10)
    for n in (3, 8):
        hits = sorted(
            tuple(r)
            for r in contamination_hits(docs, eval_docs, n=n)
            .select("doc_id", "n_contaminated_ngrams")
            .collect()
        )
        full = sorted(
            tuple(r)
            for r in decontaminate(docs, eval_docs, n=n)
            .filter("is_contaminated")
            .select("doc_id", "n_contaminated_ngrams")
            .collect()
        )
        assert hits == full, n
        assert {i for i, _ in hits} >= {100000, 200003}, n


def test_incremental_ingest_admission_rules(spark):
    """Planted scenario: a batch doc duplicating a corpus doc is
    rejected; two batch copies admit only the min id; a fresh doc is
    admitted; corpus rows never appear in the output."""
    from gexp_ml_dask_spark.plans.curation import ingest_increment

    corpus = spark.createDataFrame(
        [(1, "web", "already in the corpus"), (2, "web", "old news")],
        "doc_id long, source string, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "web", "already in the corpus"),   # corpus dup -> reject
            (11, "books", "brand new document"),    # fresh -> admit
            (12, "books", "brand new document"),    # batch dup -> reject
            (13, "web", "another fresh one"),       # fresh -> admit
        ],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r["source"] for r in ingest_increment(corpus, batch).collect()}
    assert out == {11: "books", 13: "web"}


def test_knn_filtered_pre_filters_candidates(spark):
    """Every returned neighbor must satisfy the metadata predicate,
    each query must still get a full k (pre-filter, not post-filter),
    and an eligible doc ranked outside the UNfiltered top-k must
    appear when closer ineligible docs are excluded."""
    from gexp_ml_dask_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = QUERIES["op_llm_03_knn_filtered"](spark, sf).collect()
    en_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .filter(F.col("lang") == "en")
        .collect()
    }
    assert out and all(r["vec_id"] in en_ids for r in out)
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, 11)), q
    unfiltered = QUERIES["op_llm_03_knn_bruteforce"](spark, sf).collect()
    un_top = {(r["query_id"], r["vec_id"]) for r in unfiltered}
    assert any((r["query_id"], r["vec_id"]) not in un_top for r in out), (
        "filtered top-k never surfaced a doc beyond the unfiltered top-k"
    )


def test_ppm_decode_roundtrip_and_boundaries():
    """decode_image must really parse P6 (incl. header comments),
    roundtrip with encode_ppm, nearest-neighbor resize must pick the
    expected pixels, and compressed formats must still raise the
    honest NotImplementedError."""
    import numpy as np
    import pytest as _pytest

    from gexp_ml_dask_spark.llm.multimodal import (
        decode_image,
        encode_ppm,
        resize_image,
    )

    arr = np.arange(2 * 4 * 3, dtype=np.uint8).reshape(2, 4, 3)
    payload = encode_ppm(arr)
    assert (decode_image(payload) == arr).all()

    commented = b"P6\n# a netpbm comment\n4 2\n255\n" + arr.tobytes()
    assert (decode_image(commented) == arr).all()

    small = decode_image(resize_image(payload, width=2, height=1))
    # nearest-neighbor with rows = [0], cols = [0, 2]
    assert small.shape == (1, 2, 3)
    assert (small == arr[[0]][:, [0, 2]]).all()

    with _pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0....JFIF....")  # JPEG stays stubbed


def test_wav_decode_roundtrip_and_boundaries():
    """decode_audio must really parse RIFF/WAVE (roundtrip with
    encode_wav, stereo reshape, 8-bit and compressed payloads raise
    the honest NotImplementedError)."""
    import io
    import wave

    import numpy as np
    import pytest as _pytest

    from gexp_ml_dask_spark.llm.multimodal import decode_audio, encode_wav

    samples = ((np.arange(512) * 13) % 4096 - 2048).astype("<i2")
    got, rate = decode_audio(encode_wav(samples, rate=22_050))
    assert rate == 22_050
    assert (got == samples).all()

    # stereo: frames interleave L/R -> (n, 2) reshape
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8_000)
        wf.writeframes(np.arange(8, dtype="<i2").tobytes())
    st, st_rate = decode_audio(buf.getvalue())
    assert st_rate == 8_000 and st.shape == (4, 2)
    assert (st == np.arange(8).reshape(4, 2)).all()

    # 8-bit PCM and non-WAV formats: honest stubs
    buf8 = io.BytesIO()
    with wave.open(buf8, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(8_000)
        wf.writeframes(b"\x00\x01\x02\x03")
    with _pytest.raises(NotImplementedError):
        decode_audio(buf8.getvalue())
    with _pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04\x00....")  # mp3


def test_y4m_frame_sampling_not_delimiter_split():
    """sample_video_frames must walk header-derived frame sizes —
    pixel bytes containing the literal b'FRAME' must NOT split a
    frame — and must honour colorspace subsampling sizes."""
    import pytest as _pytest

    from gexp_ml_dask_spark.llm.multimodal import sample_video_frames

    w, h = 4, 2
    fsize = 3 * w * h  # C444
    # frame 1's pixels embed the marker mid-frame
    f0 = bytes(range(fsize))
    f1 = b"FRAMEFRAME" + bytes(fsize - 10)
    f2 = bytes(reversed(range(fsize)))
    payload = (
        b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C444\n"
        + b"FRAME\n" + f0 + b"FRAME\n" + f1 + b"FRAME\n" + f2
    )
    frames = sample_video_frames(payload, every_n=1)
    assert frames == [f0, f1, f2]
    assert sample_video_frames(payload, every_n=2) == [f0, f2]

    # C420 frame size is w*h*3/2
    f420 = bytes(w * h * 3 // 2)
    p420 = b"YUV4MPEG2 W4 H2 C420jpeg\n" + b"FRAME\n" + f420
    assert sample_video_frames(p420, every_n=1) == [f420]

    with _pytest.raises(NotImplementedError):
        sample_video_frames(b"\x00\x00\x00 ftypmp42....")  # mp4
    with _pytest.raises(ValueError):
        # truncated FRAME marker mid-stream
        sample_video_frames(
            b"YUV4MPEG2 W4 H2 C444\nFRAME\n" + f0 + b"JUNK", every_n=1
        )


def test_png_codec_spec_conformance_and_roundtrip():
    """decode_png must really decode: (a) filtered scanlines inside
    the IDAT match HAND-COMPUTED values from the PNG spec equations
    (pins encoder AND decoder to the spec, not just to each other),
    (b) roundtrips hold for gray/RGB/RGBA under every filter, (c)
    CRC corruption and unsupported variants raise."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from gexp_ml_dask_spark.llm.multimodal import (
        decode_image,
        decode_png,
        encode_png,
    )

    def idat_raw(payload):
        pos, idat = 8, bytearray()
        while pos + 12 <= len(payload):
            (length,) = struct.unpack_from(">I", payload, pos)
            ctype = payload[pos + 4 : pos + 8]
            if ctype == b"IDAT":
                idat.extend(payload[pos + 8 : pos + 8 + length])
            pos += 12 + length
        return zlib.decompress(bytes(idat))

    # gray 2x3, bpp=1 — expected filtered bytes computed by hand
    # from the spec: Sub(x)=raw-left, Up=raw-up, Avg=raw-floor((l+u)/2),
    # Paeth=raw-nearest(l,u,ul to l+u-ul).
    g = np.array([[10, 20, 37], [15, 25, 200]], dtype=np.uint8)
    assert idat_raw(encode_png(g, row_filters=[1, 2])) == bytes(
        [1, 10, 10, 17, 2, 5, 5, 163]
    )
    assert idat_raw(encode_png(g, row_filters=[0, 3])) == bytes(
        [0, 10, 20, 37, 3, 10, 8, 169]
    )
    assert idat_raw(encode_png(g, row_filters=[0, 4])) == bytes(
        [0, 10, 20, 37, 4, 5, 5, 163]
    )

    rng = np.random.default_rng(7)
    for ch in (1, 3, 4):
        shape = (11, 13) if ch == 1 else (11, 13, ch)
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for filters in ([0] * 11, [1] * 11, [2] * 11, [3] * 11,
                        [4] * 11, [0, 1, 2, 3, 4] * 2 + [4]):
            got = decode_png(encode_png(arr, row_filters=filters))
            assert got.shape == arr.shape and (got == arr).all(), (
                ch,
                filters[:5],
            )

    # decode_image dispatches PNG to the real decoder
    rgb = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
    assert (decode_image(encode_png(rgb)) == rgb).all()

    good = encode_png(rgb)
    corrupt = bytearray(good)
    corrupt[40] ^= 0xFF  # flip a byte inside a chunk body
    with _pytest.raises((ValueError, zlib.error)):
        decode_png(bytes(corrupt))
    # 16-bit depth: patch IHDR (and fix its CRC) -> honest stub
    ihdr = bytearray(good[:33])
    ihdr[24] = 16
    ihdr[29:33] = struct.pack(
        ">I", zlib.crc32(bytes(ihdr[12:29])) & 0xFFFFFFFF
    )
    with _pytest.raises(NotImplementedError):
        decode_png(bytes(ihdr) + good[33:])


def test_decoder_boundary_contracts():
    """The review-hardened boundaries: non-PCM RIFF routes to the
    uniform NotImplementedError stub (not raw wave.Error), truncated
    y4m/PNG raise ValueError (not short data / struct.error), gray
    PNG resizes via RGB promotion, RGBA resize refuses."""
    import struct

    import numpy as np
    import pytest as _pytest

    from gexp_ml_dask_spark.llm.multimodal import (
        decode_audio,
        decode_image,
        decode_png,
        encode_png,
        resize_image,
        sample_video_frames,
    )

    # hand-built RIFF/WAVE with format code 7 (mu-law): passes the
    # signature guard, must surface as the stub, not wave.Error
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    mulaw = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with _pytest.raises(NotImplementedError):
        decode_audio(mulaw)

    # y4m truncated mid-frame: error, never a short final frame
    with _pytest.raises(ValueError, match="truncated"):
        sample_video_frames(
            b"YUV4MPEG2 W4 H2 C444\nFRAME\n" + bytes(10), every_n=1
        )

    good = encode_png(np.arange(60, dtype=np.uint8).reshape(4, 5, 3))
    with _pytest.raises(ValueError):  # truncated inside a chunk
        decode_png(good[:45])

    gray = (np.arange(12, dtype=np.uint8) * 20).reshape(3, 4)
    small = decode_image(resize_image(encode_png(gray), 2, 2))
    assert small.shape == (2, 2, 3)
    assert (small[:, :, 0] == small[:, :, 1]).all()  # promoted planes

    rgba = np.zeros((3, 4, 4), dtype=np.uint8)
    with _pytest.raises(NotImplementedError, match="alpha"):
        resize_image(encode_png(rgba), 2, 2)


def test_char_entropy_golden(spark):
    """Hand-computed entropies: one repeated char -> 0 bits; two
    chars 50/50 -> 1 bit; four distinct -> 2 bits; 'aab' ->
    log2(3) - (2*1 + 1*0)/3 = 0.918296 at 6dp."""
    from gexp_ml_dask_spark.llm.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "aab"), (5, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_chars_seen"], r["char_entropy"])
        for r in char_entropy(docs).collect()
    }
    assert got[1] == (4, 0.0)
    assert got[2] == (4, 1.0)
    assert got[3] == (4, 2.0)
    assert got[4] == (3, 0.918296)
    assert 5 not in got  # empty text drops out
