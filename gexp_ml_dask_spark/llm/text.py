"""Text-analysis operators (SURVEY.md §2.11, OP-LLM-04 — [mandate]).

All pure column expressions — the hot path of a 100 TB text pipeline
must stay inside whole-stage codegen; nothing here touches Python at
runtime.

Three text rules have one definition here, shared by the dedup
operators and the curation plans: :func:`token_ngrams` (the token
n-grams of a text), :func:`repetition_ratio` (the share of those
grams that repeat) and :func:`pii_scrubbed` (the ``PII_RULES``
replacement chain). ``dedup.shingles`` shares the gram builder of
:func:`token_ngrams` (:func:`zipped_ngrams`) and adds its own
distinct-gram, short- and NULL-text contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gexp_ml_dask_spark.operators.physical import local_table

# Tiny per-language stopword profiles for the n-gram/stopword
# language-ID heuristic. Real deployments swap in fastText/CLD3
# models via a pandas UDF (OP-LLM-06); the operator contract —
# per-language evidence scores + argmax — is what matters here.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "und", "das", "ein"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "une"],
    "zh": ["的", "是", "了", "在", "我"],
}


def tokens(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def token_ngrams(text_col: str | Column, n: int) -> Column:
    """The token ``n``-grams of a text, in order and with repeats:
    gram i joins tokens i..i+n-1 with one space, for i in
    1..n_tokens-n+1. A text with fewer than ``n`` tokens, and a NULL
    text, has none (an empty array). Tokens split on single spaces,
    so a doubled space yields an empty token inside its grams.

    The grams zip ``n`` shifted slices of the token array, so the
    text is split a fixed number of times per row; a lambda that
    sliced the split text at every offset would re-split it once per
    gram (quadratic in the document's length)."""
    toks = tokens(text_col)
    return F.when(
        F.size(toks) - (n - 1) >= 1, zipped_ngrams(toks, n)
    ).otherwise(F.array().cast("array<string>"))


def zipped_ngrams(toks: Column, n: int) -> Column:
    """The ``n``-grams of a token array that holds at least ``n``
    tokens: zip ``n`` shifted slices and join each tuple with one
    space. The grams are NOT NULL strings."""
    m = F.size(toks) - (n - 1)
    shifted = [F.slice(toks, j + 1, m).alias(f"t{j}") for j in range(n)]
    return F.transform(
        F.arrays_zip(*shifted),
        lambda g: F.concat_ws(" ", *[g[f"t{j}"] for j in range(n)]),
    )


def repetition_ratio(text_col: str | Column, n: int) -> Column:
    """Share of a text's token ``n``-grams that repeat an earlier gram
    of the same text; NULL when it has no ``n``-gram."""
    grams = token_ngrams(text_col, n)
    return F.try_divide(
        (F.size(grams) - F.size(F.array_distinct(grams))).cast("double"),
        F.size(grams).cast("double"),
    )


def stopword_count(text_col: str | Column, words: list[str]) -> Column:
    """Count of tokens exactly matching any of ``words`` — a
    size(filter(...)) over the token array, no regex, no UDF."""
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(
        F.filter(tokens(text_col), lambda t: F.array_contains(lit_words, t))
    )


def _mean_token_len(text_col: str | Column) -> Column:
    toks = tokens(text_col)
    return F.try_divide(
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda a, x: a + x,
        ).cast("double"),
        F.size(toks).cast("double"),
    )


def _stopword_ratio(text_col: str | Column) -> Column:
    return F.try_divide(
        stopword_count(text_col, LANG_PROFILES["en"]).cast("double"),
        F.size(tokens(text_col)).cast("double"),
    )


def quality_expr(text_col: str | Column) -> Column:
    """Composite quality score in {0, 0.5, 1}: in-range mean token
    length + sane stopword ratio. A plain column expression so
    composites (plans.curation) inline it without a self-join."""
    mean_tok_len = _mean_token_len(text_col)
    stop_ratio = _stopword_ratio(text_col)
    return (
        F.when((mean_tok_len >= 2) & (mean_tok_len <= 12), 0.5).otherwise(0.0)
        + F.when((stop_ratio >= 0.01) & (stop_ratio <= 0.5), 0.5).otherwise(0.0)
    )


def text_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """OP-LLM-04 — per-document quality statistics: length, token
    count, mean token length, stopword ratio, digit/punct counts,
    and a composite quality score in [0,1]."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_stop = stopword_count(text_col, LANG_PROFILES["en"])
    mean_tok_len = _mean_token_len(text_col)
    n_digits = F.length(F.regexp_replace(F.col(text_col), "[^0-9]", ""))
    stop_ratio = _stopword_ratio(text_col)
    quality = quality_expr(text_col)
    return docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        n_stop.cast("long").alias("n_stopwords"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        n_digits.cast("long").alias("n_digits"),
        F.round(quality, 6).alias("quality"),
    )


def token_count_bpe_ish(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", chars_per_piece: int = 4
) -> DataFrame:
    """OP-LLM-04 — token-count estimation: whitespace tokens plus a
    BPE-ish subword estimate (ceil(len/4) pieces per word — the
    standard ~4-chars-per-token heuristic), both as column folds."""
    toks = tokens(text_col)
    pieces = F.aggregate(
        F.transform(
            toks,
            lambda t: F.ceil(F.length(t) / F.lit(float(chars_per_piece))).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_words"),
        pieces.alias("n_bpe_pieces"),
    )


def language_id(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    profiles: dict[str, list[str]] | None = None,
) -> DataFrame:
    """OP-LLM-04 — stopword-profile language ID: per-language
    evidence = matching-token count; argmax with lexicographic
    tie-break. One projection, no shuffle."""
    profiles = profiles or LANG_PROFILES
    # Token-semantics contract (round-7 edge sweep): a NULL-text doc
    # has no tokens to identify — it is excluded, the same rule the
    # shingle/dedup family applies. (Keeping it produced engine NULL
    # vs oracle CASE-fallthrough artifacts.)
    docs = docs.filter(F.col(text_col).isNotNull())
    scores = F.array(
        *[
            F.struct(
                stopword_count(text_col, words).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(profiles.items())
        ]
    )
    # argmax with ties going to the lexicographically SMALLEST lang:
    max_score = F.array_max(F.transform(scores, lambda s: s["score"]))
    winners = F.filter(scores, lambda s: s["score"] == max_score)
    pred = F.array_min(F.transform(winners, lambda s: s["lang"]))
    return docs.select(
        F.col(id_col),
        max_score.cast("long").alias("lang_score"),
        pred.alias("lang_pred"),
    )


def fingerprints(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-04 — document fingerprint: min/max md5 over word
    n-gram shingles (a 2-hash MinHash; winnowing-style selection of
    extreme hashes from the rolling shingle stream). Engine-portable
    (md5 hex is standard) and UDF-free."""
    from gexp_ml_dask_spark.llm.dedup import shingles

    sh = shingles(text_col, n)
    hashes = F.transform(sh, lambda s: F.md5(s))
    # token-semantics contract: NULL-text docs have no shingles to
    # fingerprint — excluded (see language_id)
    docs = docs.filter(F.col(text_col).isNotNull())
    return docs.select(
        F.col(id_col),
        F.array_min(hashes).alias("fp_min"),
        F.array_max(hashes).alias("fp_max"),
        F.size(sh).cast("long").alias("n_shingles"),
    )


def pack_sequences(
    docs: DataFrame,
    token_budget: int = 2048,
    shard_col: str | None = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-04 (sequence packing, [mandate]) — assign documents to
    fixed-token-budget training bins: docs are taken in ``id_col``
    order and a doc starts in the bin its running-token prefix falls
    in (greedy contiguous fill; a doc may overflow its bin's tail,
    the standard packing-with-overflow contract).

    Scale posture: packing is windowed PER SHARD (``shard_col``,
    e.g. source or a hash bucket) so no global sort/single-reducer
    window exists at 100 TB — bin ids are (shard, bin) pairs. Pass
    ``shard_col=None`` only at oracle scale for a globally-ordered
    packing.
    """
    n_toks = F.size(tokens(text_col)).cast("long")
    part = [F.col(shard_col)] if shard_col else []
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_cols = [F.col(id_col)] + ([F.col(shard_col)] if shard_col else [])
    prefix = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        docs.select(*([F.col(id_col), F.col(text_col)] + part))
        .withColumn("n_tokens", n_toks)
        .select(
            *out_cols,
            "n_tokens",
            F.floor(prefix / F.lit(token_budget)).alias("bin_id"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-04 (chunking, [mandate]) — split each document into
    overlapping fixed-token windows for context-window-bounded
    training/indexing: chunk i covers tokens
    [i*(chunk_tokens-overlap), i*(chunk_tokens-overlap)+chunk_tokens)
    and every doc with non-NULL text yields at least one chunk
    (short docs pass through whole; NULL-text docs have no tokens to
    chunk and are excluded — the token-semantics contract, round-7
    edge sweep). Pure column expressions — the explode is row-local,
    so chunking adds no shuffle at any scale."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    docs = docs.filter(F.col(text_col).isNotNull())
    step = chunk_tokens - overlap
    # materialize the token array once, BELOW the explode (same
    # rationale as the shingle materialization in dedup) — n_chunks
    # must reference the materialized column, not re-split the text
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(
            (F.size(F.col("_toks")) - F.lit(overlap)).cast("double")
            / F.lit(step)
        ),
    )
    start = F.col("chunk_id") * step + 1
    piece = F.slice(F.col("_toks"), start, chunk_tokens)
    return (
        docs.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .withColumn(
            "chunk_id",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            F.concat_ws(" ", piece).alias("chunk_text"),
            F.size(piece).cast("long").alias("n_chunk_tokens"),
        )
    )


def term_frequencies(
    docs: DataFrame,
    top_n: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-04 (corpus term frequency, [mandate]) — the classic
    distributed wordcount: row-local tokenize+explode, ONE hash
    aggregation on the term (map-side partials shrink the shuffle to
    |vocab| per task), then a global top-N that Spark plans as
    TakeOrderedAndProject — no full sort at any scale. Ties broken
    by term asc so the result is deterministic across engines."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(top_n)
    )


def bigram_counts(
    docs: DataFrame,
    top_n: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-04 (bigram LM counts, [mandate]) — adjacent-token
    pairs as the row-local :func:`token_ngrams` of order 2 (no
    self-join, no positional explode+rejoin), then wordcount's
    agg + top-N. The n-gram tables that seed tokenizer/LM training
    are exactly this shape."""
    return (
        docs.select(F.explode(token_ngrams(text_col, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(top_n)
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-04 (TF-IDF keywords, [mandate]) — per-document top-k
    terms by tf * ln(N / df). Three hash aggs (doc-term tf, term df,
    corpus N) + one broadcast join of the term-level idf + a per-doc
    row_number window. The doc-term agg dominates and shuffles once
    on (doc, term); df is |vocab|-sized and N is a scalar literal —
    both broadcast, so the fact side never reshuffles. Deterministic:
    double arithmetic is identical across engines, ties broken by
    term asc."""
    doc_terms = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    # corpus N enters as a lazy 1-row broadcast scalar (parquet
    # count-pushdown scan), not an eager collect — the operator is a
    # pure transformation and the timed path loses a driver action
    # (round 9; guide §5: the driver does no data work)
    n_row = docs.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    df_counts = doc_terms.groupBy("term").agg(
        F.count("*").alias("df")
    )
    idf = df_counts.crossJoin(F.broadcast(n_row)).select(
        "term",
        F.log(F.col("_n_docs") / F.col("df")).alias("idf"),
    )
    scored = doc_terms.join(F.broadcast(idf), "term").withColumn(
        "score", F.col("tf") * F.col("idf")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", F.col("tf").cast("long").alias("tf"), "rank")
    )


# OP-LLM-04 [mandate] — PII scrubbing rules, ordered (URLs first so an
# address inside a URL is consumed by the URL rule). Patterns are
# restricted to the RE2 ∩ Java-regex common subset so the DuckDB
# oracle replays them byte-for-byte.
# Rule order is load-bearing: url/email first (they may contain
# digit runs), then ip and ssn, then phone. No cross-rule collisions:
# ip octets are <=3 digits so the 3-3-4 phone shape can never match
# inside one, and ssn's 3-2-4 hyphen shape is disjoint from both.
PII_RULES: list[tuple[str, str, str]] = [
    ("url", r"https?://\S+", "<URL>"),
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def pii_scrubbed(text_col: str) -> Column:
    """The text with every :data:`PII_RULES` match replaced by its
    placeholder, the rules applied in order."""
    clean = F.col(text_col)
    for _, pat, repl in PII_RULES:
        clean = F.regexp_replace(clean, pat, repl)
    return clean


def scrub_pii(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-curation PII scrub: URLs, e-mail addresses, and
    NNN-NNN-NNNN phone numbers replaced by typed placeholder tokens,
    with per-rule match counts. Pure codegen column expressions
    (chained ``regexp_replace`` + ``regexp_count``) — one scan, no
    shuffle, no UDF; at 100 TB this runs at parquet-read speed."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_RULES
    ]
    return docs.select(
        F.col(id_col), pii_scrubbed(text_col).alias("clean_text"), *counts
    )


def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_docs: DataFrame | None = None,
) -> DataFrame:
    """OP-LLM-04 (bigram-LM quality score, [mandate]) — per-document
    mean log-probability under the corpus's own MLE bigram model:
    ``score = avg(ln(C(w1,w2) / C(w1·)))`` over the document's
    adjacent token pairs, with ``C(w1·)`` the bigram-PREFIX count
    (both derived from ONE corpus bigram relation, so the model is
    self-consistent and every observed bigram has nonzero
    probability). The fluency-filter shape used in corpus curation:
    documents whose token transitions are rare corpus-wide score
    low.

    Plan: one (w1,w2) hash agg builds the model, one w1 agg folds it
    to prefix counts, and the prefix total is joined back INTO the
    model before broadcasting — ONE |vocab|-bounded broadcast table
    (bigram, c12, c1), so the fact side (exploded doc bigrams) pays
    one broadcast probe instead of two and never re-derives the w1
    key per row (round 9; the model exchange inside the broadcast
    build is reused between its two consumers). The fact side
    shuffles once on the final per-doc agg. Docs with <2 tokens
    carry no bigrams and are absent.

    ``score_docs``: optionally score a DIFFERENT document set under
    the model fitted on ``docs`` — the curation plans pass the
    already-gated survivors here so the (heavy) per-doc explode +
    probe + agg runs over the rows the downstream inner join would
    keep anyway, while the model stays fitted on the full deduped
    corpus (round 9; output-identical by construction).
    """
    def doc_bigram_rows(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col), F.explode(token_ngrams(text_col, 2)).alias("bigram")
        )

    doc_bigrams = doc_bigram_rows(docs)
    target_bigrams = (
        doc_bigrams if score_docs is None else doc_bigram_rows(score_docs)
    )
    model = (
        doc_bigrams.groupBy("bigram")
        .agg(F.count("*").alias("c12"))
        .withColumn(
            "_w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
        )
    )
    prefix = model.groupBy("_w1").agg(F.sum("c12").alias("c1"))
    modelp = model.join(prefix, "_w1").select("bigram", "c12", "c1")
    scored = (
        target_bigrams.join(F.broadcast(modelp), "bigram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("c12") / F.col("c1"))), 6
            ).alias("avg_logp"),
        )
    )
    return scored


def bpe_merges(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-04 (BPE tokenizer training, [mandate]) — learn the
    first ``k`` byte-pair-encoding merges from the corpus itself
    (Sennrich et al. 2016): per round, count adjacent symbol pairs
    over the word-frequency table, merge the most frequent pair
    (ties broken lexicographically), re-encode, repeat. Returns the
    learned merge table (merge_rank, left_sym, right_sym,
    pair_count) — integer counts only, so the oracle is EXACT (no
    float rounding contract at all). Training stops early once no
    word has two symbols left, so the table holds at most ``k``
    rows; ``k=0`` or an empty corpus gives an empty table.

    Representation: each word is encoded as ``|s1||s2||...||sn|``.
    Plain (non-regex) string ``replace`` of ``|a||b|`` with
    ``|ab|`` is then EXACTLY BPE's greedy leftmost non-overlapping
    merge — adjacent occurrences own disjoint delimiter spans, so
    ``a b a b`` merges twice and ``a a a`` merges once, in both
    engines, with no lookaround regex (DuckDB's RE2 has none).
    Words containing the delimiter character are excluded by
    contract (filtered identically in both engines).

    Scale shape — the reason BPE training is cheap at 100 TB: ONE
    corpus-sized shuffle builds the (word, count) vocabulary table;
    every merge round after that operates on the VOCAB dimension
    (pair counting is a vocab-keyed hash agg, the argmax is one
    collected row, re-encoding is a row-local replace)."""
    merges, _ = _bpe_train(docs, k, text_col)
    return merges


def _bpe_symbols(enc_col) -> "F.Column":
    """Decode the |s1||s2|...|sn| word encoding back to its symbol
    array (the inverse of the delimiter wrap)."""
    return F.split(enc_col.substr(F.lit(2), F.length(enc_col) - 2), "\\|\\|")


def _bpe_train(docs: DataFrame, k: int, text_col: str):
    """Shared BPE training loop: returns (merges_df, enc_final_df)
    where enc_final carries (w, wc, enc) with every learned merge
    applied — the learned tokenizer's per-word segmentation,
    consumed by :func:`bpe_token_counts`.

    A fit, like MLlib's iterative estimators: the vocabulary table is
    checkpointed once, and each round collects its 1-row argmax and
    re-encodes with that pair as a literal. So each round's plan is
    the checkpoint plus the earlier rounds' row-local replaces; no
    round re-plans the pair counts or argmaxes of the rounds before
    it (an argmax joined back in lazily would replay every earlier
    round twice, and the plan would grow as 2^k)."""
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter((F.col("w") != "") & (~F.col("w").contains("|")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    # "abc" -> "|a||b||c|": insert "||" after every char, trim the
    # trailing pair, wrap in single delimiters.
    spread = F.regexp_replace(F.col("w"), "(.)", "$1||")
    enc0 = F.concat(
        F.lit("|"),
        spread.substr(F.lit(1), F.length(spread) - 2),
        F.lit("|"),
    )
    enc = words.select("w", "wc", enc0.alias("enc")).localCheckpoint(
        eager=True
    )

    rows = []
    s, n = F.col("s"), F.size("s")
    for r in range(1, k + 1):
        best = (
            enc.select("wc", _bpe_symbols(F.col("enc")).alias("s"))
            .filter(n >= 2)
            .select(
                "wc",
                F.inline(
                    F.arrays_zip(
                        F.slice(s, 1, n - 1).alias("pa"),
                        F.slice(s, 2, n - 1).alias("pb"),
                    )
                ),
            )
            .groupBy("pa", "pb")
            .agg(F.sum("wc").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("pa"), F.asc("pb"))
            .take(1)
        )
        if not best:  # no word has two symbols left
            break
        pa, pb, pair_count = best[0]
        rows.append((r, pa, pb, pair_count))
        enc = enc.select(
            "w",
            "wc",
            F.replace(
                F.col("enc"), F.lit(f"|{pa}||{pb}|"), F.lit(f"|{pa}{pb}|")
            ).alias("enc"),
        )
    merges = local_table(
        docs.sparkSession,
        rows,
        "merge_rank long, left_sym string, right_sym string, pair_count long",
    )
    return merges, enc


def bpe_token_counts(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-04 (BPE tokenization / token-budget estimation) — APPLY
    the :func:`bpe_merges` tokenizer learned from the corpus back to
    every document: per doc, the word count and the token count under
    the learned segmentation (the number a training pipeline needs to
    size shards, packing bins, and epoch budgets for a REAL subword
    tokenizer rather than the whitespace proxy).

    Tokenization is per-WORD, so the heavy work stays on the
    vocabulary dimension: the trained encoding table already carries
    each word's segmentation; per-word token counts are a row-local
    array size; the only corpus-sized step is one explode + join on
    the word key + per-doc sum. Empty words and words containing the
    delimiter are outside the tokenizer's contract and excluded from
    both counts (identically in the SQL twin).

    Returns (doc_id, n_words, n_bpe_tokens), zero-filled for
    documents with no countable words."""
    _, enc_final = _bpe_train(docs, k, text_col)
    per_word = enc_final.select(
        "w", F.size(_bpe_symbols(F.col("enc"))).cast("long").alias("_nt")
    )
    doc_words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter((F.col("w") != "") & (~F.col("w").contains("|")))
    agg = (
        doc_words.join(per_word, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("_nt").alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )


def nb_quality_scores(
    docs: DataFrame,
    pos_sources: list[str],
    neg_sources: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """OP-LLM-04 (model-based quality score, [mandate]) — the
    classifier-filter stage of corpus curation (the fastText/CCNet
    quality model of LLaMA-style pipelines, Wenzek et al. 2020),
    expressed entirely in-engine: a multinomial Naive Bayes
    log-likelihood-ratio scorer trained by weak supervision (docs
    from ``pos_sources`` are "curated", ``neg_sources`` are "raw")
    and applied to EVERY document. Because NB training is nothing
    but counting, the whole model — Laplace(+1) per-class token
    likelihoods, class priors, the unseen-token penalty — is plain
    aggregates, so unlike an LBFGS-fit classifier the scores are
    engine-reproducible and value-oracled row-for-row.

    score(d) = ln(N_pos/N_neg)
             + sum over tokens t of d (with multiplicity) of
               [ ln((c_pos(t)+1)/(T_pos+V)) - ln((c_neg(t)+1)/(T_neg+V)) ]

    with c_cls(t) the class's labeled token count, T_cls its total,
    V the labeled vocabulary size; tokens outside the labeled vocab
    take the count-0 Laplace term. Positive score → the document
    looks like the curated class.

    Returns (doc_id, n_tokens, nb_score, is_quality) for every doc;
    ``is_quality`` compares the ROUNDED score to 0 so both engines
    make the identical boundary call.

    Plan shape: the labeled slice reduces to a vocab-keyed count
    table (one hash agg with map-side partials); the two model
    scalars (totals+vocab, doc-count priors) are 1-row aggregates
    attached by broadcast crossJoin — the lazy scalar shape, no
    eager action. Scoring explodes docs once to (doc, token), joins
    the vocab table on the token key WITHOUT a forced broadcast
    (the model scales with the labeled corpus — AQE broadcasts it
    only while it is actually small), and folds per doc in one
    final hash agg. Nulls from the left join ARE the unseen-token
    signal: sum(llr) skips them natively and the count difference
    prices them, so no per-token conditional is evaluated."""
    if not pos_sources or not neg_sources:
        raise ValueError("need at least one positive and one negative source")

    toks = tokens(text_col)
    labeled = docs.filter(
        F.col(source_col).isin(list(pos_sources) + list(neg_sources))
    ).withColumn("_is_pos", F.col(source_col).isin(list(pos_sources)))

    tok_l = labeled.select(
        F.col("_is_pos"), F.explode(toks).alias("term")
    )
    counts = tok_l.groupBy("term").agg(
        F.sum(F.when(F.col("_is_pos"), 1).otherwise(0)).alias("_cp"),
        F.sum(F.when(F.col("_is_pos"), 0).otherwise(1)).alias("_cn"),
    )
    tot = counts.agg(
        F.sum("_cp").cast("double").alias("_tp"),
        F.sum("_cn").cast("double").alias("_tn"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    llr_tbl = counts.crossJoin(F.broadcast(tot)).select(
        "term",
        (
            F.log((F.col("_cp") + 1) / (F.col("_tp") + F.col("_v")))
            - F.log((F.col("_cn") + 1) / (F.col("_tn") + F.col("_v")))
        ).alias("_llr"),
    )
    scalars = (
        labeled.agg(
            F.log(
                F.sum(F.when(F.col("_is_pos"), 1).otherwise(0)).cast("double")
            ).alias("_lnp"),
            F.log(
                F.sum(F.when(F.col("_is_pos"), 0).otherwise(1)).cast("double")
            ).alias("_lnn"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            (F.col("_lnp") - F.col("_lnn")).alias("_prior"),
            (
                F.log(F.col("_tn") + F.col("_v"))
                - F.log(F.col("_tp") + F.col("_v"))
            ).alias("_unseen"),
        )
    )

    alltok = docs.select(F.col(id_col), F.explode(toks).alias("term"))
    per_doc = (
        alltok.join(llr_tbl, "term", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.coalesce(F.sum("_llr"), F.lit(0.0)).alias("_s"),
            (F.count(F.lit(1)) - F.count("_llr")).alias("_nu"),
        )
    )
    score = F.col("_prior") + F.col("_s") + F.col("_nu") * F.col("_unseen")
    return (
        per_doc.crossJoin(F.broadcast(scalars))
        .withColumn("nb_score", F.round(score, 6))
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("nb_score"),
            (F.col("nb_score") > 0).alias("is_quality"),
        )
    )


def self_repetition(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-04 — within-document repetition ratio (the Gopher /
    MassiveText "repetition" quality rule, Rae et al. 2021): the
    fraction of a document's token ``n``-grams that are repeats of
    an earlier n-gram in the SAME document. Entirely row-local —
    one projection over the token array, zero shuffle, unlike the
    cross-document span detector (dedup.duplicate_ngram_spans).

    Returns (doc_id, n_ngrams, n_distinct_ngrams, repetition_ratio).
    """
    grams = token_ngrams(text_col, n)
    return docs.select(
        F.col(id_col),
        F.size(grams).cast("long").alias("n_ngrams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct_ngrams"),
        F.round(repetition_ratio(text_col, n), 6).alias("repetition_ratio"),
    )


def normalize_text(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """OP-LLM-04 — canonical text normalization for dedup/scoring:
    lowercase, strip non-alphanumerics, collapse runs of whitespace,
    trim. A chained codegen regexp pipeline, one scan, no shuffle —
    the projection that usually runs immediately before hashing in
    an exact-dedup pass (normalize + sha2 collapses case/punctuation
    variants of the same document)."""
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    c = F.trim(c)
    return docs.select(F.col(id_col), c.alias("norm_text"))


def char_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """OP-LLM-04 (char-entropy gibberish filter) — per-document
    Shannon entropy over the character distribution: near-zero for
    degenerate repetition (one char mashed), ~4.1 bits for English
    prose, far higher for encoded blobs pasted as text. The cheap
    screen used beside the stopword/punct ratios of text_stats.

    Single-pass identity: H = log2(t) - (Σ n·log2 n) / t over the
    per-char counts (no second join for p = n/t), so the plan is one
    row-local char explode + two doc-keyed hash aggs, and the DuckDB
    oracle can fold the identical terms. Docs with empty text carry
    no characters and drop out.

    Returns (id_col, n_chars_seen BIGINT, char_entropy DOUBLE@6dp).
    """
    ch = docs.select(
        id_col, F.explode(F.split(F.col(text_col), "")).alias("c")
    ).filter(F.col("c") != "")
    cc = ch.groupBy(id_col, "c").agg(F.count(F.lit(1)).alias("n"))
    return cc.groupBy(id_col).agg(
        F.sum("n").cast("long").alias("n_chars_seen"),
        F.round(
            F.log2(F.sum("n")) - F.sum(F.col("n") * F.log2("n")) / F.sum("n"),
            6,
        ).alias("char_entropy"),
    )
