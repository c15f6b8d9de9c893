"""Deduplication operators (SURVEY.md §2.11, OP-LLM-01/02 —
[mandate], no reference file:line).

Five dedup strategies a training-data pipeline needs, ordered by
cost/recall tradeoff:

  exact        sha2 hash-groupBy              one shuffle, exact
  ngram        shingle-set pair join          exact near-dup, O(pairs
               (Jaccard, containment)         sharing a shingle)
  minhash_lsh  banded MinHash                 approx Jaccard, scales
  simhash      per-doc bit-majority signature one shuffle + equality
                                              (or banded) join
  embedding    cosine over vectors            semantic near-dup

Exact pair measures (n-gram Jaccard, containment, TF-cosine) have one
function per physical form, called by name: the inverted-index
self-join, which every production query uses, and the lossless
AllPairs prefix filter (Bayardo/Ma/Srikant, WWW'07), whose ``_prefix``
queries are checked against the same oracles. All three measures run
on one core over weighted postings (:func:`_pair_core`); each measure
(:class:`_PairMeasure`) supplies its postings, pair aggregate and
score, prefix mass and keep bound, and prefix candidate predicate.
No form is chosen at run time.

Persist lifecycle: the pair joins persist their postings
(MEMORY_AND_DISK) in :func:`_pair_core`, because BOTH join sides
consume them — without the persist each side re-runs the interpreted
shingle / tokenize pipeline, measured 2x the whole join cost. The
handles live inside the returned (lazy) plan, so the functions cannot
unpersist eagerly; the release contract is the CALLER's:
`df.unpersist()` on the consumed result's sources or
`spark.catalog.clearCache()` when a batch of dedup queries completes
(bench.py does the latter between queries). Long-lived pipelines that
loop over corpora should scope each iteration with clearCache.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from gexp_ml_dask_spark.llm.text import token_ngrams, tokens, zipped_ngrams


def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """OP-LLM-01 — exact duplicate groups: (text_hash, keep_id, n).
    keep-first = min id per sha256(text). One hash aggregate."""
    return docs.groupBy(F.sha2(F.col(text_col), 256).alias("text_hash")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n")
    )


def keep_first_rank(id_col: str = "doc_id", text_col: str = "text") -> Column:
    """A document's rank among the copies of its exact text: 1 for the
    smallest ``id_col`` of each sha256(text) group."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(id_col)
    return F.row_number().over(w)


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """OP-LLM-01 — the deduplicated table (keep-first semantics)."""
    return (
        docs.withColumn("_rn", keep_first_rank(id_col, text_col))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _positional_ngrams(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(``id_col``, ``pos``, ``gram``): every token ``n``-gram of every
    document, ``pos`` its 1-based start token as a BIGINT."""
    return docs.select(
        F.col(id_col), F.posexplode(token_ngrams(text_col, n)).alias("_p", "gram")
    ).select(id_col, (F.col("_p") + 1).cast("long").alias("pos"), "gram")


def shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of a text column, in first-seen
    order — a pure column expression (no UDF) over the zipped slices
    that :func:`~gexp_ml_dask_spark.llm.text.token_ngrams` also uses,
    so the text is split a fixed number of times per row.

    Short-text contract: a text with fewer than ``n`` tokens is one
    shingle made of all its tokens (the text itself), so ``""`` gives
    ``[""]``.

    NULL-safe: NULL text yields a NULL array (explode drops the doc
    from every inverted index), matching SQL ``unnest(NULL)``
    semantics. Without the guard a NULL text would become the
    shingle set {''} and inverted-join against EMPTY-text docs as
    jaccard-1.0 pairs on Spark only (round-7 edge sweep, ghost pair
    found by tools/edge_fixture.py)."""
    toks = tokens(text_col)
    # concat_ws keeps the whole-text shingle a NOT NULL element, like
    # the zipped grams, so no join on the shingles adds a null filter
    grams = F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(
        zipped_ngrams(toks, n)
    )
    return F.when(F.col(text_col).isNotNull(), F.array_distinct(grams))


_Side = Callable[[str], Column]  # an aliased join side's columns


class _PairMeasure(NamedTuple):
    """What one exact pair similarity adds to :func:`_pair_core`.

    - ``postings(docs, id_col, text_col, n, blk)``: the weighted
      postings, one row per (``id_col``, token ``_sh``) with the doc's
      norm ``_nsh`` and, for weighted measures, the token weight
      ``_w`` (a set measure's weight is 1 and its norm is the set size);
    - ``overlap(a, b)``: the aggregate over the postings a pair shares,
      ``a``/``b`` giving each side's columns; ``ratio(ov, na, nb)``:
      the score from that overlap and the two norms;
    - ``mass()`` and ``keep(suf, nsh, tt)``: a posting's share of the
      prefix mass, and whether the suffix mass from it on (rarest-first
      order) can still reach the slackened threshold ``tt``;
    - ``candidate(pid, fid, p, f, tt)``: the prefix candidate
      predicate, where ``p`` is a prefix posting and ``f`` is a full
      posting when ``probe_full`` is set, else another prefix."""

    out_col: str
    postings: Callable[[DataFrame, str, str, int, list], DataFrame]
    overlap: Callable[[_Side, _Side], Column]
    ratio: Callable[[Column, Column, Column], Column]
    mass: Callable[[], Column]
    keep: Callable[[Column, Column, float], Column]
    probe_full: bool
    candidate: Callable[[Column, Column, _Side, _Side, float], Column]


def _set_postings(
    docs: DataFrame, id_col: str, text_col: str, n: int, blk: list
) -> DataFrame:
    """Shingle postings: (id, ``_nsh`` = set size, shingle ``_sh``).

    The shingle array is materialized ONCE per document before the
    explode. Writing size(shingles(..)) and explode(shingles(..)) in one
    select plans the size() into a Project ABOVE the Generate,
    re-evaluating the whole interpreted higher-order shingle expression
    per exploded row — measured 31s -> <2s at sf0.01. The intermediate
    projection pins the expensive expression below the Generate; size()
    above it reads the materialized array attribute.

    ``explode_outer`` plus a NOT NULL filter on the shingle, not
    ``explode``: for a plain ``explode`` Spark infers ``size(<array>) >
    0 AND isnotnull(<array>)`` on the generator's input, and that
    Filter, below the ``fan_out`` exchange, evaluates the shingle
    expression twice more per document. A NULL text (NULL array)
    gives one NULL shingle, which the filter drops, so the rows are
    those of ``explode``."""
    shingled = docs.select(
        F.col(id_col), shingles(text_col, n).alias("_shs"), *blk
    )
    return shingled.select(
        F.col(id_col),
        F.size("_shs").alias("_nsh"),
        F.explode_outer("_shs").alias("_sh"),
        *blk,
    ).filter(F.col("_sh").isNotNull())


def _tf_table(
    docs: DataFrame, id_col: str, text_col: str, blk: list
) -> DataFrame:
    """(id, term ``_sh``, term frequency ``_w``), empty tokens dropped."""
    tok = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("_sh"),
        *blk,
    )
    return (
        tok.filter(F.col("_sh") != "")
        .groupBy(F.col(id_col), F.col("_sh"), *blk)
        .agg(F.count(F.lit(1)).alias("_w"))
    )


_JACCARD = _PairMeasure(
    "jaccard",
    _set_postings,
    lambda a, b: F.count(F.lit(1)),
    lambda ni, na, nb: ni / (na + nb - ni),
    lambda: F.lit(1),
    # a doc keeps its rarest shingles while >= floor(t'n) remain from
    # there on: the prefix of length n - floor(t'n) + 1
    lambda suf, nsh, tt: suf >= F.floor(F.lit(tt) * nsh),
    False,
    # prefix x prefix, plus the size filter: J <= min(na,nb)/max(na,nb),
    # so qualifying pairs satisfy least >= (t - eps) * greatest
    lambda pid, fid, p, f, tt: (pid < fid)
    & (
        F.least(p("_nsh"), f("_nsh"))
        >= tt * F.greatest(p("_nsh"), f("_nsh"))
    ),
)

_CONTAINMENT = _JACCARD._replace(
    out_col="containment",
    ratio=lambda ni, na, nb: ni / F.least(na, nb),
    probe_full=True,
    # the theorem speaks about the SMALLER doc's prefix, probed by the
    # full postings of every doc at least as large
    candidate=lambda pid, fid, p, f, tt: (pid != fid)
    & (p("_nsh") <= f("_nsh")),
)

_COSINE = _PairMeasure(
    "cosine",
    # tf weights with the doc's L2 norm; integer tf products keep the
    # dot exact, so only the final ratio needs rounding
    lambda docs, id_col, text_col, n, blk: _tf_table(
        docs, id_col, text_col, blk
    ).withColumn(
        "_nsh",
        F.sqrt(
            F.sum(F.col("_w") * F.col("_w")).over(Window.partitionBy(id_col))
        ),
    ),
    lambda a, b: F.sum(a("_w") * b("_w")),
    lambda dot, na, nb: dot / (na * nb),
    lambda: (F.col("_w") / F.col("_nsh")) ** 2,
    # L2 suffix bound; the squared slack also covers float accumulation
    # in the window sum
    lambda suf, nsh, tt: suf >= F.lit(tt * tt - 1.0e-9),
    False,
    # PPJoin-style positional bound: cos <= s_a(w) * s_b(w) at the FIRST
    # shared term w, and a qualifying pair is always generated via that
    # w, so edges whose product falls short are only candidate
    # DUPLICATES, never a pair's sole surviving edge
    lambda pid, fid, p, f, tt: (pid < fid)
    & (p("_suf") * f("_suf") >= F.lit(tt * tt * tt * tt - 1.0e-9)),
)


def _pair_core(
    docs: DataFrame,
    measure: _PairMeasure,
    threshold: float,
    n: int,
    id_col: str,
    text_col: str,
    block_col: str | None,
    prefix: bool,
) -> DataFrame:
    """The one exact pair core behind Jaccard, containment and
    TF-cosine: build the measure's weighted postings and persist them;
    then either the inverted-index self-join over every pair sharing a
    token (``prefix=False``), or the AllPairs prefix filter
    (``prefix=True``): rank each doc's postings rarest-first, keep the
    prefix whose suffix mass can still reach the slackened threshold,
    join prefixes under the measure's candidate predicate, and verify
    each candidate against both docs' full postings. Both forms
    aggregate the measure's overlap per pair and end in
    ``round(ratio, 6) >= threshold`` on (id_a, id_b, out_col) with
    id_a < id_b. ``block_col`` additionally requires candidates to
    agree on a blocking key.

    Precondition: ``id_col`` is unique. Postings are keyed by id, so
    duplicate ids merge TF vectors and mix shingle sets."""
    blk = [F.col(block_col)] if block_col else []

    def side(x: str) -> _Side:
        return lambda c: F.col(f"{x}.{c}")

    def same(x: str, y: str, col: str) -> Column:
        return side(x)(col) == side(y)(col)

    a, b = side("a"), side("b")
    # Both join sides read this table; MEMORY_AND_DISK spills rather
    # than OOMs (see the module docstring for the release contract).
    table = measure.postings(docs, id_col, text_col, n, blk).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if not prefix:
        cond = same("a", "b", "_sh") & (a(id_col) < b(id_col))
        if block_col:
            cond = cond & same("a", "b", block_col)
        joined = table.alias("a").join(table.alias("b"), cond)
    else:
        tt = threshold - 1.0e-6  # round(score, 6) >= t admits t - 5e-7
        freq = table.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
        # Suffix mass from each posting on, rarest-first: a running sum
        # in the reversed order (one pass, not a per-row re-sum).
        w = (
            Window.partitionBy(id_col)
            .orderBy(F.desc("_df"), F.desc("_sh"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        pre = (
            table.join(freq, "_sh")
            .withColumn("_suf", F.sum(measure.mass()).over(w))
            .filter(measure.keep(F.col("_suf"), F.col("_nsh"), tt))
            .select(id_col, "_nsh", "_sh", "_suf", *blk)
        )
        p, f = side("p"), side("f")
        cond = same("p", "f", "_sh") & measure.candidate(
            p(id_col), f(id_col), p, f, tt
        )
        if block_col:
            cond = cond & same("p", "f", block_col)
        cand = (
            pre.alias("p")
            .join((table if measure.probe_full else pre).alias("f"), cond)
            .select(
                F.least(p(id_col), f(id_col)).alias("id_a"),
                F.greatest(p(id_col), f(id_col)).alias("id_b"),
            )
            .distinct()
        )
        joined = cand.join(table.alias("a"), F.col("id_a") == a(id_col)).join(
            table.alias("b"),
            (F.col("id_b") == b(id_col)) & same("a", "b", "_sh"),
        )
    scored = joined.groupBy(
        a(id_col).alias("id_a"),
        b(id_col).alias("id_b"),
        a("_nsh").alias("_na"),
        b("_nsh").alias("_nb"),
    ).agg(measure.overlap(a, b).alias("_ni"))  # |A∩B|, or the tf dot
    out = measure.out_col
    score = measure.ratio(F.col("_ni"), F.col("_na"), F.col("_nb"))
    return (
        scored.withColumn(out, F.round(score, 6))
        .filter(F.col(out) >= threshold)
        .select("id_a", "id_b", out)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
) -> DataFrame:
    """OP-LLM-02 (exact n-gram Jaccard) — near-dup pairs with
    jaccard >= threshold.

    |A∩B| comes from a self-join on exploded distinct shingles (only
    pairs sharing >=1 shingle are ever materialized — the classic
    inverted-index join); |A∪B| = |A|+|B|-|A∩B|. ``block_col``
    restricts candidates to a blocking key (e.g. an LSH band or
    source partition), which bounds a hot shingle's quadratic
    fan-out.

    Measured alternative, rejected: an LSH-bucket-style posting-list
    form (groupBy shingle -> collect_list -> row-local pair explode,
    one less shuffle) produced the identical pair set but ran 2x
    SLOWER at sf0.1 (4.5 s vs 2.3 s same-host A/B) — the pair
    explosion runs as interpreted higher-order functions while the
    shuffle join stays in codegen, and that dominates the saved
    exchange.
    """
    return _pair_core(
        docs, _JACCARD, threshold, n, id_col, text_col, block_col, False
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    threshold: float = 0.4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
) -> DataFrame:
    """OP-LLM-02 (exact n-gram Jaccard, prefix-filtered) — the EXACT
    same pair set as :func:`ngram_jaccard_pairs`, computed with
    AllPairs prefix filtering (Bayardo/Ma/Srikant, WWW'07) instead of
    a full inverted-index self-join.

    Why: the unblocked self-join's cost is sum over shingles of
    df(shingle)^2 — one hot shingle fans out quadratically. Prefix
    filtering is a LOSSLESS block: order every doc's shingles by
    ascending global frequency; if J(A,B) >= t, A and B must share a
    shingle within each one's first ``n_sh - ceil(t*n_sh) + 1``
    shingles in that order. Only prefixes enter the index, so hot
    (most frequent) shingles land in the suffix and never join;
    candidates are then verified exactly against both docs' full
    postings.

    Guarantees recall 1.0 (it is a theorem, not an LSH probability),
    so this is safe to substitute anywhere the DuckDB oracle checks
    the exact pair/cluster output — the identical-pair-set parity vs
    the inverted-index form is pinned in
    tests/test_llm_ops.py::test_prefix_jaccard_identical_pairs
    (sf0.001 corpus + a planted hot-shingle fixture). The admission
    band of round(jac, 6) >= t is jac >= t - 5e-7, so BOTH the size
    filter and the prefix length are derived from the slackened
    threshold (t - 1e-6): the prefix bound uses
    floor((t - eps) * n_sh), which is <= ceil((t - 5e-7) * n_sh) for
    every document size, keeping losslessness size-independent (no
    reliance on a +1 slack that a >2M-shingle document would outgrow).

    ``block_col`` composes: candidates are additionally required to
    agree on the blocking key (the same contract as
    :func:`ngram_jaccard_pairs`). The frequency order stays global —
    any single total order preserves the theorem; blocking only
    shrinks the candidate space further.

    Cost: the extra global frequency pass is one partial-agg shuffle;
    the verify joins are shuffles on doc_id (sized by the candidates'
    postings, not by the pair fan-out). On the bench corpus the
    inverted join is faster on wall-clock (see BASELINE.md "prefix vs
    inverted Jaccard" A/B) because it has no hot shingles; on a
    boilerplate-header corpus the prefix form wins (11.8 s vs 58 s).
    """
    return _pair_core(
        docs, _JACCARD, threshold, n, id_col, text_col, block_col, True
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-02 (containment / overlap coefficient) — pairs with
    |A∩B| / min(|A|,|B|) >= threshold over distinct shingle sets.
    Flags near-SUBSET duplicates (quote inclusion, boilerplate
    wrapping) that symmetric Jaccard under-scores: a 100-shingle doc
    fully contained in a 1000-shingle doc has Jaccard 0.1 but
    containment 1.0. Identical inverted-index pair machinery to
    :func:`ngram_jaccard_pairs`; only the final ratio differs.
    """
    return _pair_core(
        docs, _CONTAINMENT, threshold, n, id_col, text_col, None, False
    )


def containment_pairs_prefix(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-02 (containment, prefix-filtered) — the EXACT same pair
    set as :func:`containment_pairs`, with AllPairs-style lossless
    candidate pruning adapted to the overlap coefficient.

    Theorem (one-sided, size-oriented): a qualifying pair needs
    |A∩B| >= t*min(|A|,|B|). Let S be the smaller set; under any
    fixed global shingle order, if S shares nothing within its first
    |S| - floor(t'*|S|) + 1 shingles (t' the round-6-slackened
    threshold), the overlap is at most floor(t'*|S|) - 1 < t'*|S| —
    contradiction. So the candidate index holds each doc's own-size
    prefix (rarest shingles first — hot shingles never enter), probed
    by FULL postings of docs at least as large; candidates are then
    verified exactly against both docs' full postings. Identical
    pair parity vs the inverted form is pinned in
    tests/test_llm_ops.py::test_prefix_containment_identical_pairs.

    Same cost profile (and the same dense-corpus boundary) as
    :func:`tf_cosine_pairs_prefix` / :func:`ngram_jaccard_pairs_prefix`.
    """
    return _pair_core(
        docs, _CONTAINMENT, threshold, n, id_col, text_col, None, True
    )


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 24,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Seeded MinHash signatures as a pure column expression. No
    UDFs, no fitted model to ship — every executor derives the same
    hash family from the seed.

    ``hasher``:
      * ``xxhash64`` (scale default): signature[i] = min over
        shingles of xxhash64(seed, i, shingle).
      * ``md5_32``: Kirsch-Mitzenmacher double hashing over the two
        leading 32-bit words of md5(shingle ':seed') —
        signature[i] = min(h1 + (i+1)*h2). Slower than xxhash64 but
        reproducible in any SQL engine (DuckDB hex-casts the same
        md5 substrings), so signatures AND the banded pair set are
        oracle-checkable bit-for-bit. Values stay < 2^37, safely
        inside BIGINT under ANSI overflow checks.
    """
    # Long form + statically-unrolled hash columns, NOT nested
    # higher-order functions: lambda-variable expressions evaluate
    # interpreted (outside whole-stage codegen), which measured ~10x
    # slower (31s vs 3s at sf0.1). Exploding to (doc, shingle) rows
    # and taking n_hashes codegen'd mins in ONE partial-aggregating
    # shuffle keeps everything in Tungsten.
    exploded = docs.select(
        F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("_s")
    )
    if hasher == "md5_32":
        md5 = F.md5(F.concat(F.col("_s"), F.lit(f":{seed}")))
        exploded = exploded.select(
            F.col(id_col),
            F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("_h1"),
            F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("_h2"),
        )
        hash_i = [
            F.col("_h1") + F.lit(i + 1) * F.col("_h2") for i in range(n_hashes)
        ]
    elif hasher == "xxhash64":
        hash_i = [
            F.xxhash64(F.lit(seed), F.lit(i), F.col("_s"))
            for i in range(n_hashes)
        ]
    else:
        raise ValueError(f"unknown hasher: {hasher}")
    mins = exploded.groupBy(id_col).agg(
        *[F.min(h).alias(f"_h{i}") for i, h in enumerate(hash_i)]
    )
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"_h{i}") for i in range(n_hashes)]).alias("signature"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n_bands: int = 8,
    rows_per_band: int = 3,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    max_bucket: int = 500,
    hasher: str = "xxhash64",
) -> DataFrame:
    """OP-LLM-02 (MinHash-LSH) — approximate Jaccard near-dup pairs,
    banded: signature split into ``n_bands`` bands of
    ``rows_per_band`` hashes; docs agreeing on any whole band are
    candidates; estimated Jaccard = matching-minhash fraction,
    filtered at ``threshold``. (S-curve midpoint ≈ (1/b)^(1/r); the
    8×3 default centers near 0.5.)

    Skew guard — the reason this is hand-rolled rather than MLlib's
    ``MinHashLSH.approxSimilarityJoin``: a corpus with a large
    near-identical cluster puts every member in ONE band bucket, and
    a join on band keys then builds the cluster's quadratic pair
    blowup in a single task (observed: 5k docs -> one 20-minute
    single-threaded task). Buckets larger than ``max_bucket`` are
    dropped with their size surfaced in a warning; clusters that big
    are exact-dup-shaped and belong to the hash-groupBy pass
    (OP-LLM-01), not pairwise LSH.
    """
    sigs = minhash_signatures(
        docs, n_bands * rows_per_band, shingle_n, id_col, text_col, seed, hasher
    ).persist()

    # Band key: xxhash64 of the band slice on the scale path (fixed
    # 8-byte shuffle key); the raw slice itself on the md5 path so
    # the SQL oracle can reproduce the bucketing without xxhash64.
    def band_key(b: F.Column) -> F.Column:
        sl = F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
        return F.xxhash64(sl) if hasher == "xxhash64" else sl

    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"), band_key(b).alias("band_hash")
                ),
            )
        ).alias("_b"),
    ).select(id_col, "_b.band_id", "_b.band_hash")

    # Bucketize, cap, and emit pairs WITHIN a row (so a hot bucket
    # never concentrates a join task), then repartition the pairs.
    buckets = bands.groupBy("band_id", "band_hash").agg(
        F.sort_array(F.collect_set(id_col)).alias("_members")
    )
    capped = buckets.filter(
        (F.size("_members") >= 2) & (F.size("_members") <= max_bucket)
    )
    pairs = (
        capped.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("_members"),
                            lambda a: F.transform(
                                F.col("_members"),
                                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                            ),
                        )
                    ),
                    lambda p: p["id_a"] < p["id_b"],
                )
            ).alias("_p")
        )
        .select("_p.id_a", "_p.id_b")
        .distinct()
    )

    a = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("_sa"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("_sb"))
    est = F.aggregate(
        F.zip_with(
            F.col("_sa"), F.col("_sb"), lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(n_bands * rows_per_band))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_est", F.round(est, 6))
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def simhash_signatures(
    docs: DataFrame,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
) -> DataFrame:
    """OP-LLM-02 (SimHash) — per-doc bit-majority signature over
    token hashes: explode tokens, hash, per-bit ±1 sums, pack.
    One shuffle (the groupBy); the 32 bit-sums are one aggregate row.
    32 bits dodges BIGINT sign wrangling; collisions only shortlist
    candidates, a verify pass decides.

    ``hasher``: ``xxhash64`` (JVM-native, the scale default) or
    ``md5_32`` (leading 32 bits of md5 — slower, but reproducible in
    any SQL engine, so signatures are oracle-checkable)."""
    if hasher == "md5_32":
        h = F.conv(F.substring(F.md5(F.col("_t")), 1, 8), 16, 10).cast("long")
    elif hasher == "xxhash64":
        h = F.xxhash64("_t")
    else:
        raise ValueError(f"unknown hasher: {hasher}")
    tok = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("_t")
    ).withColumn("_h", h)
    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"_b{i}")
            for i in range(bits)
        ]
    )
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"_b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return bit_sums.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_dup_groups(
    docs: DataFrame,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
) -> DataFrame:
    """SimHash-identical groups (hamming-0 candidates). Near-hamming
    pairs are :func:`simhash_neardup_pairs`."""
    sigs = simhash_signatures(docs, bits, id_col, text_col, hasher)
    return sigs.groupBy("simhash").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n")
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
) -> DataFrame:
    """OP-LLM-02 (SimHash near-dup) — pairs with hamming(sig_a,
    sig_b) <= ``max_hamming``, banded so no all-pairs join ever
    forms.

    Pigeonhole recall guarantee: the signature splits into
    ``n_bands`` equal bit-bands; two signatures within hamming
    distance d < n_bands must agree EXACTLY on at least one band, so
    a candidate join on (band_id, band_value) has 100% recall for
    d <= n_bands - 1 (the default 4 bands / hamming 3 is exact, not
    approximate). Verification is one codegen expression —
    ``bit_count(a XOR b)`` — per candidate pair. Everything shuffles
    on band values (bounded fan-out) and the verify join is by doc
    id; at 100 TB the candidate stage is the same shape as the
    MinHash band join, with the same hot-bucket cap available if a
    degenerate corpus needs it.
    """
    if bits % n_bands:
        raise ValueError("bits must divide evenly into n_bands")
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    sigs = simhash_signatures(docs, bits, id_col, text_col, hasher)

    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_id"),
                        F.shiftright(F.col("simhash"), k * band_width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for k in range(n_bands)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "_b.band_id", "_b.band_val")

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )

    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_sa"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_sb"))
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("long")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def duplicate_ngram_spans(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-02 (duplicated n-gram spans) — token-level
    exact-substring dedup signal, the "repeated n-gram" family from
    training-data curation (cf. Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for every document,
    how much of it is covered by token ``n``-grams that also occur in
    at least one OTHER document.

    Returns one row per document:
    (doc_id, n_tokens, n_dup_ngrams, n_dup_tokens, dup_token_ratio).

    Plan shape (three shuffles, all on well-spread keys):
      1. row-local positional n-grams via one posexplode of
         ``text.token_ngrams`` (no self-join to build grams);
      2. cross-document duplication flag via min/max(doc_id) window
         over the gram — ONE shuffle on the gram string, no distinct
         count, no second scan of the postings;
      3. per-doc union-of-intervals sweep: max(end) over preceding
         rows (shuffle on doc_id), then the per-doc groupBy reuses
         that partitioning (no extra shuffle).
    At 100 TB the gram-window shuffle dominates; hot grams (stock
    phrases) are bounded because the window only reduces to two
    BIGINTs per gram, and AQE skew-split handles residual imbalance.
    A fixed-width variant would shuffle xxhash64(gram) instead of the
    string — kept exact here so the SQL oracle replays it verbatim.
    """
    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    grams = _positional_ngrams(docs, n, id_col, text_col)

    wg = Window.partitionBy("gram")
    dup = (
        grams.withColumn("_mn", F.min(id_col).over(wg))
        .withColumn("_mx", F.max(id_col).over(wg))
        .filter(F.col("_mn") != F.col("_mx"))
        .select(id_col, "pos", (F.col("pos") + (n - 1)).alias("_end"))
    )

    ws = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = dup.withColumn("_prev_end", F.max("_end").over(ws)).withColumn(
        "_covered",
        F.greatest(
            F.lit(0).cast("long"),
            F.col("_end")
            - F.greatest(
                F.col("pos") - 1, F.coalesce(F.col("_prev_end"), F.col("pos") - 1)
            ),
        ),
    )
    per_doc = swept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_ngrams"),
        F.sum("_covered").alias("n_dup_tokens"),
    )

    return (
        base.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.coalesce("n_dup_ngrams", F.lit(0)).cast("long").alias("n_dup_ngrams"),
            F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
            F.round(
                F.coalesce("n_dup_tokens", F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_token_ratio"),
        )
    )


def tf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-02 (TF cosine, inverted-index form): doc-doc cosine
    over sparse term-frequency vectors — the embedding-free IR
    similarity. The dot product only materializes for pairs SHARING a
    term (inverted-index self-join on the tf postings of the shared
    :func:`_pair_core`); each posting carries its doc's L2 norm, so no
    norm table joins back. Integer tf products keep the dot exact, so
    only the final ratio needs rounding.

    Cost is sum over terms of df(term)^2 — on a small-vocabulary or
    boilerplate-heavy corpus every posting is hot and the join fans
    out quadratically (observed: GC death at 5k docs x 31-term vocab
    on a default-heap session). :func:`tf_cosine_pairs_prefix` is the
    lossless hot-vocabulary form."""
    return _pair_core(
        docs, _COSINE, threshold, 0, id_col, text_col, None, False
    )


def tf_cosine_pairs_prefix(
    docs: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-02 (TF cosine, L2-prefix-filtered) — the EXACT same
    pair set as :func:`tf_cosine_pairs`, computed with the AllPairs
    L2 prefix filter (Bayardo/Ma/Srikant, WWW'07 — cosine is the
    paper's original domain) instead of a full inverted-index
    self-join.

    Theorem: unit-normalize each tf vector and fix ONE global term
    order (ascending document frequency here — rarest first, so hot
    postings land in the suffix and never enter the index). For a doc
    a, let s_a(i) = sqrt(sum of squared weights from position i on),
    and let a's prefix = {positions i with s_a(i) >= t}. Take the
    FIRST shared term w of a qualifying pair in the global order:
    every shared term sits at or after w in both docs' suffix sets,
    so by Cauchy-Schwarz cos(a,b) <= s_a(w) * s_b(w). If w were
    outside a's prefix then s_a(w) < t and (since s_b <= 1)
    cos < t — contradiction; symmetrically for b. Hence the first
    shared term of every qualifying pair lies in BOTH prefixes, and
    the prefix x prefix self-join has recall 1.0 (the one-sided
    prefix x full-postings probe is also lossless but its candidate
    volume carries each term's FULL posting list — measured 486 s ->
    285 s at sf1 on the dense-block boundary corpus, identical 17,770
    pairs; BASELINE.md "two-sided prefix A/B"). The admission
    band of round(cos, 6) >= t is cos >= t - 5e-7, so the prefix
    keeps positions with suffix_sq >= (t - 1e-6)^2 - 1e-9 (the
    squared slack also covers float accumulation in the window sum;
    s_a(w), s_b(w) >= cos >= t - 5e-7 > t - 1e-6 keeps w inside both
    slackened prefixes).

    Identical-pair parity vs the inverted form is pinned in
    tests/test_llm_ops.py::test_prefix_tf_cosine_identical_pairs
    (sf0.001 corpus + a hot-vocabulary fixture); the same oracle SQL
    drives both registered queries.

    Scale posture: candidate volume is sum over terms of
    |prefix postings| * |full postings| — at threshold 0.9 a prefix
    only holds the rarest ~19% of each vector's squared mass, so on
    Zipf-vocabulary text the hot terms contribute nothing to the
    index side and candidates stay near-linear. Measured A/B
    (BASELINE.md "prefix vs inverted TF-cosine"): on an 8k-doc corpus
    with 10 boilerplate tokens shared by every doc + 20 unique rare
    tokens each, prefix 3.8 s vs inverted 82 s warm (20x), identical
    200-pair output. HONEST BOUNDARY: a corpus whose documents all
    share one tiny vocabulary (the synthetic bench corpus: 31 terms)
    is effectively DENSE rank-31 — nearly every doc pair shares
    prefix terms, candidates stay ~quadratic for ANY lossless sparse
    filter (~5x below the inverted join's fan-out in rows, yet warm
    wall-clock LOSES: 87 s vs 14 s at 5k docs, because the window +
    distinct + verify overhead isn't repaid), and executors need
    memory sized for the pair partial-agg maps either way. For that
    regime the right tool is the sign-LSH blocked embedding path
    (embedding_neardup_pairs with hyperplane buckets), not exact
    sparse cosine; call this form by name."""
    return _pair_core(
        docs, _COSINE, threshold, 0, id_col, text_col, None, True
    )


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-02 (duplicated-span REMOVAL) — the cleaned-corpus twin
    of :func:`duplicate_ngram_spans`: actually CUT the repeated
    substrings out of each document instead of only scoring coverage
    (the "remove all but one occurrence" step of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    Deterministic keep rule: a token range covered by a
    cross-document duplicated ``n``-gram is removed from every
    document EXCEPT the canonical one (the minimum ``id_col`` that
    contains the gram), which keeps its copy — so every duplicated
    span survives exactly once corpus-wide and the rule needs no
    tie-breaking randomness.

    Returns one row per document:
    (doc_id, text_clean, n_tokens, n_removed_tokens).

    Plan shape (the gram-window shuffle dominates, same as the spans
    signal): positional n-grams via one row-local posexplode; ONE
    window shuffle on the gram string reduces each gram to two
    BIGINTs (min/max owner); removal intervals collapse per doc into
    a bounded array (list length <= doc token count); the rebuild is
    a JVM higher-order filter over the token array — no Python, no
    second pass over the grams.

    Token-semantics contract (round-7 edge sweep): NULL-text docs
    have no tokens to clean and are excluded, like every other
    token/shingle operator.
    """
    docs = docs.filter(F.col(text_col).isNotNull())
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col),
        toks.alias("_t"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    grams = _positional_ngrams(docs, n, id_col, text_col)

    wg = Window.partitionBy("gram")
    removal = (
        grams.withColumn("_mn", F.min(id_col).over(wg))
        .withColumn("_mx", F.max(id_col).over(wg))
        .filter(
            (F.col("_mn") != F.col("_mx")) & (F.col(id_col) != F.col("_mn"))
        )
        .select(
            id_col,
            F.col("pos").alias("s"),
            (F.col("pos") + (n - 1)).alias("e"),
        )
    )
    intervals = removal.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("_ivs")
    )

    joined = base.join(intervals, id_col, "left").withColumn(
        "_ivs",
        F.coalesce(
            "_ivs", F.array().cast("array<struct<s:bigint,e:bigint>>")
        ),
    )
    # Rebuild via position-set difference, not a nested exists scan:
    # covered positions flatten to <= n_tokens values, array_except
    # hashes them once, so the row-local cost is O(n_tokens) instead
    # of O(n_tokens * n_intervals) for boilerplate-heavy documents.
    covered = F.array_distinct(
        F.flatten(
            F.transform("_ivs", lambda iv: F.sequence(iv["s"], iv["e"]))
        )
    )
    kept_pos = F.array_sort(
        F.array_except(
            F.sequence(F.lit(1).cast("long"), F.col("n_tokens")), covered
        )
    )
    kept = F.transform(kept_pos, lambda p: F.element_at("_t", p.cast("int")))
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        F.col("n_tokens"),
        (F.col("n_tokens") - F.size(kept)).cast("long").alias(
            "n_removed_tokens"
        ),
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-02 (benchmark decontamination) — flag training documents
    that share any token ``n``-gram with a held-out evaluation set
    (the standard train/test contamination check run before LLM
    training; GPT-3-style n-gram overlap, typically n=8..13).

    Returns one row per training document:
    (doc_id, n_contaminated_ngrams, is_contaminated).

    Plan shape: the eval side reduces to DISTINCT n-grams first —
    at 100 TB the eval set is benchmark-sized (MBs), so its distinct
    gram table broadcasts and the training side is ONE scan + explode
    + broadcast semi-probe + per-doc hash agg; no shuffle ever
    carries the training grams. The broadcast is an explicit hint,
    which Catalyst honors regardless of size, so the eval set must
    fit in driver and executor memory.

    Consumers that only need the CONTAMINATED ids (the curation
    plans' anti-join probe) should call :func:`contamination_hits`
    directly — it is this operator minus the final left join that
    re-attaches zero-hit documents (round 9: that join shuffled the
    whole training id column per run just to produce rows a
    downstream ``filter(is_contaminated)`` dropped again).
    """
    hits = contamination_hits(docs, eval_docs, n, id_col, text_col)
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_contaminated_ngrams", F.lit(0))
            .cast("long")
            .alias("n_contaminated_ngrams"),
            (F.coalesce("n_contaminated_ngrams", F.lit(0)) > 0).alias(
                "is_contaminated"
            ),
        )
    )


def contamination_hits(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The contaminated subset only: (doc_id, n_contaminated_ngrams)
    for every training document sharing >= 1 token n-gram with the
    eval set — :func:`decontaminate` without the zero-hit re-attach
    join (every returned row has a positive count by construction).
    Same plan shape: eval reduces to distinct grams (always
    broadcast), training pays one scan + explode + probe + per-doc
    agg. Grams are :func:`~gexp_ml_dask_spark.llm.text.token_ngrams`.

    Precondition: ``id_col`` is unique in ``docs``. The result has one
    row per contaminated id, with the hits of every row sharing that
    id summed; ``decontaminate(...).filter("is_contaminated")`` keeps
    one row per input row, so the two agree only on unique ids (true
    after ``exact_dedup``)."""
    eval_grams = eval_docs.select(
        F.explode(token_ngrams(text_col, n)).alias("gram")
    ).distinct()
    return (
        docs.select(
            F.col(id_col), F.explode(token_ngrams(text_col, n)).alias("gram")
        )
        .join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    method: str = "lsh",
    n_planes: int = 4,
    n_tables: int = 2,
    dim: int = 64,
    seed: int = 42,
    family: str = "xxhash64",
) -> DataFrame:
    """OP-LLM-02 (embedding cosine) — semantic near-dup pairs with
    rounded cosine >= threshold.

    Methods (the scale-safe one is the DEFAULT; brute is opt-in):

    * ``method='lsh'`` (default): sign-LSH blocking — each vector is
      bucketed by ``n_tables`` independent seeded hyperplane families
      (see :func:`~gexp_ml_dask_spark.llm.similarity.hyperplane_buckets`);
      pairs colliding in ANY table are candidates (union, dedup BEFORE
      the cosine kernel), then verified with the exact cosine. The
      candidate join is an EQUI-join on the bucket id — a hash join,
      never a nested-loop — so the pair space is bucket-bound at
      100 TB. Recall is the standard OR-of-tables S-curve
      (1 - (1 - p^n_planes)^n_tables for per-plane agreement p);
      raise ``n_tables`` / lower ``n_planes`` to trade cost for
      recall. ``family='md5'`` makes the buckets plan-literal and
      SQL-reproducible (value-oracled in op_llm_02_embedding_neardup_lsh).
    * ``method='brute'``: the exact all-pairs self-join — its only
      join condition is ``id < id``, which plans as a nested-loop
      over ALL pairs. Oracle/bench-scale only (this is the exactness
      contract the DuckDB oracle checks); never the default.
    * ``block_col``: caller-supplied blocking key (IVF cell,
      partition key) — equality-joined; overrides ``method``.

    Norms are computed per VECTOR below the join (n sqrt-folds), not
    per pair (n² would triple the interpreted higher-order-function
    work in the pair kernel — measured 63s -> ~20s at 5k vectors);
    dividing the pairwise dot by the two prejoined norms performs
    the identical float ops in the identical order as cosine_expr."""
    from gexp_ml_dask_spark.llm.similarity import (
        dot_expr,
        hyperplane_buckets,
        norm_expr,
        valid_vector_expr,
    )

    sel = [
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ]
    if block_col:
        sel.append(F.col(block_col))
    # Vector-validity gate (similarity.valid_vector_expr contract):
    # the LSH path additionally pins the declared hyperplane dim;
    # brute/blocked paths accept ragged corpora but only score
    # equal-length pairs (condition added below).
    lsh_path = block_col is None and method == "lsh"
    docs = (
        embeddings.select(*sel)
        .filter(valid_vector_expr(F.col("_v"), dim=dim if lsh_path else None))
        .withColumn("_n", norm_expr(F.col("_v")))
    )

    if block_col is None and method == "lsh":
        cand = None
        for t in range(n_tables):
            bt = hyperplane_buckets(
                docs.select(id_col, "_v"),
                n_planes,
                dim,
                "_v",
                seed + t,
                out_col="_bucket",
                family=family,
            ).select(id_col, "_bucket")
            a, b = bt.alias("a"), bt.alias("b")
            pairs_t = a.join(
                b,
                (F.col("a._bucket") == F.col("b._bucket"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            ).select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            cand = pairs_t if cand is None else cand.unionByName(pairs_t)
        cand = cand.distinct()
        va = docs.select(
            F.col(id_col).alias("id_a"),
            F.col("_v").alias("_va"),
            F.col("_n").alias("_na"),
        )
        vb = docs.select(
            F.col(id_col).alias("id_b"),
            F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"),
        )
        cosine = F.try_divide(
            dot_expr(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")
        )
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select("id_a", "id_b", F.round(cosine, 6).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
    if block_col is None and method != "brute":
        raise ValueError(f"unknown embedding neardup method: {method}")

    a, b = docs.alias("a"), docs.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.size(F.col("a._v")) == F.size(F.col("b._v"))
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cosine = F.try_divide(
        dot_expr(F.col("a._v"), F.col("b._v")),
        F.col("a._n") * F.col("b._n"),
    )
    pairs = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(cosine, 6).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)
